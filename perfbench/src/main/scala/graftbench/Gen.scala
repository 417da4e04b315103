package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded synthetic inputs. Everything the engine sees is derived from
  * (seed, sizes) here, so one seed always yields byte-identical inputs; the
  * SHA-256 of the generated content is printed with every result.
  *
  *  - vectors: 64-d unit vectors from a Gaussian mixture (centers on the
  *    unit sphere, per-coordinate noise, renormalised);
  *  - docs: 20–120 tokens drawn Zipf(1.1) from a fixed synthetic vocabulary;
  *  - metadata: JSON with `lang`, `source` and `n`;
  *  - text queries: 2–3 distinct terms from vocabulary ranks 50–5,000, so no
  *    query term is a stop-word that matches most of the corpus.
  */
object Gen {
  val Dim = 64
  val VocabSize = 20000
  val Components = 256
  val Noise = 0.06
  val Langs: Array[String] = Array("en", "de", "fr", "es")
  val Sources: Array[String] = Array("web", "news", "wiki", "forum", "code", "mail", "book", "paper")

  /** Rank r (0-based) → a stable, unique, lowercase word. */
  def word(r: Int): String = {
    val sb = new StringBuilder("w")
    var x = r
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.toString
  }
  val vocab: Array[String] = Array.tabulate(VocabSize)(word)

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def zipfRank(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(VocabSize - 1, if (i >= 0) i else -i - 1)
  }

  final case class Doc(id: Long, text: String, vector: Array[Float], lang: String,
                       source: String, n: Int) {
    def metaJson: String = s"""{"lang":"$lang","source":"$source","n":$n}"""
  }

  final class Mixture(seed: Long) {
    private val rng = new SplittableRandom(seed)
    val centers: Array[Array[Double]] = Array.fill(Components)(unit(Array.fill(Dim)(gauss(rng))))
    def sample(r: SplittableRandom): Array[Float] = {
      val c = centers(r.nextInt(Components))
      unit(Array.tabulate(Dim)(i => c(i) + Noise * gauss(r))).map(_.toFloat)
    }
    /** A vector near `v`: the same point moved by a small perturbation. */
    def near(v: Array[Float], r: SplittableRandom): Array[Float] =
      unit(Array.tabulate(Dim)(i => v(i) + 0.01 * gauss(r))).map(_.toFloat)
  }

  def gauss(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian on JDK 17's API level
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def text(r: SplittableRandom): String = {
    val len = 20 + r.nextInt(101)
    Array.fill(len)(vocab(zipfRank(r))).mkString(" ")
  }

  def doc(id: Long, mix: Mixture, r: SplittableRandom): Doc =
    Doc(id, text(r), mix.sample(r), Langs(r.nextInt(Langs.length)),
      Sources(r.nextInt(Sources.length)), r.nextInt(100))

  /** `n` docs with ids `firstId` until `firstId + n`. */
  def docs(seed: Long, stream: Long, firstId: Long, n: Int, mix: Mixture): Array[Doc] = {
    val r = new SplittableRandom(seed * 1000003L + stream)
    Array.tabulate(n)(i => doc(firstId + i, mix, r))
  }

  /** A near-duplicate of `d` under a new id: ~5 % of its tokens replaced,
    * its vector moved slightly, its metadata kept. */
  def nearDup(d: Doc, id: Long, mix: Mixture, r: SplittableRandom): Doc = {
    val toks = d.text.split(' ')
    val out = toks.map(t => if (r.nextDouble() < 0.05) vocab(zipfRank(r)) else t)
    d.copy(id = id, text = out.mkString(" "), vector = mix.near(d.vector, r))
  }

  def textQuery(r: SplittableRandom): String = {
    val k = 2 + r.nextInt(2)
    val terms = scala.collection.mutable.LinkedHashSet.empty[String]
    while (terms.size < k) terms += vocab(50 + r.nextInt(4951))
    terms.mkString(" ")
  }

  /** Order-sensitive digest of everything generated. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(4 * Dim)
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def add(v: Array[Float]): Unit = {
      buf.clear(); v.foreach(buf.putFloat); md.update(buf.array(), 0, 4 * v.length)
    }
    def add(d: Doc): Unit = { add(d.id.toString); add(d.text); add(d.vector); add(d.metaJson) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
