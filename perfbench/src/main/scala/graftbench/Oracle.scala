package graftbench

import scala.collection.mutable

/** Reference answers computed in benchmark code, from the generated inputs
  * alone. Scores follow the engine's documented contracts: vector score
  * 1/(1+‖x−q‖²) ranked (score desc, id asc); BM25Okapi with k1=1.5,
  * b=0.75, epsilon=0.25 over whitespace tokens; hybrid = 0.5·vs/max(vs) +
  * 0.5·ts/max(ts) over the widened vector top-max(10k,100) ∪ text matches,
  * zero scores dropped. */
final class Oracle(docs: Array[Gen.Doc]) {
  type Ranked = Array[(Long, Double)]

  def sqDist(v: Array[Float], q: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { val d = v(i).toDouble - q(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  private val byScore: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)](x => (-x._2, x._1))

  /** Exact top-k by vector score over every doc. */
  def knn(q: Array[Float], k: Int): Ranked = {
    val heap = mutable.PriorityQueue.empty[(Long, Double)](byScore)
    docs.foreach { d =>
      heap += ((d.id, 1.0 / (1.0 + sqDist(d.vector, q))))
      if (heap.size > k) heap.dequeue()
    }
    heap.toArray.sorted(byScore)
  }

  // ---- BM25 over the same corpus ----
  private val k1 = 1.5; private val b = 0.75; private val eps = 0.25
  private val tf: Array[Map[String, Int]] =
    docs.map(_.text.split(' ').groupBy(identity).view.mapValues(_.length).toMap)
  private val dl: Array[Double] = docs.map(_.text.split(' ').length.toDouble)
  private val n = docs.length.toDouble
  private val avgdl = dl.sum / n
  private val postings: Map[String, Array[Int]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuilder[Int]]
    tf.indices.foreach(i => tf(i).keys.foreach(t => m.getOrElseUpdate(t, Array.newBuilder[Int]) += i))
    m.view.mapValues(_.result()).toMap
  }
  private def rawIdf(df: Double): Double = math.log((n - df + 0.5) / (df + 0.5))
  private val avgIdf = postings.values.map(p => rawIdf(p.length)).sum / postings.size
  private def idf(df: Double): Double = { val r = rawIdf(df); if (r < 0) eps * avgIdf else r }

  /** Sparse BM25 scores: docs sharing at least one query term. */
  def bm25(query: String): Map[Long, Double] = {
    val qtf = query.split(' ').filter(_.nonEmpty).groupBy(identity).view.mapValues(_.length.toDouble)
    val acc = mutable.HashMap.empty[Long, Double]
    qtf.foreach { case (t, q) =>
      postings.get(t).foreach { ps =>
        val w = q * idf(ps.length)
        ps.foreach { i =>
          val f = tf(i)(t).toDouble
          val s = w * f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl(i) / avgdl))
          acc(docs(i).id) = acc.getOrElse(docs(i).id, 0.0) + s
        }
      }
    }
    acc.toMap
  }

  /** queryText: dense scores (unmatched docs score 0), top-k. */
  def text(query: String, k: Int): Ranked = {
    val s = bm25(query)
    docs.map(d => (d.id, s.getOrElse(d.id, 0.0))).sorted(byScore).take(k)
  }

  /** hybridSearch on the exact arm, every fused score before the top-k cut. */
  def hybridAll(query: String, q: Array[Float], k: Int): Ranked = {
    val vs = knn(q, math.min(docs.length, math.max(10 * k, 100))).toMap
    val ts = bm25(query)
    val ids = vs.keySet ++ ts.keySet
    val vm = if (vs.isEmpty) 0.0 else vs.values.max
    val tm = if (ts.isEmpty) 0.0 else ts.values.max
    ids.toArray.map { id =>
      val v = vs.getOrElse(id, 0.0); val t = ts.getOrElse(id, 0.0)
      (id, 0.5 * (if (vm > 0) v / vm else v) + 0.5 * (if (tm > 0) t / tm else t))
    }.filter(_._2 > 0).sorted(byScore)
  }
}

object Oracle {
  /** Relative tolerance for score equality: sums of the same terms in
    * another order may differ in the last bits. */
  val Tol = 1e-9

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** `got` equals `want` id for id, except that ids whose scores are equal
    * within [[Tol]] may trade places. `scoreOf` gives the reference score
    * of any id. Returns a description of the first difference. */
  def mismatch(got: Array[(Long, Double)], want: Array[(Long, Double)],
               scoreOf: Long => Option[Double]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} results, expected ${want.length}")
    else if (got.map(_._1).distinct.length != got.length) Some("duplicate ids")
    else got.indices.collectFirst {
      case i if !scoreOf(got(i)._1).exists(s => close(s, want(i)._2) && close(got(i)._2, s)) =>
        s"rank $i: got id ${got(i)._1} score ${got(i)._2}, expected id ${want(i)._1} score ${want(i)._2}"
    }

  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size
}
