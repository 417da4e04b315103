package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      scratch: String, cores: Int)

/** State of one benchmark run: the session, the tracer, per-call timings,
  * failure and correctness bookkeeping, and the metrics to print. */
final class Run(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  var attempted = 0
  var failed = 0
  val wrong: ArrayBuffer[String] = ArrayBuffer.empty
  val info: ArrayBuffer[String] = ArrayBuffer.empty
  val e2e: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** Wall ms of every timed call, by entry point. */
  val callMs: mutable.LinkedHashMap[String, ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** True while the timed phase runs: only then are call times recorded. */
  var timing = false

  def say(s: String): Unit = info += s

  /** One call into a public entry point. `eager` is the call itself (work
    * done before it returns), `finish` materialises its result. A thrown
    * exception counts as a failed operation and yields None. */
  def call[A, B](op: String)(eager: => A)(finish: A => B): Option[B] = {
    attempted += 1
    val t0 = System.nanoTime
    try {
      val out = tracer.span("op:" + op) {
        val a = tracer.span("call:" + op)(eager)
        tracer.span("collect:" + op)(finish(a))
      }
      if (timing) callMs.getOrElseUpdate(op, ArrayBuffer.empty) += (System.nanoTime - t0) / 1e6
      Some(out)
    } catch {
      case NonFatal(e) =>
        failed += 1
        say(s"failed $op: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def collect(op: String)(df: => DataFrame): Option[Array[Row]] = call(op)(df)(_.collect())

  /** A correctness check: a false result marks the run incorrect and
    * counts as a failed operation. */
  def check(what: String)(problem: Option[String]): Unit = problem.foreach { p =>
    failed += 1
    wrong += s"$what: $p"
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime
    val a = body
    (a, (System.nanoTime - t0) / 1e9)
  }

  /** Runs whole cycles until `seconds` have passed and at least `minCycles`
    * ran. Returns each cycle's time spent inside timed calls, in ms. */
  def loop(seconds: Double, minCycles: Int, first: Int = 0)(cycle: Int => Unit): Seq[Double] = {
    val out = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime
    var i = first
    timing = true
    while (out.size < minCycles || (System.nanoTime - t0) / 1e9 < seconds) {
      val before = callMs.values.map(_.sum).sum
      cycle(i)
      out += callMs.values.map(_.sum).sum - before
      i += 1
    }
    timing = false
    out.toSeq
  }

  def e(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def l(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)

  /** Heap in use after a full collection. Collections repeat with pauses
    * between them: Spark's cleaner drops the blocks of broadcasts and RDDs
    * only after a collection has found them unreachable. */
  def heapAfterGcMb(): Double = {
    tracer.drain() // pending listener events hold heap until delivered
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
}

object Run {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1))) }

  /** The highest of p50/p90/p99 with at least ten samples above it. */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(0.99 -> "p99", 0.9 -> "p90", 0.5 -> "p50").find { case (p, _) => xs.length * (1 - p) >= 10 }
      .map { case (p, n) => (n, pct(xs, p)) }.getOrElse(("max", if (xs.isEmpty) 0.0 else xs.max))

  val docSchema: StructType = StructType(Seq(
    StructField("ord", LongType, nullable = false),
    StructField("doc", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("meta", StringType, nullable = false)))

  def docRow(d: Gen.Doc): Row = Row(d.id, d.text, d.vector.toIndexedSeq, d.metaJson)

  def frame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(docRow): _*), docSchema)

  /** Bytes of user data: doc text, vector and metadata of every row. */
  def rawBytes(docs: Seq[Gen.Doc]): Long =
    docs.map(d => d.text.getBytes("UTF-8").length + 4L * d.vector.length +
      d.metaJson.getBytes("UTF-8").length).sum

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length
}
