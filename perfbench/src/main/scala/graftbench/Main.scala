package graftbench

import java.io.File
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point, launched by run.py:
  * {{{ Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --scratch <dir> }}}
  * Prints human-readable lines, then one JSON object as the last line. */
object Main {
  /** End-to-end metrics, every one reported by every workload. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "cycle_s", "recall_at_10", "cache_mb", "success_rate")

  /** Per-layer metrics of the traced run, every one reported by every workload. */
  val PerLayer: Seq[String] = Seq(
    "plan.ms", "plan.executions",
    "jobs.count", "jobs.stages", "jobs.tasks", "jobs.driver_gap_ms",
    "tasks.executor_run_s", "tasks.executor_cpu_s", "tasks.scheduler_delay_ms", "tasks.busy_share",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "spill.mb",
    "mem.peak_exec_mb", "mem.retained_heap_mb",
    "gc.s", "gc.count",
    "facade.addbulk_s", "facade.first_vector_s", "facade.first_text_s",
    "facade.call_ms", "facade.collect_ms", "facade.save_s", "facade.load_s", "facade.stored_mb",
    "facade.space_ratio",
    "dedup.minhash_s", "dedup.simhash_s", "dedup.cc_s", "dedup.verified_pairs",
    "dedup.components", "dedup.recall",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.wal_ms", "stream.plan_ms",
    "stream.commit_ms", "stream.batches",
    "bench.session_s", "bench.gen_s", "bench.oracle_s", "bench.trace_overhead")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("scratch"), m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    require(Workloads.sizes.contains(opts.workload), s"unknown workload ${opts.workload}")
    val scratch = new File(opts.scratch)
    val t0 = System.nanoTime
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[${opts.cores}]")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(scratch, "checkpoints").getPath)
      // the status store keeps job, stage and query records for a UI that
      // is off; a short history keeps them out of mem.retained_heap_mb
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, opts.trace)
    val r = new Run(spark, opts, tracer)
    r.l("bench.session_s", (System.nanoTime - t0) / 1e9, "s")
    r.say(f"session started in ${(System.nanoTime - t0) / 1e9}%.2f s")
    try Workloads.run(r)
    catch {
      case NonFatal(e) =>
        r.failed += 1; r.attempted += 1
        r.wrong += s"workload aborted: $e"
        e.printStackTrace()
    }
    finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      tracer.detach()
    }
    r.say(f"workload done ${(System.currentTimeMillis - r.jvmStartMs) / 1000.0}%.1f s after JVM start")
    if (opts.trace) Layers.report(r)
    // a call can fail more than one check, so failures may outnumber calls
    r.e("success_rate", math.max(0.0, 1.0 - r.failed.toDouble / math.max(1, r.attempted)), "ratio")
    spark.stop()
    r.say(f"session stopped ${(System.currentTimeMillis - r.jvmStartMs) / 1000.0}%.1f s after JVM start")
    print(r, if (opts.trace) PerLayer else EndToEnd, if (opts.trace) r.layer else r.e2e)
  }

  private def print(r: Run, names: Seq[String],
                    from: collection.Map[String, (Double, String)]): Unit = {
    r.callMs.foreach { case (op, xs) =>
      val (tn, tv) = Run.tail(xs.toSeq)
      r.say(f"op $op%-20s n=${xs.size}%4d p50=${Run.median(xs.toSeq)}%10.1f ms $tn=$tv%10.1f ms")
    }
    r.wrong.foreach(w => r.say(s"WRONG $w"))
    r.info.foreach(s => println("# " + s))
    val missing = names.filterNot(from.contains)
    missing.foreach(n => println(s"# metric $n was not measured"))
    val metrics = names.filter(from.contains).map { n =>
      val (v, u) = from(n)
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }
    val correct = r.wrong.isEmpty && missing.isEmpty
    println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
