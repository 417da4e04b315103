package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.VectorDatabase
import graft.dedup.Dedup
import graft.streaming.EventStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The workloads. Each is a closed loop with one client thread: set-up
  * (generate, build, one warm-up call of every op type), then whole cycles
  * of a fixed call schedule until the run time has passed, then the
  * correctness checks (and, in a traced run, a save + load). */
object Workloads {
  val K = 10

  /** docs: collection size at set-up; queries: batch size; batchDocs:
    * docs per ingest micro-batch; clusters: IVF clusters of the ivfpq
    * collection; minCycles: cycles that always run. */
  final case class Sizes(docs: Int, queries: Int = 0, batchDocs: Int = 0, clusters: Int = 0,
                         minCycles: Int)
  val sizes: Map[String, Sizes] = Map(
    "interactive" -> Sizes(docs = 500, minCycles = 2),
    "batch" -> Sizes(docs = 1200, queries = 50, batchDocs = 50, clusters = 32, minCycles = 1))

  def run(r: Run): Unit = r.opts.workload match {
    case "interactive" => interactive(r)
    case "batch" => batch(r)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ---- shared pieces ----

  private def generate(r: Run, n: Int): (Gen.Mixture, Array[Gen.Doc]) = {
    val ((mix, docs), s) = r.timed {
      val mix = new Gen.Mixture(r.opts.seed)
      (mix, Gen.docs(r.opts.seed, 0, 0, n, mix))
    }
    r.l("bench.gen_s", s, "s")
    (mix, docs)
  }

  private def scored(rows: Array[Row], from: Int = 0): Array[(Long, Double)] =
    rows.map(x => (x.getLong(from), x.getDouble(from + 1)))

  private def shuffle[A](xs: Array[A], rr: SplittableRandom): Array[A] = {
    for (j <- xs.indices.reverse) { val k = rr.nextInt(j + 1); val t = xs(j); xs(j) = xs(k); xs(k) = t }
    xs
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** End of set-up: heap and cache figures; the timed phase starts next. */
  private def endSetup(r: Run, addS: Double, firstVector: Double, firstText: Double): Unit = {
    r.l("facade.addbulk_s", addS, "s")
    r.l("facade.first_vector_s", firstVector, "s")
    r.l("facade.first_text_s", firstText, "s")
    r.e("setup_s", (System.currentTimeMillis - r.jvmStartMs) / 1000.0, "s")
    r.e("cache_mb", r.storageMb(), "MB")
    if (r.opts.trace) r.l("mem.retained_heap_mb", r.heapAfterGcMb(), "MB")
  }

  /** The timed phase. Every op type is called once per cycle; cycle_s is
    * the sum over op types of each type's median latency, so one slow call
    * moves it less than a cycle total would. A traced run alternates
    * untraced and traced cycles, `minCycles` of each, and reports the ratio
    * of the two sums as the trace overhead. */
  private def timedPhase(r: Run, minCycles: Int)(cycle: Int => Unit): Unit = {
    def perCycle(ms: collection.Map[String, ArrayBuffer[Double]]) = ms.values.map(xs => Run.median(xs.toSeq)).sum
    if (!r.opts.trace) {
      val cs = r.loop(r.opts.seconds, minCycles)(cycle)
      r.say(f"cycles ${cs.size}: " + cs.map(c => f"${c / 1000}%.3f").mkString(" ") + " s")
      r.e("cycle_s", perCycle(r.callMs) / 1000, "s")
    } else {
      val plain = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      val traced = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      for (c <- 0 until 2 * minCycles) {
        val on = c % 2 == 1
        if (on) r.tracer.attach() else r.tracer.detach()
        r.callMs.clear()
        r.loop(0, 1, c)(cycle)
        r.callMs.foreach { case (op, xs) => (if (on) traced else plain).getOrElseUpdate(op, ArrayBuffer.empty) ++= xs }
      }
      r.tracer.detach()
      r.callMs.clear(); r.callMs ++= traced
      r.l("bench.trace_overhead", perCycle(traced) / perCycle(plain), "ratio")
    }
  }

  /** save + load of the collection, in the traced run only (it does not
    * fit the untraced run's time); reports the time and the space. */
  private def persist(r: Run, db: VectorDatabase, rawBytes: Long): Option[VectorDatabase] =
    if (!r.opts.trace) None
    else {
      val dir = new File(r.opts.scratch, "saved")
      val (_, saveS) = r.timed(r.call("save")(db.save(dir.getPath))(identity))
      val stored = Run.dirBytes(dir)
      val (loaded, loadS) = r.timed(r.call("load")(VectorDatabase.load(r.spark, dir.getPath))(identity))
      r.l("facade.save_s", saveS, "s")
      r.l("facade.load_s", loadS, "s")
      r.l("facade.stored_mb", stored / 1048576.0, "MB")
      r.l("facade.space_ratio", stored.toDouble / rawBytes, "ratio")
      loaded
    }

  /** The loaded collection must answer for its last row. */
  private def queryLoaded(r: Run, loaded: Option[VectorDatabase], last: Gen.Doc): Unit =
    loaded.foreach { db =>
      r.collect("queryVector")(db.queryVector(last.vector, K)).foreach { rows =>
        r.check("query after load")(
          if (rows.headOption.exists(_.getLong(0) == last.id)) None else Some("own id not first"))
      }
    }

  // ---- interactive ----

  /** Single-caller library use of an hnsw collection with reference
    * defaults: a cycle is one call each of queryVector, queryText,
    * hybridSearch, queryMetadata and getDocument, in a seeded order, every
    * result collected. No bulk kernels, no dedup, no writes. */
  def interactive(r: Run): Unit = {
    val sz = sizes("interactive")
    val (mix, docs) = generate(r, sz.docs)
    def qvec(i: Int) = mix.sample(new SplittableRandom(r.opts.seed * 31 + i))
    def qtext(i: Int) = Gen.textQuery(new SplittableRandom(r.opts.seed * 37 + i))
    val digest = new Gen.Digest; docs.foreach(digest.add)
    (0 until sz.minCycles).foreach { i => digest.add(qvec(i)); digest.add(qtext(i)) }
    r.say(s"input digest ${digest.hex}")

    val db = VectorDatabase.create(r.spark, Gen.Dim)
    val (_, addS) = r.timed(r.call("addBulk")(
      db.addBulk(Run.frame(r.spark, docs.toSeq), "doc", "vector", Some("meta"), "ord"))(identity))
    val (_, fv) = r.timed(r.collect("queryVector")(db.queryVector(qvec(-1), K)))
    val (_, ft) = r.timed(r.collect("queryText")(db.queryText(qtext(-1), K)))
    val knn = ArrayBuffer.empty[(Int, Array[Long])]
    val texts = ArrayBuffer.empty[(Int, Array[(Long, Double)])]
    val ops = Array("knn", "text", "hybrid", "meta", "get")
    def cycle(i: Int): Unit = {
      val rr = new SplittableRandom(r.opts.seed * 41 + i)
      // the warm-up skips the two op types set-up has just called
      shuffle(ops.clone(), rr).filterNot(op => i < 0 && (op == "knn" || op == "text")).foreach {
        case "knn" => r.collect("queryVector")(db.queryVector(qvec(i), K))
          .foreach(rows => knn += ((i, rows.map(_.getLong(0)))))
        case "text" => r.collect("queryText")(db.queryText(qtext(i), K))
          .foreach(rows => texts += ((i, scored(rows))))
        case "hybrid" =>
          r.collect("hybridSearch")(db.hybridSearch(qtext(i + 100000), qvec(i + 100000), K))
        case "meta" =>
          val lang = Gen.Langs(rr.nextInt(Gen.Langs.length))
          val src = Gen.Sources(rr.nextInt(Gen.Sources.length))
          r.collect("queryMetadata")(db.queryMetadata(Map("lang" -> lang, "source" -> src))).foreach { rows =>
            val want = docs.filter(d => d.lang == lang && d.source == src).map(_.id).toSeq
            r.check(s"queryMetadata $lang/$src")(
              if (rows.map(_.getLong(0)).toSeq == want) None
              else Some(s"${rows.length} ids, expected ${want.size}"))
          }
        case "get" =>
          val id = rr.nextInt(docs.length)
          r.call("getDocument")(db.getDocument(id.toLong))(identity).foreach { got =>
            r.check(s"getDocument $id")(if (got.contains(docs(id).text)) None else Some("wrong text"))
          }
      }
    }
    cycle(-1) // warm-up: the first call of the other op types
    knn.clear(); texts.clear()
    endSetup(r, addS, fv, ft)

    timedPhase(r, sz.minCycles)(cycle)
    val (_, oracleS) = r.timed {
      val oracle = new Oracle(docs)
      r.e("recall_at_10", mean(knn.filter(_._1 < sz.minCycles).toSeq.map { case (i, got) =>
        Oracle.recall(got.toSeq, oracle.knn(qvec(i), K).map(_._1).toSeq) }), "ratio")
      texts.foreach { case (i, got) =>
        val q = qtext(i); val s = oracle.bm25(q)
        r.check(s"queryText '$q'")(Oracle.mismatch(got, oracle.text(q, K), id => Some(s.getOrElse(id, 0.0))))
      }
    }
    r.l("bench.oracle_s", oracleS, "s")
    queryLoaded(r, persist(r, db, Run.rawBytes(docs.toSeq)), docs.last)
  }

  // ---- batch ----

  /** The Spark-native bulk use of an ivfpq collection holding ~2 % planted
    * near-duplicates. A cycle: one micro-batch of docs through an
    * ingestInto stream; hybridSearchBatch on the ADC arm; the same batch
    * after setEf(1000), the exact arm, plus a query for a just-added doc;
    * minhashPairs + simhashPairs + connectedComponents over
    * the docs at set-up. */
  def batch(r: Run): Unit = {
    val sz = sizes("batch")
    val planted = sz.docs / 50
    val (mix, base) = generate(r, sz.docs - planted)
    val pr = new SplittableRandom(r.opts.seed * 43)
    val pairs = (0 until planted).map { j =>
      val orig = base(pr.nextInt(base.length))
      (orig.id, Gen.nearDup(orig, base.length + j, mix, pr))
    }
    val docs = base ++ pairs.map(_._2)
    def batchDocs(b: Int) = Gen.docs(r.opts.seed, 1 + b, sz.docs + b.toLong * sz.batchDocs, sz.batchDocs, mix)
    val qr = new SplittableRandom(r.opts.seed * 47)
    val queries = Array.tabulate(sz.queries)(i => (i.toLong, Gen.textQuery(qr), mix.sample(qr)))
    val digest = new Gen.Digest; docs.foreach(digest.add)
    queries.foreach { case (_, t, v) => digest.add(t); digest.add(v) }
    (0 to sz.minCycles).foreach(b => batchDocs(b).foreach(digest.add))
    r.say(s"input digest ${digest.hex}")

    val spark = r.spark
    val db = VectorDatabase.create(spark, Gen.Dim, "ivfpq", ivfClusters = sz.clusters, pqCodeSize = 16)
    val (_, addS) = r.timed(r.call("addBulk")(
      db.addBulk(Run.frame(spark, docs.toSeq), "doc", "vector", Some("meta"), "ord"))(identity))
    val (_, ft) = r.timed(r.collect("queryText")(db.queryText(queries(0)._2, K)))
    type Query = (Long, String, Array[Float])
    type Batch = Map[Long, Array[(Long, Double)]]
    def frame(qs: Seq[Query]) = spark.createDataFrame(java.util.Arrays.asList(qs.map { case (i, t, v) =>
      Row(i, t, v.toIndexedSeq) }: _*), StructType(Seq(
      StructField("qid", LongType, nullable = false), StructField("text", StringType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    def search(op: String, qs: Seq[Query]): Option[Batch] =
      r.collect(op)(db.hybridSearchBatch(frame(qs), "qid", "text", "vec", K))
        .map(_.groupBy(_.getLong(0)).map { case (q, rows) => q -> scored(rows, 1) })
    def exactSearch(qs: Seq[Query]): Option[Batch] = {
      db.setEf(1000) // efSearch >= 10 x ivfClusters: the exact arm
      try search("hybridSearchBatch.exact", qs) finally db.setEf(50)
    }
    val (_, fv) = r.timed(search("hybridSearchBatch", queries.toSeq))

    val docDir = new File(r.opts.scratch, "docs-in"); docDir.mkdirs()
    val ingestQ = EventStream.ingestInto(db, spark.readStream.schema(Run.docSchema).parquet(docDir.getPath),
      "doc", "vector", Some("meta"), "ord", "ingest")
    val all = ArrayBuffer[Gen.Doc](docs: _*)
    val corpus = Run.frame(spark, docs.toSeq).select(col("ord").as("id"), col("doc")).cache()
    // results with the collection size they were computed over
    val adc = ArrayBuffer.empty[(Int, Batch)]
    val exact = ArrayBuffer.empty[(Int, Seq[Query], Batch)]
    var dedupFound: Option[(Array[(Long, Long)], Long)] = None
    var batchNo = 0
    def cycle(i: Int): Unit = {
      val fresh = batchDocs(batchNo); batchNo += 1
      drop(r, fresh.map(Run.docRow).toSeq, Run.docSchema, docDir, s"docs-$i")
      r.call("ingestInto")(ingestQ.processAllAvailable())(identity)
      all ++= fresh
      val n = all.size
      if (i >= 0) search("hybridSearchBatch", queries.toSeq).foreach(b => adc += ((n, b)))
      // the exact batch also carries a vector-only query for a just-added
      // doc (qid -1), which must return that doc first
      val qs = queries.toSeq :+ ((-1L, "", fresh.last.vector))
      exactSearch(qs).foreach { b =>
        exact += ((n, qs, b))
        r.check(s"fresh query for id ${fresh.last.id}")(
          if (b.get(-1L).flatMap(_.headOption).exists(_._1 == fresh.last.id)) None
          else Some(s"first id ${b.get(-1L).flatMap(_.headOption).map(_._1)}"))
      }
      val (mp, ms) = r.timed(r.collect("minhashPairs")(Dedup.minhashPairs(corpus, "id", "doc")))
      val (sp, ss) = r.timed(r.collect("simhashPairs")(Dedup.simhashPairs(corpus, "id", "doc")))
      val found = (mp.toSeq.flatten ++ sp.toSeq.flatten).map(x => (x.getLong(0), x.getLong(1))).distinct.toArray
      import spark.implicits._
      val (cc, cs) = r.timed(r.collect("connectedComponents")(
        Dedup.connectedComponents(found.toSeq.toDF("a", "b"))))
      r.l("dedup.minhash_s", ms, "s"); r.l("dedup.simhash_s", ss, "s"); r.l("dedup.cc_s", cs, "s")
      cc.foreach(rows => dedupFound = Some((found, rows.map(_.get(1)).distinct.length.toLong)))
    }
    cycle(-1) // warm-up: the first call of the other op types
    endSetup(r, addS, fv, ft)

    timedPhase(r, sz.minCycles)(cycle)

    val (_, oracleS) = r.timed {
      val oracles = (adc.map(_._1) ++ exact.map(_._1)).distinct.map(n => n -> new Oracle(all.take(n).toArray)).toMap
      r.e("recall_at_10", mean(adc.take(sz.minCycles).toSeq.flatMap { case (n, got) =>
        queries.toSeq.map { case (q, t, v) =>
          Oracle.recall(got.getOrElse(q, Array.empty).map(_._1).toSeq,
            oracles(n).hybridAll(t, v, K).take(K).map(_._1).toSeq) } }), "ratio")
      exact.foreach { case (n, qs, got) =>
        val bad = qs.flatMap { case (q, t, v) =>
          val full = oracles(n).hybridAll(t, v, K)
          Oracle.mismatch(got.getOrElse(q, Array.empty), full.take(K), full.toMap.get).map(m => s"q$q $m") }
        r.check(s"exact hybridSearchBatch over $n docs")(
          bad.headOption.map(m => s"${bad.size} of ${qs.size} queries differ, first: $m"))
      }
      dedupFound.foreach { case (found, comps) =>
        val set = found.toSet
        val hit = pairs.count { case (a, d) => set((math.min(a, d.id), math.max(a, d.id))) }
        r.l("dedup.recall", hit.toDouble / pairs.size, "ratio")
        r.l("dedup.verified_pairs", found.length, "count")
        r.l("dedup.components", comps, "count")
        r.say(s"dedup: $hit of ${pairs.size} planted pairs found, ${found.length} pairs, $comps components")
      }
    }
    r.l("bench.oracle_s", oracleS, "s")
    if (r.opts.trace) streamLayers(r)
    ingestQ.stop()
    queryLoaded(r, persist(r, db, Run.rawBytes(all.toSeq)), all.last)
  }

  // ---- streams ----

  /** Writes rows as one parquet file and moves it into `dir` atomically, as
    * a producer hands a finished file to a file-source stream. */
  private def drop(r: Run, rows: Seq[Row], schema: StructType, dir: File, name: String): Unit = {
    val stage = new File(r.opts.scratch, s"stage-$name")
    r.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .write.parquet(stage.getPath)
    val part = stage.listFiles.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-micro-batch split of the traced cycles, from the streams' own
    * progress reports. */
  private def streamLayers(r: Run): Unit = {
    val withRows = r.tracer.progress.map(_._2).toSeq.filter(_.numInputRows > 0)
    def d(key: String) = Run.median(withRows.map(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    r.l("stream.batches", withRows.size, "count")
    r.l("stream.trigger_ms", d("triggerExecution"), "ms")
    r.l("stream.add_batch_ms", d("addBatch"), "ms")
    r.l("stream.wal_ms", d("walCommit"), "ms")
    r.l("stream.plan_ms", d("queryPlanning"), "ms")
    r.l("stream.commit_ms", d("commitOffsets"), "ms")
  }
}
