package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** The benchmark's workloads. Each drives the engine only through the
  * `graft.cli.Main.run` dispatch and public layer functions, in one
  * closed loop: every call waits for the previous one.
  */
object Workloads {

  final case class Workload(name: String, shape: Gen.Shape, body: Run => Unit)

  val K = 10
  /** Untimed point queries before the measured loop (JIT, codegen caches). */
  val Warmup = 4
  /** Calls in the measured loop even when `--seconds` runs out first. */
  val MinCalls = 2
  /** In-stream compaction threshold passed to `singest`. */
  val IngestMaxFiles = 8

  val all: Seq[Workload] = Seq(
    // writes beside reads: a bulk index, a streamed ingest with in-stream
    // compaction, then one user's BM25 point queries over the grown index,
    // one at a time. VectorIndex and the bulk plans stay idle.
    Workload("index_grow",
      Gen.Shape(docs = 3000, stagedFiles = 1, stagedDocsPerFile = 400,
        queries = 200, requests = 0, embeddings = false),
      indexGrow),
    // one offline bulk hybrid sweep after another: the join- and
    // exchange-bound plan of Search.bulkSearch plus VectorIndex.searchBulk.
    // DocStreams and the point-search plan stay idle.
    Workload("hybrid_bulk",
      Gen.Shape(docs = 3000, stagedFiles = 0, stagedDocsPerFile = 0,
        queries = 0, requests = 100, embeddings = true),
      hybridBulk))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  // ------------------------------------------------------------ set-up

  /** Builds the text index once; returns its seconds (NaN if it failed). */
  private def buildTextIndex(r: Run, docs: String, prefix: String): Double = {
    r.log("inputs written; building the text index")
    val s = r.op("index")(r.command(Seq("index", docs, prefix)))
    r.layer("indexer.build_s") = s.getOrElse(0.0) -> "s"
    s.getOrElse(Double.NaN)
  }

  // ---------------------------------------------------- the query loop

  /** Timings and layer counts of a workload's query calls. In a traced
    * run even calls are traced and odd calls run with no listener
    * installed, so their difference is the tracing overhead.
    */
  final class QueryLoop(r: Run) {
    val plainMs, tracedMs, plainCpuMs = ArrayBuffer[Double]()
    val construct, plan, execute = ArrayBuffer[Double]()
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    var tracedCalls, tracedRequests, tracedRows = 0L
    var plainRequests = 0L
    private var i = 0

    def call(args: Seq[String], requestsPerCall: Int): Option[Array[Row]] = {
      val traceThis = r.traced && i % 2 == 0
      i += 1
      val before = r.tracer.filter(_ => traceThis).map { t => t.install(); t.snapshot() }
      val res = r.op(args.head)(r.query(args, splitPlan = traceThis))
      for (b <- before; t <- r.tracer) {
        t.snapshot().foreach { case (k, v) => counts(k) += v - b(k) }
        t.uninstall()
      }
      res.foreach { t =>
        if (traceThis) {
          tracedMs += t.totalMs
          construct += t.constructMs; plan += t.planMs; execute += t.executeMs
          tracedCalls += 1; tracedRequests += requestsPerCall; tracedRows += t.rows.length
        } else {
          plainMs += t.totalMs; plainCpuMs += t.cpuMs; plainRequests += requestsPerCall
        }
      }
      if (r.traced) r.checkConfDrift()
      res.map(_.rows)
    }

    /** Calls `next(i)` until `seconds` have passed (and at least MinCalls). */
    def loop(seconds: Int)(next: Int => Unit): Unit = {
      r.log("measured loop starts")
      val deadline = System.nanoTime() + seconds * 1000000000L
      var n = 0
      while (n < MinCalls || System.nanoTime() < deadline) { next(n); n += 1 }
    }

    def report(): Unit = {
      r.log("measured loop done")
      val all = plainMs ++ tracedMs
      r.e2e("op_cpu_ms") =
        (if (plainCpuMs.nonEmpty) Stats.median(plainCpuMs) else Double.NaN) -> "ms"
      r.details("op_calls") = plainMs.size.toString
      r.details("op_ms") = plainMs.map(x => f"$x%.0f").mkString(",")
      r.details("op_cpu_ms") = plainCpuMs.map(x => f"$x%.0f").mkString(",")
      if (plainMs.nonEmpty) r.details("op_p50_ms") = f"${Stats.median(plainMs)}%.1f"
      val tail = Stats.tail(plainMs.toSeq)
      r.details("op_tail") = tail.map { case (p, v) => f"p$p%.1f=$v%.1fms" }.getOrElse("n/a")
      def med(xs: ArrayBuffer[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def per(k: String, d: Long) = if (d == 0) 0.0 else counts(k).toDouble / d
      r.layer("search.construct_ms") = med(construct) -> "ms"
      r.layer("search.plan_ms") = med(plan) -> "ms"
      r.layer("search.execute_ms") = med(execute) -> "ms"
      r.layer("spark.jobs_per_op") = per("jobs", tracedCalls) -> "count"
      r.layer("spark.stages_per_op") = per("stages", tracedCalls) -> "count"
      r.layer("spark.tasks_per_op") = per("tasks", tracedCalls) -> "count"
      r.layer("spark.shuffle_bytes_per_request") = per("shuffle_bytes", tracedRequests) -> "B"
      r.layer("spark.spill_bytes") = counts("spill_bytes").toDouble -> "B"
      r.layer("scan.rows_per_result") = per("rows_read", tracedRows) -> "count"
      r.layer("scan.files_per_op") = per("files_read", tracedCalls) -> "count"
      r.layer("trace.overhead_ms") =
        (if (tracedMs.isEmpty || plainMs.isEmpty) 0.0
         else Stats.median(tracedMs) - Stats.median(plainMs)) -> "ms"
      if (all.isEmpty) r.fail("no query call succeeded")
    }
  }

  /** Per-layer metrics of layers a workload leaves idle read 0. */
  private def idle(r: Run, names: String*): Unit =
    names.foreach(n => if (!r.layer.contains(n)) r.layer(n) = 0.0 -> unitOf(n))

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("bytes") || n.endsWith("bytes_per_request") => "B"
    case _ => "count"
  }

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val LayerMetrics: Seq[String] = Seq(
    "search.construct_ms", "search.plan_ms", "search.execute_ms",
    "search.bulk_text_s",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.shuffle_bytes_per_request", "spark.spill_bytes",
    "scan.rows_per_result", "scan.files_per_op",
    "indexer.build_s", "indexer.max_files_per_bucket", "indexer.compactions",
    "docstreams.batches", "docstreams.batch_p50_ms",
    "docstreams.add_batch_p50_ms", "docstreams.wal_commit_p50_ms",
    "vectorindex.build_s", "vectorindex.search_bulk_s",
    "session.conf_drift_keys", "jvm.gc_ms", "trace.overhead_ms")

  // ------------------------------------------------------- verification

  private def docId(row: Row): Long = row.getAs[Any]("doc_id").toString.toLong

  /** Checks one search result against the reference; returns the share of
    * the reference top-k it recalled (tied documents count as recalled),
    * or None when the query matches nothing.
    */
  private def verifySearch(r: Run, ref: Bm25Ref, query: String, rows: Array[Row],
                           what: String): Option[Double] = {
    val scores = ref.scores(query)
    val ranking = Bm25Ref.rank(scores)
    val engine = rows.toSeq.map(row => docId(row) -> row.getAs[Double]("score"))
    Bm25Ref.checkTopK(engine, ranking, K, scores.get)
      .foreach(m => r.fail(s"$what '$query': $m"))
    val want = ranking.take(K)
    if (want.isEmpty) None
    else {
      val floor = want.last._2 - Bm25Ref.ScoreTolerance
      Some(engine.count { case (id, _) => scores.get(id).exists(_ >= floor) }
        .toDouble / want.size)
    }
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def textBytes(docs: Seq[Gen.Doc]): Double =
    docs.map(_.text.getBytes("UTF-8").length.toLong).sum.toDouble

  // ---------------------------------------------------------- workloads

  def indexGrow(r: Run): Unit = {
    val docs = r.writeDocs("docs", r.in.docs)
    val staged = r.writeStaged("staged", r.in.staged)
    val prefix = "ig"
    val buildS = buildTextIndex(r, docs, prefix)
    r.setupParts("index_build_s") = buildS
    r.details("index_docs_per_s") = f"${r.in.docs.size / buildS}%.1f"
    r.markConfBaseline()
    val gc0 = Jvm.gcMillis()

    // writes: the streamed ingest, traced as a whole in a traced run
    val before = r.tracer.map { t => t.install(); t.snapshot() }
    val ingest = r.op("singest")(r.commandCost(Seq("singest", staged, prefix,
      IngestMaxFiles.toString, s"--ckpt=${r.work.resolve("ingest_ckpt")}")))
    val ingested = r.in.staged.map(_.size).sum
    r.e2e("items_per_cpu_s") = ingest.map(ingested / _._2).getOrElse(Double.NaN) -> "1/s"
    ingest.foreach(c => r.details("items_per_s") = f"${ingested / c._1}%.2f")
    for (b <- before; t <- r.tracer) {
      val after = t.snapshot()
      t.uninstall()
      r.layer("indexer.compactions") = (after("compactions") - b("compactions")).toDouble -> "count"
      val bs = t.batches.synchronized(t.batches.toSeq)
      def p50(f: ((Double, Double, Double)) => Double) =
        if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
      r.layer("docstreams.batches") = bs.size.toDouble -> "count"
      r.layer("docstreams.batch_p50_ms") = p50(_._1) -> "ms"
      r.layer("docstreams.add_batch_p50_ms") = p50(_._2) -> "ms"
      r.layer("docstreams.wal_commit_p50_ms") = p50(_._3) -> "ms"
    }
    if (r.traced) r.checkConfDrift()

    // reads: point queries over the grown index
    val qs = r.in.queries
    (0 until Warmup).foreach(i => r.op("warm-up search")(
      r.query(Seq("search", prefix, qs(i), K.toString), splitPlan = false)))
    val loop = new QueryLoop(r)
    val issued = ArrayBuffer[(String, Array[Row])]()
    loop.loop(r.seconds) { i =>
      val q = qs((i + Warmup) % qs.size)
      loop.call(Seq("search", prefix, q, K.toString), 1).foreach(rows => issued += q -> rows)
    }
    r.layer("jvm.gc_ms") = (Jvm.gcMillis() - gc0).toDouble -> "ms"
    r.e2e("live_heap_mb") = Jvm.liveHeapMb() -> "MiB"
    loop.report()
    r.details("query_repeat_share_issued") =
      f"${1.0 - issued.map(_._1).distinct.size.toDouble / math.max(1, issued.size)}%.4f"
    r.layer("indexer.max_files_per_bucket") = r.maxFilesPerBucket(prefix).toDouble -> "count"
    r.e2e("index_bytes_per_text_byte") =
      r.textIndexBytes(prefix) / textBytes(r.in.allDocs) -> "B/B"

    // every answer against a reference index of all documents, base and
    // streamed, built anew
    val ref = new Bm25Ref(r.in.allDocs)
    r.e2e("recall_at_10") = mean(issued.toSeq.flatMap { case (q, rows) =>
      verifySearch(r, ref, q, rows, "search over the grown index") }) -> "ratio"
  }

  def hybridBulk(r: Run): Unit = {
    val docs = r.writeDocs("docs", r.in.docs)
    val emb = r.writeEmbeddings("embeddings")
    val reqs = r.writeRequests("requests")
    val (tPrefix, vPrefix) = ("hb_t", "hb_v")
    val buildS = buildTextIndex(r, docs, tPrefix)
    val vBuildS = r.op("vindex")(r.command(Seq("vindex", emb, vPrefix))).getOrElse(Double.NaN)
    r.layer("vectorindex.build_s") = vBuildS -> "s"
    r.setupParts("index_build_s") = buildS
    r.setupParts("vindex_build_s") = vBuildS
    r.details("index_docs_per_s") = f"${r.in.docs.size / buildS}%.1f"
    r.markConfBaseline()
    // Both arms alone first, on the same requests: they give recall_at_10
    // and the per-layer arm timings, and warm the code the hbulk plan
    // shares with them, in place of an untimed hbulk sweep.
    val spark = r.spark
    val requests = spark.read.parquet(reqs)
      .select(col("query_id").cast("long").as("query_id"), col("query_text"))
    val probes = spark.table(s"${vPrefix}_forward")
      .join(requests.select(col("query_id").as("id")), "id")
      .select(col("id"), col("v"))
    var ann: Array[Row] = Array.empty
    val annS = r.op("VectorIndex.searchBulk")(r.time {
      ann = graft.operators.VectorIndex.searchBulk(spark, vPrefix, probes, K,
        nprobe = 8, shortlist = 40).select("probe_id", "cand_id").collect()
    })
    val textS = r.op("Search.bulkSearch")(r.time {
      graft.operators.Search.bulkSearch(requests, spark.table(s"${tPrefix}_postings"),
        spark.table(s"${tPrefix}_term_df"), spark.table(s"${tPrefix}_doc_info"), K)
        .collect(): Unit
    })
    if (r.traced) {
      r.layer("vectorindex.search_bulk_s") = annS.getOrElse(0.0) -> "s"
      r.layer("search.bulk_text_s") = textS.getOrElse(0.0) -> "s"
    }

    val n = r.in.requests.size
    val args = Seq("hbulk", reqs, tPrefix, vPrefix, K.toString)
    val loop = new QueryLoop(r)
    val sweeps = ArrayBuffer[Array[Row]]()
    val gc0 = Jvm.gcMillis()
    loop.loop(r.seconds)(_ => loop.call(args, n).foreach(sweeps += _))
    r.layer("jvm.gc_ms") = (Jvm.gcMillis() - gc0).toDouble -> "ms"
    r.e2e("live_heap_mb") = Jvm.liveHeapMb() -> "MiB"
    loop.report()
    r.e2e("items_per_cpu_s") = loop.plainRequests / (loop.plainCpuMs.sum / 1000) -> "1/s"
    r.details("items_per_s") = f"${loop.plainRequests / (loop.plainMs.sum / 1000)}%.2f"
    r.e2e("index_bytes_per_text_byte") =
      r.textIndexBytes(tPrefix) / textBytes(r.in.docs) -> "B/B"
    r.details("vector_index_bytes") = r.vectorIndexBytes(vPrefix).toString
    r.layer("indexer.max_files_per_bucket") = r.maxFilesPerBucket(tPrefix).toDouble -> "count"

    // the text arm of every measured sweep against the reference ranking:
    // each row's text_rank must hold the reference score of that rank, and
    // a request that matches anything must get its text rank 1 back
    val ref = new Bm25Ref(r.in.docs)
    val expected = r.in.requests.map { req =>
      val scores = ref.scores(req.text)
      (req, scores, Bm25Ref.rank(scores))
    }
    sweeps.foreach { rows =>
      val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
      val bad = expected.flatMap { case (req, scores, ranking) =>
        val got = byQuery.getOrElse(req.queryId, Array.empty[Row]).toSeq
          .filterNot(row => row.isNullAt(row.fieldIndex("text_rank")))
          .map(row => row.getAs[Long]("text_rank").toInt -> docId(row))
        val wrong = got.collectFirst {
          case (rank, id) if !(rank >= 1 && rank <= math.min(K, ranking.size) &&
              scores.get(id).exists(s =>
                math.abs(s - ranking(rank - 1)._2) <= Bm25Ref.ScoreTolerance)) =>
            s"doc $id at text rank $rank, reference score ${scores.get(id)}"
        }
        val missing =
          if (ranking.nonEmpty && !got.exists(_._1 == 1)) Some("text rank 1 missing") else None
        wrong.orElse(missing).map(m => s"request ${req.queryId} '${req.text}': $m")
      }
      if (bad.nonEmpty)
        r.fail(s"hbulk: ${bad.size} of ${expected.size} requests wrong; first: ${bad.head}")
    }

    // the vector arm against exact cosine top-10
    val exact = new CosineRef(r.in.embeddings)
    val found = ann.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    r.e2e("recall_at_10") = mean(r.in.requests.map { req =>
      val truth = exact.topK(req.queryId, K)
      val got = found.getOrElse(req.queryId, Set.empty[Long])
      truth.count(got).toDouble / truth.size
    }) -> "ratio"
  }

  /** Fills the layers a workload left idle with 0. */
  def finish(r: Run): Unit = idle(r, LayerMetrics: _*)
}
