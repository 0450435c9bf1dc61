package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming forms of the event pipeline. The windowed
  * aggregation is the SAME declarative plan as the batch query
  * (EventQueries.eventsTumbling) applied to a streaming source — Spark's
  * incremental planner handles state; the batch oracle validates semantics.
  *
  * Sessionization is genuinely stateful and uses
  * flatMapGroupsWithState: per-user state tracks the open session; closed
  * sessions are emitted as soon as a later event (or timeout) proves the
  * 30-minute gap. At scale, state is partitioned by user_id across
  * executors and checkpointed incrementally.
  */
object EventStreams {

  val SessionGapSeconds = 1800L

  case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double)
  case class OpenSession(startMicros: Long, lastMicros: Long, nEvents: Long)
  case class SessionOut(user_id: Long, start_micros: Long, end_micros: Long,
                        n_events: Long)
  case class OpenRun(state: String, vfMicros: Long, nEvents: Long)
  case class Scd2Out(user_id: Long, state: String, vf_micros: Long,
                     vt_micros: Option[Long], n_events: Long,
                     is_current: Boolean)

  /** Tumbling-window counts; run identically over readStream or read. */
  def windowedCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** The events parquet as a STREAMING file source, with `ts` canonicalized
    * exactly as in `Tables.events` (one shared schema-adaptive branch —
    * `Tables.normalizeEventsTs` — so a testdata regeneration that changes
    * the physical timestamp type cannot split batch and streaming reads).
    * events.parquet is a single file; FileStreamSource force-sets basePath
    * to a non-glob path itself and then requires a directory, so a glob
    * path keeps the explicit directory basePath.
    */
  private def eventsFileStream(s: SparkSession, dir: String,
                               oneFilePerBatch: Boolean = false): DataFrame = {
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val r = s.readStream.schema(rawSchema).option("basePath", dir)
    graft.Tables.normalizeEventsTs(
      (if (oneFilePerBatch) r.option("maxFilesPerTrigger", "1") else r)
        .parquet(s"$dir/events.parquet*"))
  }

  /** Per-process, per-run scratch (PID isolation + never-reused dirs +
    * shutdown-hook cleanup) — shared rules live in graft.ScratchDirs.
    */
  private def freshDir(name: String): java.nio.file.Path =
    graft.ScratchDirs.fresh("graft_stream", name)

  /** Staged stream-SOURCE dirs memoized per (JVM, source dir, params) —
    * the DocStreams/DedupQueries convention (`stagedIngestSrc`,
    * `stagedNearSrc`) applied to the event streams. Every staged layout
    * here is a pure deterministic function of the source parquet and the
    * staging parameters, and is never mutated after it is written, so
    * re-materializing it on every call only re-ran the same
    * coalesce(1)-write jobs (3-5 Spark jobs per call — a measured
    * 0.5-1 s of each bench repetition of every staged stream row,
    * optimization round r15). The STREAM itself still runs from scratch
    * per call: checkpoints and sinks stay per-run fresh (runToSink), so
    * each invocation recomputes the result from the staged parquet.
    */
  private val stagedSources = new graft.Memo[String]

  /** Cast every column of a synthetic (sentinel/fake) row frame to the
    * reference frame's exact types. Synthetic rows are built from
    * literals (lit(0.0) is double, lit(-1L) is long); if a testdata
    * regeneration ships e.g. value as float, staged files would otherwise
    * mix physical types across files under one fixed read schema — the
    * exact failure writeSingleFile's rewrite exists to prevent.
    */
  private def conformTo(df: DataFrame, ref: DataFrame): DataFrame =
    df.select(ref.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Write `df` as ONE flat parquet file at `dir/name` (stream-source
    * staging: files must match a `<name>*` glob such as `events.parquet*`,
    * and writing through Spark — rather than copying the source file —
    * guarantees every staged file carries the SAME canonical ts type
    * whichever physical timestamp type the source parquet uses).
    * The one single-file staging writer: DocStreams' split stagers use it.
    */
  private[streaming] def writeSingleFile(df: DataFrame, dir: java.nio.file.Path,
                                         name: String): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"staging write for $name produced no parquet part file"))
    java.nio.file.Files.move(part.toPath, dir.resolve(name))
    locally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively(): Unit
    }
  }

  /** State stores per stateful operator in [[runToSink]] (sized there). */
  private val StatePartitions = "spark.sql.shuffle.partitions" -> "2"

  /** Run a finite streaming query to completion (Trigger.AvailableNow —
    * the standard backfill shape: same code path as the live stream,
    * bounded input, exits when caught up), materializing sink batches via
    * foreachBatch, and return the sink contents as a batch DataFrame.
    *
    * Stateful operators instantiate one state store per shuffle partition,
    * and that count is frozen into the checkpoint at creation — for a
    * bounded single-file backfill the right size tracks the INPUT volume,
    * not the session's batch-analytics setting (32 stores per stateful op
    * on a 60k-row file is pure open/commit overhead). r8 measured 2 worse
    * than 4 on the then-current tree; re-measured in r16 (after the
    * staging memoization changed what the timed region contains), 2 now
    * wins or ties everywhere probed — the stream-stream join rows most of
    * all (stream_attribution 8.9→4.9 s: its 5 state stores per partition
    * per side make per-store open/commit the dominant batch cost), with
    * flatMapGroupsWithState rows 0.1-0.4 s better and the native
    * session-window row a wash. The session conf is restored after the
    * run; a live deployment sizes this to key cardinality instead.
    */
  private[streaming] def runToSink(df: DataFrame, mode: OutputMode,
                                   tag: String): DataFrame = {
    val s = df.sparkSession
    // unique per-run sink + checkpoint: Append mode needs a fresh
    // checkpoint anyway (resuming an old one would skip already-read
    // files), and per-run isolation means repeated runs (bench min-of-3,
    // verify) never clobber files a previously returned DataFrame still
    // reads. The shutdown hook on streamRoot bounds the leak to process
    // lifetime.
    val base = freshDir(tag)
    val outDir = java.nio.file.Files
      .createDirectories(base.resolve("sink")).toString
    val ckpt = java.nio.file.Files
      .createDirectories(base.resolve("ckpt")).toString
    graft.GraftSession.scoped(s, StatePartitions) {
      val q = df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // Complete mode rewrites the full result; Append adds each batch
          val m = if (mode == OutputMode.Complete()) "overwrite" else "append"
          batch.write.mode(m).parquet(outDir)
        }
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir)
  }

  /** The tumbling-window aggregation computed BY THE STREAMING ENGINE,
    * returned in the batch query's output shape so the driver hash-checks
    * the streaming engine against the same DuckDB oracle as
    * `events_tumbling`. Complete mode emits every window regardless of the
    * final watermark (an append-mode file sink would hold back windows the
    * watermark never passes on a finite stream); a live unbounded
    * deployment uses append + watermark instead, whose late-data semantics
    * StreamingSpec pins.
    */
  def tumblingAvailableNow(s: SparkSession, dir: String): DataFrame =
    runToSink(windowedCounts(eventsFileStream(s, dir)), OutputMode.Complete,
        "tumbling")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"),
        col("n").cast("long").as("n"),
        col("total_value").cast("double").as("total_value"))
      .orderBy("window_start", "event_type")

  /** The stream-stream interval join run by the streaming engine over the
    * same finite source, checked against the batch range-join oracle
    * (`events_click_to_purchase`). Inner joins emit eagerly in Append
    * mode — the watermark only bounds buffered state — so the AvailableNow
    * run emits every qualifying pair.
    */
  def clickToPurchaseAvailableNow(s: SparkSession, dir: String): DataFrame = {
    val src = eventsFileStream(s, dir)
    val joined = clickToPurchase(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"), windowMinutes = 30)
    runToSink(joined, OutputMode.Append, "click_to_purchase")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        ((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))) / 1e6)
          .cast("double").as("delta_s"))
      .orderBy("click_id", "purchase_id")
  }

  /** Stream-stream interval join: purchases within `windowMinutes` after a
    * click by the same user — the streaming form of the batch range join
    * (EventQueries.eventsClickToPurchase). Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark evicts
    * buffered state once the watermark passes the interval — state stays
    * proportional to the window, not the stream.
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
                      windowMinutes: Int = 30): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Latest event per user computed BY THE STREAMING ENGINE as an
    * unwindowed stateful aggregation (max_by over (ts, event_id)) in
    * Complete mode, checked against the batch window-function oracle
    * (`events_latest_per_user`). State is one row per user — the
    * classic streaming materialized-view shape; at scale it partitions
    * by user across executors.
    */
  def latestPerUserAvailableNow(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsFileStream(s, dir)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("event_type"), col("ts")),
        struct(col("ts"), col("event_id"))).as("m"))
    runToSink(agg, OutputMode.Complete, "latest_per_user")
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"),
        date_format(col("m.ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("user_id")
  }

  /** Streaming EXACT DEDUP under adversarial input: the source directory
    * holds TWO copies of the events file (guaranteed duplicates across
    * micro-batch boundaries), dropDuplicates("event_id") must suppress
    * every replay via its keyed state store, and the surviving rows flow
    * into the same tumbling aggregation as `events_tumbling` — whose
    * oracle they must hash-match. A dedup failure doubles every count; a
    * state loss across batches leaks replays. This is the streaming
    * at-least-once-source → exactly-once-result shape.
    */
  def dedupExactAvailableNow(s: SparkSession, dir: String): DataFrame = {
    // staged through the schema-adaptive reader + writeSingleFile like
    // every other staged stream source — the previous raw Files.copy
    // assumed events.parquet is a single FILE, which holds for the
    // driver's testdata but not for directory-shaped parquet (what any
    // Spark writer produces; the x100 ScaleProbe corpus surfaced it as
    // an empty staged source)
    val srcDir = stagedSources(s"$dir#dedup_src") {
      val d = freshDir("dedup_src")
      val ev = graft.Tables.events(s, dir)
      writeSingleFile(ev, d, "events.parquet")
      writeSingleFile(ev, d, "events.parquet2")
      d.toString
    }
    val deduped = eventsFileStream(s, srcDir)
      .dropDuplicates("event_id")
    // total_value rounded to the 1e-6 grid in BOTH engines: the dedup
    // changes each window's summation ORDER, and reordered float sums
    // differ in the last ulps — enough to derail the comparator's
    // stringified row sort even inside its numeric tolerance
    runToSink(windowedCounts(deduped), OutputMode.Complete, "dedup_exact")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"),
        col("n").cast("long").as("n"),
        round(col("total_value"), 6).cast("double").as("total_value"))
      .orderBy("window_start", "event_type")
  }

  /** The stateful flatMapGroupsWithState sessionizer run BY THE STREAMING
    * ENGINE over the finite events source, aggregated to the batch query's
    * per-user shape so the driver hash-checks it against the same DuckDB
    * oracle as `events_sessionize`.
    *
    * sessionize only emits a session once a LATER event proves the
    * 30-minute gap (or a timeout fires — not available under a bounded
    * AvailableNow run), so each user's final session would stay open in
    * the state store and never reach the sink. The run therefore streams
    * from a staging copy of the events file plus one SENTINEL event per
    * user, stamped past every user's last event + gap: the sentinel
    * deterministically closes each user's last real session, while the
    * sentinel's own (still-open) session is never emitted. Emitted
    * sessions = exactly the batch query's sessions.
    */
  /** Stage a copy of the events file plus one SENTINEL row per user
    * (type "__sentinel", negative event_id, ts past every event + the
    * session gap + 60 s) into a fresh stream-source dir — the bounded-run
    * trick that lets stateful operators flush per-user state at end of
    * input. Shared by the sessionize and funnel AvailableNow runs.
    */
  /** @param extraSentinels additional SINGLE-ROW sentinel files staged
    *   even later (+60 s apiece, fake user ids below every real sentinel).
    *   Watermark-driven operators (session_window in Append mode) emit a
    *   batch AFTER the watermark advances past a window's end, and an
    *   AvailableNow run stops once the last file is processed — so the
    *   emissions triggered by the last real file's watermark need one more
    *   arriving file to be carried out. Stateful sentinel-flush operators
    *   (sessionize/funnel/transitions) must NOT see extra sentinels: a
    *   second flush on an already-removed state would fabricate rows —
    *   they keep the default 0 (their emission happens IN the sentinel's
    *   own batch, no trailing batch needed).
    */
  /** Write the corpus as `slices` CHRONOLOGICAL files. Slice names sort
    * between "events.parquet" and the sentinel/fake files that follow
    * ("events.parquet0_i" < "events.parquet2": '0' < '2'), and files are
    * written in order (increasing mtimes), so an oneFilePerBatch
    * AvailableNow run processes slices in event-time order with the
    * sentinels last — the replay-invariance harness varies `slices` to
    * prove stateful results don't depend on micro-batch boundaries.
    */
  private def writeChronoSlices(ev: DataFrame, srcDir: java.nio.file.Path,
                                slices: Int): Unit =
    if (slices <= 1) writeSingleFile(ev, srcDir, "events.parquet")
    else {
      val b = ev.agg(coalesce(min(unix_micros(col("ts"))), lit(0L)),
        coalesce(max(unix_micros(col("ts"))), lit(0L))).head()
      val (t0, t1) = (b.getLong(0), b.getLong(1))
      (1 to slices).foreach { i =>
        val lo = t0 + (t1 - t0) * (i - 1) / slices
        val hi = t0 + (t1 - t0) * i / slices
        val cond =
          (if (i == 1) lit(true) else unix_micros(col("ts")) > lo) &&
            (if (i == slices) lit(true) else unix_micros(col("ts")) <= hi)
        writeSingleFile(ev.filter(cond), srcDir,
          if (i == 1) "events.parquet" else s"events.parquet0_$i")
      }
    }

  private def sentinelStagedDir(s: SparkSession, dir: String, tag: String,
                                extraSentinels: Int = 0,
                                slices: Int = 1): String =
    stagedSources(s"$dir#$tag#$extraSentinels#$slices") {
      sentinelStagedDirBuild(s, dir, tag, extraSentinels, slices)
    }

  private def sentinelStagedDirBuild(s: SparkSession, dir: String, tag: String,
                                     extraSentinels: Int,
                                     slices: Int): String = {
    val ev = graft.Tables.events(s, dir) // ts canonical µs TIMESTAMP
    val sentinelMicros =
      graft.Tables.eventsMaxMicros(ev) + (SessionGapSeconds + 60) * 1000000L
    val srcDir = freshDir(tag)
    // rewrite (not copy) the source file: staged files must all carry the
    // canonical ts type for one fixed stream read schema
    writeChronoSlices(ev, srcDir, slices)
    // sentinel rows carry the full source schema (props null); negative
    // event_ids cannot collide with real events. Written after the main
    // file, so file-order processing sees real events first (order is
    // immaterial anyway: the per-batch handlers sort or accumulate by
    // event time, and state carries across batches)
    val sentinel = ev.select(col("user_id")).distinct()
      .select(
        (-col("user_id") - 1).as("event_id"),
        timestamp_micros(lit(sentinelMicros)).as("ts"),
        col("user_id"),
        lit("__sentinel").as("event_type"),
        lit(0.0).as("value"),
        lit(null).cast("string").as("props"))
    writeSingleFile(conformTo(sentinel, ev), srcDir, "events.parquet2")
    (1 to extraSentinels).foreach { i =>
      val extra = s.range(1).select(
        lit(-1000000L - i).as("event_id"),
        timestamp_micros(lit(sentinelMicros + i * 60000000L)).as("ts"),
        lit(-1L - i).as("user_id"),
        lit("__sentinel").as("event_type"),
        lit(0.0).as("value"),
        lit(null).cast("string").as("props"))
      writeSingleFile(conformTo(extra, ev), srcDir, s"events.parquet${2 + i}")
    }
    srcDir.toString
  }

  /** The NATIVE session_window aggregation run by the streaming engine in
    * Append mode — the watermark-driven twin of the flatMapGroupsWithState
    * sessionizer (same 30-minute gap, same batch oracle family).
    *
    * Append emission happens in the batch AFTER the watermark passes a
    * session's end, so the staged source carries the per-user sentinels
    * PLUS one extra later sentinel file: the per-user batch advances the
    * zero-delay watermark past every real session, and the extra batch
    * carries those emissions out (an AvailableNow run stops at the last
    * file — there is no trailing no-data batch).
    *
    * The sentinels must flow THROUGH the watermark node and the
    * aggregation: a pre-agg event_type filter gets pushed below the
    * EventTimeWatermark operator and silently un-advances event time.
    * Their own sessions start at the sentinel epoch and the watermark
    * never passes them, so they stay in state and never reach the sink;
    * the post-agg start<=corpus-max filter is a cheap second fence.
    * Per-session sums round to the 1e-6 grid (micro-batch summation order
    * differs from batch scan order).
    */
  def sessionWindowAvailableNow(s: SparkSession, dir: String): DataFrame = {
    val srcDir = sentinelStagedDir(s, dir, "swin_src", extraSentinels = 1)
    val maxMicros = graft.Tables.eventsMaxMicros(graft.Tables.events(s, dir))
    val agg = eventsFileStream(s, srcDir, oneFilePerBatch = true)
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("value")).as("tv"))
      .filter(col("w").getField("start") <= timestamp_micros(lit(maxMicros)))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"),
        round(col("tv"), 6).cast("double").as("total_value"))
    runToSink(agg, OutputMode.Append, "session_window")
      .orderBy("user_id", "session_start")
  }

  def sessionizeAvailableNow(s: SparkSession, dir: String): DataFrame =
    sessionizeReplay(s, dir, slices = 1)

  /** Replay harness: the identical sessionize pipeline with the corpus
    * staged as `slices` chronological micro-batches — StreamingSpec
    * asserts the final sink is batch-boundary invariant (slices=1 vs 2
    * vs 5 identical).
    */
  private[graft] def sessionizeReplay(s: SparkSession, dir: String,
                                      slices: Int): DataFrame = {
    import s.implicits._
    val srcDir = sentinelStagedDir(s, dir, s"sessionize_src$slices",
      slices = slices)
    val typed = eventsFileStream(s, srcDir, oneFilePerBatch = slices > 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[EventRow]
    val sessions = sessionize(s, typed, useTimeout = false).toDF()
    runToSink(sessions, OutputMode.Append, "sessionize")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"),
        max(col("n_events")).cast("long").as("max_session_events"))
      .orderBy("user_id")
  }

  /** Heavy hitters maintained BY THE STREAMING ENGINE: the per-user count
    * state (Complete mode — the streaming frequency view) with the
    * frequency threshold applied at read time over the materialized sink,
    * checked against the batch `heavy_hitters` oracle. The threshold must
    * NOT be folded into the streaming aggregation — membership in the
    * top-1/k set is a property of the FINAL totals, so the state keeps
    * every user's count and the sink-side filter decides. At scale the
    * count state partitions by user; a production variant caps state with
    * a sketch and reconciles periodically (the batch HeavyHitters
    * operator's Misra-Gries shape).
    */
  def heavyHittersAvailableNow(s: SparkSession, dir: String, k: Int): DataFrame = {
    val agg = eventsFileStream(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("freq"))
    val sink = runToSink(agg, OutputMode.Complete, "heavy_hitters")
    sink.join(broadcast(sink.agg(sum(col("freq")).as("tot"))))
      .filter(col("freq") * k > col("tot"))
      .select(col("user_id"), col("freq").cast("long").as("freq"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment: the arriving event stream joins a STATIC
    * dimension table (customers) that Spark plans as a broadcast against
    * every micro-batch — the canonical "enrich the stream with reference
    * data" pattern; no state, no watermark, the dimension re-resolves per
    * batch (so a refreshed dim table takes effect mid-stream). Aggregated
    * per nation and hash-checked against the batch join's oracle.
    */
  def enrichStaticAvailableNow(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val joined = eventsFileStream(s, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
    runToSink(joined, OutputMode.Complete, "enrich_static")
      .select(col("c_nationkey").cast("long").as("nationkey"),
        col("n").cast("long").as("n"),
        round(col("total_value"), 6).cast("double").as("total_value"))
      .orderBy("nationkey")
  }

  /** Stage the events file as `nFiles` disjoint splits (event_id mod n) in
    * a fresh stream-source dir, one micro-batch per file under
    * maxFilesPerTrigger=1 — real multi-batch arrival instead of a
    * single-batch degenerate run.
    */
  private def stagedEventSplits(s: SparkSession, dir: String, nFiles: Int,
                                tag: String): String =
    stagedSources(s"$dir#$tag#$nFiles") {
      val raw = graft.Tables.events(s, dir) // ts canonical µs TIMESTAMP
      val out = freshDir(tag)
      (0 until nFiles).foreach { i =>
        writeSingleFile(raw.filter(pmod(col("event_id"), lit(nFiles)) === i),
          out, if (i == 0) "events.parquet" else s"events.parquet$i")
      }
      out.toString
    }

  /** Streaming ingest INTO a day-partitioned layout: each micro-batch
    * appends partition-aligned files (the daily-ingest growth pattern the
    * compaction pass maintains), and the serving read prunes to the query
    * days at the directory level — the full streaming-lake loop
    * (arrive → partitioned land → pruned serve), checked against the raw
    * events oracle. A fresh sink per run keeps appends from doubling
    * across bench repetitions.
    */
  def partitionedSinkAvailableNow(s: SparkSession, dir: String,
                                  pruneDays: Seq[String]): DataFrame = {
    val srcDir = stagedEventSplits(s, dir, nFiles = 3, "psink_src")
    val src = eventsFileStream(s, srcDir, oneFilePerBatch = true)
    val base = freshDir("psink_out")
    val table = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    val q = src
      .select(col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("day").parquet(table)
      }
      .start()
    q.awaitTermination()
    s.read.option("basePath", table).parquet(table)
      .filter(col("day").isin(pruneDays: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        graft.Money.sumMicros(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  // ---- Streaming funnel ------------------------------------------------------

  case class FunnelState(minView: Long, clicks: Seq[Long], purchases: Seq[Long])
  case class FunnelReach(user_id: Long, furthest: Int)

  /** Per-user furthest funnel stage, computed statefully: events
    * ACCUMULATE in per-user state (min view time; click/purchase times)
    * and the funnel is EVALUATED once the user's sentinel arrives — the
    * only stateful formulation that matches batch semantics under
    * out-of-order arrival, since a late-arriving earlier view can re-admit
    * clicks that looked too early (a greedy per-event update would lock
    * in the wrong stage entry). State is bounded by the user's funnel-type
    * event count; a live deployment prunes below the watermark instead of
    * waiting for a sentinel.
    */
  def funnelReach(spark: SparkSession,
                  events: Dataset[EventRow]): Dataset[FunnelReach] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelReach](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(Long.MaxValue, Nil, Nil))
          var flush = false
          rows.foreach { r =>
            val m = micros(r.ts)
            r.event_type match {
              case "view"       => st = st.copy(minView = math.min(st.minView, m))
              // prepend: O(1) where :+ on List is O(n) per element —
              // order is irrelevant, only filter(..).minOption is taken
              case "click"      => st = st.copy(clicks = m +: st.clicks)
              case "purchase"   => st = st.copy(purchases = m +: st.purchases)
              case "__sentinel" => flush = true
              case _            => ()
            }
          }
          if (flush) {
            // mirror of Funnel.funnel: first view, first click strictly
            // after it, first purchase strictly after that
            val t1 = if (st.minView == Long.MaxValue) None else Some(st.minView)
            val t2 = t1.flatMap(t => st.clicks.filter(_ > t).minOption)
            val t3 = t2.flatMap(t => st.purchases.filter(_ > t).minOption)
            val furthest =
              if (t3.isDefined) 3 else if (t2.isDefined) 2
              else if (t1.isDefined) 1 else 0
            state.remove()
            Iterator.single(FunnelReach(userId, furthest))
          } else {
            state.update(st)
            Iterator.empty
          }
      }
  }

  /** The ordered-stage funnel computed BY THE STREAMING ENGINE: per-user
    * stateful reach via funnelReach over the sentinel-staged source, then
    * the sink aggregates stage counts into the batch query's exact output
    * shape — hash-checked against the same DuckDB oracle as
    * `events_funnel`.
    */
  def funnelAvailableNow(s: SparkSession, dir: String): DataFrame =
    funnelReplay(s, dir, slices = 1)

  /** Replay harness for the funnel (see [[sessionizeReplay]]): state
    * accumulates across micro-batches; the sentinel (always in the LAST
    * file) flushes once, so slicing must not change any user's reach.
    */
  private[graft] def funnelReplay(s: SparkSession, dir: String,
                                  slices: Int): DataFrame = {
    import s.implicits._
    val srcDir = sentinelStagedDir(s, dir, s"funnel_src$slices",
      slices = slices)
    val typed = eventsFileStream(s, srcDir, oneFilePerBatch = slices > 1)
      .filter(col("event_type")
        .isin("view", "click", "purchase", "__sentinel"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[EventRow]
    val sink = runToSink(funnelReach(s, typed).toDF(), OutputMode.Append,
      "funnel")
    val counts = Seq((1L, "view"), (2L, "click"), (3L, "purchase"))
      .map { case (k, name) =>
        // coalesce: sum over an empty sink is null, and the batch path's
        // empty-funnel contract is 0 / conversion 0.0
        sink.agg(coalesce(sum(when(col("furthest") >= k, 1L).otherwise(0L)),
            lit(0L)).cast("long").as("n_users"))
          .select(lit(k).cast("long").as("stage_idx"), lit(name).as("stage"),
            col("n_users"))
      }.reduce(_.unionByName(_))
    graft.operators.Funnel.conversions(counts).orderBy("stage_idx")
  }

  // ---- Streaming transition matrix -------------------------------------------

  case class SeqState(events: Seq[(Long, Long, String)]) // (micros, event_id, type)
  case class Transition(prev_type: String, next_type: String)

  /** Per-user consecutive event-type pairs, computed statefully with the
    * same accumulate-and-evaluate discipline as funnelReach: "consecutive"
    * is an EVENT-TIME property, so under out-of-order arrival the pairs
    * can only be formed once the user's sequence is complete — state
    * accumulates (ts, event_id, type) and the sentinel triggers one sort +
    * sliding-pair emission. A live deployment evaluates per watermark
    * advance instead of a sentinel, emitting pairs whose both ends are
    * final.
    */
  def transitionPairs(spark: SparkSession,
                      events: Dataset[EventRow]): Dataset[Transition] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[EventRow], state: GroupState[SeqState]) =>
          var st = state.getOption.getOrElse(SeqState(Nil))
          var flush = false
          rows.foreach { r =>
            if (r.event_type == "__sentinel") flush = true
            else st = SeqState((micros(r.ts), r.event_id, r.event_type) +: st.events)
          }
          if (flush) {
            state.remove()
            st.events.sortBy(e => (e._1, e._2)).iterator
              .sliding(2).withPartial(false)
              .map(pair => Transition(pair(0)._3, pair(1)._3))
          } else {
            state.update(st)
            Iterator.empty
          }
      }
  }

  /** The clickstream transition matrix computed BY THE STREAMING ENGINE,
    * aggregated to the batch query's shape — hash-checked against the
    * same DuckDB oracle as `events_transitions`.
    */
  def transitionsAvailableNow(s: SparkSession, dir: String): DataFrame =
    transitionsReplay(s, dir, slices = 1)

  /** Replay harness for transition pairs (see [[sessionizeReplay]]):
    * "consecutive" is an event-time property evaluated at the sentinel
    * flush, so pairs straddling a micro-batch boundary must still form.
    */
  private[graft] def transitionsReplay(s: SparkSession, dir: String,
                                       slices: Int): DataFrame = {
    import s.implicits._
    val srcDir = sentinelStagedDir(s, dir, s"transitions_src$slices",
      slices = slices)
    val typed = eventsFileStream(s, srcDir, oneFilePerBatch = slices > 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[EventRow]
    runToSink(transitionPairs(s, typed).toDF(), OutputMode.Append,
        "transitions")
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy("prev_type", "next_type")
  }

  /** Full-microsecond epoch of a Timestamp (getTime alone drops sub-ms). */
  def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** Stateful sessionization over a typed event stream. Emits each session
    * when it closes (next event past the gap, or processing-time timeout
    * flushes the open session).
    */
  /** Stage the events file plus TWO later single-pair files, each
    * carrying one fake click and one fake purchase (fake negative user,
    * +2 h / +4 h past the corpus max). Unlike the "__sentinel" rows, the
    * fakes keep REAL event types: an event_type side filter is pushed
    * below the EventTimeWatermark node (it does not reference the event
    * time), so only rows that SURVIVE the filters can advance each join
    * side's watermark. File 2 advances both watermarks past every real
    * event; file 3 triggers the batch in which the outer join's
    * watermark-eviction emissions are carried out (AvailableNow stops at
    * the last file — there is no trailing no-data batch).
    */
  private def lateTypedStagedDir(s: SparkSession, dir: String,
                                 tag: String, slices: Int = 1): String =
    stagedSources(s"$dir#$tag#late#$slices") {
      lateTypedStagedDirBuild(s, dir, tag, slices)
    }

  private def lateTypedStagedDirBuild(s: SparkSession, dir: String,
                                      tag: String, slices: Int): String = {
    val raw = graft.Tables.events(s, dir) // ts canonical µs TIMESTAMP
    val maxMicros = graft.Tables.eventsMaxMicros(raw)
    val srcDir = freshDir(tag)
    // rewrite (not copy): staged files must share the canonical ts type
    writeChronoSlices(raw, srcDir, slices)
    (1 to 2).foreach { i =>
      val ts = maxMicros + i * 7200L * 1000000L
      def fake(typ: String, idOff: Long) = s.range(1).select(
        lit(-1000000L - idOff).as("event_id"),
        timestamp_micros(lit(ts)).as("ts"),
        lit(-1L - i).as("user_id"),
        lit(typ).as("event_type"),
        lit(0.0).as("value"),
        lit(null).cast("string").as("props"))
      val pair = fake("click", 2L * i).unionByName(fake("purchase", 2L * i + 1))
      writeSingleFile(conformTo(pair, raw), srcDir, s"events.parquet${i + 1}")
    }
    srcDir.toString
  }

  /** Linear multi-touch attribution through the streaming engine's
    * stream-stream LEFT OUTER interval join — the hardest streaming join
    * shape: matched (purchase, click) pairs emit eagerly, but a
    * purchase's unmatched null row may only emit once the watermark
    * proves no qualifying click can still arrive (state eviction). Both
    * sides carry zero-delay watermarks; the staged source's late typed
    * fakes advance them past every real event and carry the eviction
    * batch out. Credit division and the channel rollup are a batch pass
    * over the sink (EventQueries.attributionRollup — shared verbatim
    * with the batch query), fenced to real users; checked against the
    * events_attribution oracle.
    */
  def attributionAvailableNow(s: SparkSession, dir: String): DataFrame =
    attributionReplay(s, dir, slices = 1)

  /** Replay harness for the stream-stream attribution join (see
    * [[sessionizeReplay]]): the 24 h range condition must keep click
    * state alive across batch boundaries, so a purchase arriving in a
    * later micro-batch than its click still joins.
    */
  private[graft] def attributionReplay(s: SparkSession, dir: String,
                                       slices: Int): DataFrame = {
    val srcDir = lateTypedStagedDir(s, dir, s"attr_src$slices", slices = slices)
    val src = eventsFileStream(s, srcDir, oneFilePerBatch = true)
    val p = src.withWatermark("ts", "0 seconds")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pt"),
        col("event_id").as("purchase_id"), col("value"))
    val c = src.withWatermark("ts", "0 seconds")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("ct"),
        (from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
          .getField("k") % 5).as("channel"))
    val joined = p.join(c,
      col("user_id") === col("c_user") &&
        col("ct") <= col("pt") &&
        col("ct") > col("pt") - expr("INTERVAL 24 HOURS"), "leftOuter")
    val sunk = runToSink(
      joined.select(col("user_id"), col("purchase_id"), col("value"),
        col("channel"), col("ct")),
      OutputMode.Append, "attribution")
    graft.queries.EventQueries.attributionRollup(
      sunk.filter(col("user_id") >= 0))
  }

  /** The daily-rollup materialized view maintained BY THE STREAMING
    * ENGINE — the continuous-rollup lakehouse pattern: the events feed
    * arrives as three chronological slices (one micro-batch each under
    * maxFilesPerTrigger=1) and every micro-batch folds into the STORED
    * view through MaterializedView.additiveRefresh — read the current
    * version, merge the batch's partial aggregates, write the next
    * version. Versioned dirs make the commit a pointer swap: a reader of
    * version N is never disturbed by the N+1 write. The final stored
    * table must be indistinguishable from the batch full recompute
    * (mv_refresh's oracle); history is only ever read back as the
    * view-sized table, never rescanned as events.
    */
  def mvRefreshAvailableNow(s: SparkSession, dir: String): DataFrame =
    mvRefreshReplay(s, dir, slices = 3)

  /** Replay harness: same continuous rollup under a different refresh
    * cadence — the stored view must equal the batch recompute at ANY
    * slice count (additivity of the partial aggregates).
    */
  private[graft] def mvRefreshReplay(s: SparkSession, dir: String,
                                     slices: Int): DataFrame = {
    val srcDir = stagedSources(s"$dir#mvr_src#$slices") {
      val d = freshDir(s"mvr_src$slices")
      writeChronoSlices(graft.Tables.events(s, dir), d, slices)
      d.toString
    }
    val store = freshDir("mvr_store")
    val ckpt = java.nio.file.Files
      .createDirectories(store.resolve("ckpt")).toString
    @volatile var current: Option[String] = None
    val q = eventsFileStream(s, srcDir, oneFilePerBatch = true)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val partial = graft.queries.EventQueries.dailyPartial(batch)
        val next = current match {
          case Some(p) => graft.operators.MaterializedView.additiveRefresh(
            s.read.parquet(p), partial,
            Seq("event_type", "day"), Seq("n", "tv_micro"))
          case None => partial
        }
        val dest = store.resolve(s"v$id").toString
        next.write.mode("overwrite").parquet(dest)
        current = Some(dest)
      }
      .start()
    q.awaitTermination()
    s.read.parquet(current.getOrElse(sys.error("no micro-batches ran")))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n").cast("long").as("n_events"),
        (col("tv_micro").cast("double") / 1e6).as("total_value"))
      .orderBy("event_type", "day")
  }

  /** SCD type-2 history maintained BY THE STREAMING ENGINE — the CDC
    * consumer shape: per-user state carries the open attribute run
    * (event_type value, valid_from, event count); an arriving change
    * closes the run with valid_to = the change's timestamp (half-open
    * intervals, exactly the batch scd2_history semantics) and opens the
    * next one. The per-user "__sentinel" row does NOT start a run — it
    * flushes the still-open run as the is_current row (valid_to = None)
    * and clears state, so a bounded AvailableNow pass emits the complete
    * type-2 table. A live deployment would instead leave the open run in
    * state and publish is_current rows from a timeout or at read time.
    * State per user is ONE open run — bounded regardless of stream length.
    */
  def scd2Runs(spark: SparkSession,
               events: Dataset[EventRow]): Dataset[Scd2Out] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenRun, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[OpenRun]) =>
          val sorted = rows.toVector.sortBy(r => (micros(r.ts), r.event_id))
          var open = state.getOption
          val out = Vector.newBuilder[Scd2Out]
          sorted.foreach { r =>
            val m = micros(r.ts)
            if (r.event_type == "__sentinel") {
              open.foreach(o => out += Scd2Out(userId, o.state, o.vfMicros,
                None, o.nEvents, is_current = true))
              open = None
            } else open match {
              case Some(o) if o.state == r.event_type =>
                open = Some(o.copy(nEvents = o.nEvents + 1))
              case Some(o) =>
                out += Scd2Out(userId, o.state, o.vfMicros, Some(m),
                  o.nEvents, is_current = false)
                open = Some(OpenRun(r.event_type, m, 1))
              case None =>
                open = Some(OpenRun(r.event_type, m, 1))
            }
          }
          open match {
            case Some(o) => state.update(o)
            case None    => state.remove()
          }
          out.result().iterator
      }
  }

  /** scd2Runs over the sentinel-staged finite source, formatted to the
    * batch scd2_history oracle's shape.
    */
  def scd2AvailableNow(s: SparkSession, dir: String): DataFrame =
    scd2Replay(s, dir, slices = 1)

  /** Replay harness for the SCD2 pipeline (see [[sessionizeReplay]]). */
  private[graft] def scd2Replay(s: SparkSession, dir: String,
                                slices: Int): DataFrame = {
    import s.implicits._
    val srcDir = sentinelStagedDir(s, dir, s"scd2_src$slices", slices = slices)
    val typed = eventsFileStream(s, srcDir, oneFilePerBatch = slices > 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[EventRow]
    val runs = scd2Runs(s, typed).toDF()
    runToSink(runs, OutputMode.Append, "scd2")
      .select(col("user_id"), col("state"),
        date_format(timestamp_micros(col("vf_micros")), "yyyy-MM-dd HH:mm:ss")
          .as("valid_from"),
        date_format(timestamp_micros(col("vt_micros")), "yyyy-MM-dd HH:mm:ss")
          .as("valid_to"),
        col("n_events"), col("is_current"))
      .orderBy("user_id", "valid_from", "state")
  }

  def sessionize(spark: SparkSession, events: Dataset[EventRow],
                 useTimeout: Boolean = true): Dataset[SessionOut] = {
    import spark.implicits._
    // Production uses a processing-time timeout so idle users' open
    // sessions eventually flush; NoTimeout keeps micro-batch tests
    // quiescent (armed timeouts re-trigger empty batches forever under
    // processAllAvailable).
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(userId, s.startMicros, s.lastMicros, s.nEvents)).toList
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toVector.sortBy(r => (micros(r.ts), r.event_id))
            var open = state.getOption
            val closed = Vector.newBuilder[SessionOut]
            sorted.foreach { r =>
              val m = micros(r.ts)
              open match {
                case Some(s) if m - s.lastMicros <= SessionGapSeconds * 1000000L =>
                  open = Some(s.copy(lastMicros = m, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed += SessionOut(userId, s.startMicros, s.lastMicros, s.nEvents)
                  open = Some(OpenSession(m, m, 1))
                case None =>
                  open = Some(OpenSession(m, m, 1))
              }
            }
            open match {
              case Some(s) =>
                state.update(s)
                if (useTimeout) state.setTimeoutDuration("30 seconds")
              case None => state.remove()
            }
            closed.result().iterator
          }
      }
  }
}
