package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.CacheRegistry.RegisteredCache
import graft.{Money, Tables}

/** Event-time operators over the `events` table (SURVEY.md §7.5 extension
  * scope): tumbling/sliding windows, JSON extraction, sessionization,
  * pivot, latest-per-key dedup. Batch forms here (oracle-checkable); the
  * same plans run under Structured Streaming in graft.streaming.
  *
  * Both engines read the parquet `timestamp[ns]` column truncated to
  * microseconds, so epoch arithmetic agrees bit-for-bit; window starts are
  * emitted as formatted UTC strings.
  */
object EventQueries {

  import org.apache.spark.sql.Column

  /** Floor division on epoch-microsecond longs (b > 0). Spark's `div`
    * truncates toward zero while DuckDB's `//` floors — they diverge on
    * negative dividends (pre-1970 timestamps, or a window lower bound
    * within 30 min of the epoch), silently shifting a bin. Subtracting
    * `pmod` first makes the dividend an exact multiple of b; epoch micros
    * stay below 2^53 until year ~2255, so the correctly-rounded IEEE
    * division of two exactly-representable longs whose true quotient is a
    * representable integer is exact.
    */
  private def floorDiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  // ---- Tumbling window aggregation -------------------------------------------
  def eventsTumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("value")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start", "event_type")

  val eventsTumblingSql: String =
    """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(value) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** eventsTumblingSql with the per-window sum rounded to the 1e-6 grid —
    * the oracle for streaming runs whose summation order differs from the
    * batch scan order (stream_dedup_exact's replayed-and-deduped source).
    */
  val eventsTumblingRoundedSql: String =
    """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(round(sum(value), 6) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- Sliding window (1h window, 30m slide => 2 windows per event) ----------
  def eventsSliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).cast("long").as("n"),
        avg(col("value")).cast("double").as("avg_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("avg_value"))
      .orderBy("window_start")

  val eventsSlidingSql: String =
    """WITH both_offsets AS (
      |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w, value FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') AS w, value FROM events)
      |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(avg(value) AS DOUBLE) AS avg_value
      |FROM both_offsets GROUP BY w ORDER BY 1""".stripMargin

  // ---- from_json extraction + aggregation ------------------------------------
  def eventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k",
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        avg(col("k")).cast("double").as("avg_k"),
        max(col("k")).cast("long").as("max_k"),
        min(col("k")).cast("long").as("min_k"))
      .orderBy("event_type")

  val eventsJsonSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(avg(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE) AS avg_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      |  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- VARIANT ingestion: parse once, shred on access -------------------------
  // The same extraction as events_json but through Spark 4's VariantType:
  // props parses to a binary variant value ONCE (parse_json), and fields
  // shred out via variant_get path access. For semi-structured feeds this
  // replaces per-field from_json re-parses (N fields = N parses of the
  // same string) with one parse + N cheap binary path reads — the
  // schema-on-read shape a 100 TB JSON-ish feed needs. Same DuckDB oracle
  // as events_json: the surface changes, the semantics must not.
  def eventsVariant(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("v", parse_json(col("props")))
      .withColumn("k", variant_get(col("v"), "$.k", "long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        avg(col("k")).cast("double").as("avg_k"),
        max(col("k")).cast("long").as("max_k"),
        min(col("k")).cast("long").as("min_k"))
      .orderBy("event_type")

  // ---- Sessionization: 30-minute inactivity gap ------------------------------
  // lag -> gap flag -> running sum = session id; then per-user session stats.
  // The same lag+cumsum shape a streaming flatMapGroupsWithState implements
  // incrementally (graft.streaming.Sessionize).
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val sessions = Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (col("ts").cast("double") - col("prev_ts").cast("double")) > 1800.0, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("session_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("session_events")).cast("long").as("n_events"),
        max(col("session_events")).cast("long").as("max_session_events"))
      .orderBy("user_id")
  }

  val eventsSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessions AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS session_events
      |  FROM sessions GROUP BY user_id, session_id)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(sum(session_events) AS BIGINT) AS n_events,
      |  CAST(max(session_events) AS BIGINT) AS max_session_events
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- Range join via binning -------------------------------------------------
  // Point-in-interval join with NO equi key — the plan class Spark can only
  // express natively as a broadcast-nested-loop (fine while one side is
  // small, fatal when both sides scale). The scale form: quantize intervals
  // and points onto a fixed-width bin grid, equi-join on the bin, re-check
  // the exact predicate. Each interval here spans <= 2 bins (window width ==
  // bin width), so the exploded interval side stays O(W); the join becomes a
  // plain shuffled hash join on `bin` that AQE can skew-split if one hour of
  // the corpus is hot. Intervals: the per-(event_type, day) peak-value event
  // +/- 30 min; points: every event. All time arithmetic on epoch
  // MICROSECOND longs — integer-exact in both engines, no timezone anywhere.
  private val RjBinUs  = 3600L * 1000000L  // 1 h bins == window width
  private val RjHalfUs = 1800L * 1000000L  // +/- 30 min around the anchor

  def rangeJoinBins(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("es"),
        col("user_id"), col("event_type"), col("value"))
    val byTypeDay = Window
      .partitionBy(col("event_type"), col("day"))
      .orderBy(col("value").desc, col("es").asc, col("event_id").asc)
    val anchors = ev
      .withColumn("day", floorDiv(col("es"), 86400000000L))
      .withColumn("rn", row_number().over(byTypeDay))
      .where(col("rn") === 1)
      .select(col("event_id").as("win_id"), col("event_type").as("win_type"),
        (col("es") - RjHalfUs).as("lo"), (col("es") + RjHalfUs).as("hi"))
    val winBins = anchors.withColumn("bin",
      explode(sequence(floorDiv(col("lo"), RjBinUs), floorDiv(col("hi"), RjBinUs))))
    val pts = ev.withColumn("bin", floorDiv(col("es"), RjBinUs))
    winBins.join(pts, Seq("bin"))
      .where(col("es").between(col("lo"), col("hi")))
      .groupBy(col("win_id"), col("win_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("user_id")).cast("long").as("n_users"),
        Money.sumCents(col("value")).as("total_value"))
      .orderBy("win_id")
  }

  // The oracle states the SEMANTICS (a plain BETWEEN theta join); the engine
  // plan above is the scale rewrite of exactly this query.
  val rangeJoinBinsSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, epoch_us(ts) AS es, user_id, event_type, value
       |  FROM events),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY event_type, es // 86400000000
       |      ORDER BY value DESC, es ASC, event_id ASC) AS rn
       |  FROM ev),
       |anchors AS (
       |  SELECT event_id AS win_id, event_type AS win_type,
       |         es - 1800000000 AS lo, es + 1800000000 AS hi
       |  FROM ranked WHERE rn = 1)
       |SELECT a.win_id, a.win_type,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       |  ${Money.sumCentsSql("e.value")} AS total_value
       |FROM anchors a JOIN ev e ON e.es BETWEEN a.lo AND a.hi
       |GROUP BY a.win_id, a.win_type
       |ORDER BY a.win_id""".stripMargin

  // ---- Session concurrency: distributed prefix sum ----------------------------
  // "How many sessions were open at once?" — the interval-sweep problem. The
  // textbook form sorts ALL boundaries and runs ONE global running sum: a
  // single-partition window, the classic scale killer. The distributed form
  // runs the sweep as a two-level prefix sum over minute bins:
  //   1. sessions (sessionize's lag+cumsum) -> +1 delta at the start minute,
  //      -1 just after the end minute;
  //   2. per-bin delta totals (partial-agg groupBy — parallel);
  //   3. per-DAY block sums, prefix-summed over the day table (a window over
  //      O(corpus time span) rows, not O(corpus) rows);
  //   4. within-day running sum (window PARTITIONED by day — parallel) plus
  //      the broadcast day-prefix = the exact global running concurrency.
  // Concurrency is piecewise constant between delta bins, so a day's true
  // maximum is max(carried-in concurrency at day start, running sum at each
  // in-day delta bin) — the carry term matters when the day's first delta is
  // a session END (the post-decrement value alone would under-report), and
  // days with open sessions but NO deltas at all report the carry. The
  // output therefore covers EVERY day between the first and last boundary
  // bin, not just days that happen to contain a delta.
  def sessionConcurrency(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("es").asc, col("event_id").asc)
    val MinUs = 60L * 1000000L
    val sessions = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("es"))
      .withColumn("prev_es", lag(col("es"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_es").isNull || col("es") - col("prev_es") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(floorDiv(min(col("es")), MinUs).as("sb"),
        floorDiv(max(col("es")), MinUs).as("eb"))
    val deltas = sessions.select(col("sb").as("bin"), lit(1L).as("d"))
      .unionByName(sessions.select((col("eb") + 1L).as("bin"), lit(-1L).as("d")))
      .groupBy(col("bin")).agg(sum(col("d")).as("delta"))
      .withColumn("day_idx", floorDiv(col("bin"), 1440L))
    // the full day span (one bounded scalar agg + explode — O(corpus time
    // span) rows), each with its carried-in concurrency at day start: the
    // prefix sum of whole-day delta totals over all PRIOR days. The global
    // window runs over the day table, not the corpus.
    val dayAgg = deltas
      .groupBy(col("day_idx")).agg(sum(col("delta")).as("day_delta"))
    val dayCarry = dayAgg
      .agg(min(col("day_idx")).as("d0"), max(col("day_idx")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day_idx"))
      .join(dayAgg, Seq("day_idx"), "left_outer")
      .withColumn("carry",
        coalesce(sum(col("day_delta")).over(
          Window.orderBy(col("day_idx").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day_idx"), col("carry"))
    val withinDay = Window.partitionBy(col("day_idx"))
      .orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deltaDayMax = deltas
      .join(broadcast(dayCarry), Seq("day_idx"))
      .withColumn("concurrent", col("carry") + sum(col("delta")).over(withinDay))
      .groupBy(col("day_idx"))
      .agg(max(col("concurrent")).as("m"))
    // deltaDayMax is day-count-sized (one row per day with deltas) but its
    // plan-time estimate inherits the events scan, blocking the broadcast
    // AQE would otherwise pick — hint it (bounded by time span, not corpus)
    dayCarry.join(broadcast(deltaDayMax), Seq("day_idx"), "left_outer")
      .select(col("day_idx"),
        greatest(col("carry"), coalesce(col("m"), col("carry")))
          .cast("long").as("max_concurrent"))
      .orderBy("day_idx")
  }

  // Oracle: the single global running sum, sampled at day starts AND at
  // every delta bin — semantically the minute-by-minute sweep, collapsed
  // to the points where concurrency can change or a day boundary crosses.
  val sessionConcurrencySql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS es FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, es,
      |    CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY es ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY es ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
      |    es
      |  FROM flagged),
      |bounds AS (
      |  SELECT user_id, session_id,
      |    min(es) // 60000000 AS sb, max(es) // 60000000 AS eb
      |  FROM sess GROUP BY user_id, session_id),
      |deltas AS (
      |  SELECT bin, sum(d) AS delta FROM (
      |    SELECT sb AS bin, 1 AS d FROM bounds
      |    UNION ALL
      |    SELECT eb + 1 AS bin, -1 AS d FROM bounds)
      |  GROUP BY bin),
      |daydelta AS (
      |  SELECT bin // 1440 AS day_idx, sum(delta) AS day_delta
      |  FROM deltas GROUP BY 1),
      |days AS (
      |  SELECT unnest(range((SELECT min(day_idx) FROM daydelta),
      |                      (SELECT max(day_idx) FROM daydelta) + 1)) AS day_idx),
      |carry AS (
      |  SELECT d.day_idx,
      |    coalesce(sum(dd.day_delta) OVER (ORDER BY d.day_idx ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
      |  FROM days d LEFT JOIN daydelta dd ON d.day_idx = dd.day_idx),
      |running AS (
      |  SELECT bin // 1440 AS day_idx,
      |    sum(delta) OVER (ORDER BY bin ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
      |  FROM deltas),
      |perday AS (
      |  SELECT day_idx, max(concurrent) AS m FROM running GROUP BY day_idx)
      |SELECT c.day_idx,
      |  CAST(greatest(c.carry, coalesce(p.m, c.carry)) AS BIGINT) AS max_concurrent
      |FROM carry c LEFT JOIN perday p ON c.day_idx = p.day_idx
      |ORDER BY c.day_idx""".stripMargin

  // ---- Pivot: per-day counts by event type ------------------------------------
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def eventsPivotDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .groupBy("day")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .select(col("day") +: EventTypes.map(t => col(t).cast("long").as(t)): _*)
      .orderBy("day")

  val eventsPivotDailySql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
      |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
      |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- CUBE: totals across every (day, event_type) subset --------------------
  // All four grouping combinations in one pass (partial-agg friendly — the
  // Expand operator replicates rows per grouping set before ONE shuffle).
  // grouping_id disambiguates the NULL-as-total rows from genuine NULLs.
  def eventsCubeDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .cube(col("day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("value")).cast("double").as("total_value"),
        grouping_id(col("day"), col("event_type")).cast("long").as("gid"))
      .orderBy(col("gid"), col("day"), col("event_type"))

  val eventsCubeDailySql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(value) AS DOUBLE) AS total_value,
      |  CAST(grouping(date_trunc('day', ts)) * 2 + grouping(event_type) AS BIGINT) AS gid
      |FROM events
      |GROUP BY CUBE (date_trunc('day', ts), event_type)
      |ORDER BY gid, day, event_type""".stripMargin

  // ---- Latest event per user (dedup-by-key, keep newest) ---------------------
  def eventsLatestPerUser(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("user_id")
  }

  val eventsLatestPerUserSql: String =
    """SELECT user_id, event_id, event_type,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---- Native session windows (30-min gap), the Spark-idiomatic form of
  //      eventsSessionize; oracle derives identical sessions via lag+cumsum
  //      (gap >= 30min opens a session: session_window intervals are
  //      half-open [start, last+gap)) --------------------------------------
  def eventsSessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("value")).cast("double").as("total_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"), col("total_value"))
      .orderBy("user_id", "session_start")

  val eventsSessionWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(value) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---- DYNAMIC-gap session windows --------------------------------------------
  // The session timeout depends on the event: a purchase keeps the session
  // alive 60 minutes, anything else 30 — the engagement-weighted
  // sessionization real funnels use. Each event contributes the interval
  // [ts, ts+gap); sessions are the merged overlap components, so the
  // oracle's new-session test is ts >= running max of previous members'
  // ends (NOT a fixed lag difference), and a session's end is the max
  // member end. Same one-shuffle session_window plan as the fixed-gap
  // form; the gap is a per-row column.
  def eventsSessionDynamic(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"),
          when(col("event_type") === "purchase", "60 minutes")
            .otherwise("30 minutes")).as("w"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("value")).cast("double").as("total_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"), col("total_value"))
      .orderBy("user_id", "session_start")

  val eventsSessionDynamicSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN event_type = 'purchase' THEN INTERVAL '60 minutes'
      |         ELSE INTERVAL '30 minutes' END AS gap
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, value, gap,
      |    CASE WHEN max(ts + gap) OVER w IS NULL
      |           OR ts >= max(ts + gap) OVER w
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |sessions AS (
      |  SELECT user_id, ts, value, gap,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts + gap), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(value) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---- Calendar densification + forward fill ----------------------------------
  // The time-series prep step every per-entity model needs: give EVERY
  // user a row for EVERY day of the observed range — absent days with
  // n_events = 0 and the day's total forward-filled from the last
  // observed day (null before a user's first activity). The day grid is
  // one broadcast (min,max) scalar exploded per user, so the densified
  // row count is users x days by construction — the intended output, not
  // a join blowup; the fill is one per-user window over that grid. Daily
  // totals sum exact micro-units (double order-free).
  def eventsGapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val daily = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col("value") * 1e6).cast("long")).as("tv_micro"))
    val range = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = daily.select("user_id").distinct()
      .crossJoin(broadcast(range))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_micro",
        last(col("tv_micro"), ignoreNulls = true).over(byUser))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        (col("filled_micro").cast("double") / 1e6).as("filled_value"))
      .orderBy("user_id", "day")
  }

  val eventsGapFillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS tv_micro
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      |grid AS (
      |  SELECT u.user_id, CAST(gs.d AS DATE) AS day
      |  FROM (SELECT DISTINCT user_id FROM daily) u
      |  CROSS JOIN r
      |  CROSS JOIN LATERAL (
      |    SELECT unnest(generate_series(CAST(r.d0 AS TIMESTAMP),
      |      CAST(r.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS d) gs)
      |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
      |  coalesce(d.n, 0) AS n_events,
      |  CAST(last_value(d.tv_micro IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.day ASC) AS DOUBLE) / 1000000.0
      |    AS filled_value
      |FROM grid g LEFT JOIN daily d
      |  ON g.user_id = d.user_id AND g.day = d.day
      |ORDER BY g.user_id, g.day""".stripMargin

  // ---- Incremental materialized-view refresh ----------------------------------
  // The daily-rollup MV (event_type x day: count + value sum) is BUILT
  // AND STORED from the historical slice (day < cutoff) once per (JVM,
  // sfDir), then refreshed with the post-cutoff feed through
  // MaterializedView.additiveRefresh — history is never rescanned, and a
  // late event landing on a pre-cutoff day would merge correctly into its
  // stored partial. The oracle is the full recompute: refresh(stored,
  // delta) must be indistinguishable from aggregating all of history.
  private val MvCutoff = "2024-01-21"
  private val mvDirs = new graft.Memo[String]

  private[graft] def dailyPartial(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col("value") * 1e6).cast("long")).as("tv_micro"))

  private def ensureMv(s: SparkSession, dir: String): String = mvDirs(dir) {
    val base = graft.ScratchDirs.fresh("graft_mv", "daily").toString
    dailyPartial(Tables.events(s, dir)
        .filter(to_date(col("ts")) < lit(MvCutoff).cast("date")))
      .write.mode("overwrite").parquet(base)
    base
  }

  def mvRefresh(s: SparkSession, dir: String): DataFrame = {
    val mv = s.read.parquet(ensureMv(s, dir))
    val delta = dailyPartial(Tables.events(s, dir)
      .filter(to_date(col("ts")) >= lit(MvCutoff).cast("date")))
    graft.operators.MaterializedView
      .additiveRefresh(mv, delta, Seq("event_type", "day"), Seq("n", "tv_micro"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n").cast("long").as("n_events"),
        (col("tv_micro").cast("double") / 1e6).as("total_value"))
      .orderBy("event_type", "day")
  }

  val mvRefreshSql: String =
    """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE)
      |    / 1000000.0 AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  // ---- Linear multi-touch attribution -----------------------------------------
  // The marketing-analytics staple: every purchase's value is split
  // EQUALLY across the user's clicks in the preceding 24 h (linear
  // attribution; click channel = props.k mod 5), purchases with no
  // qualifying click report under channel -1 at full value. One left
  // interval join on the user key (state bounded per user by the 24 h
  // window — the same shape Spark's stream-stream interval join keeps
  // bounded) plus one count window per purchase; per-touch credits round
  // to micro-units before the integer channel sum, so the total is
  // independent of add order and value conservation is exact: summing
  // attributed_value over channels reproduces total purchase value up to
  // the final per-purchase rounding.
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("ct"),
        (from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k") % 5).as("channel"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pt"),
        col("event_id").as("purchase_id"), col("value"))
    val j = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("ct") <= col("pt") &&
        col("ct") > col("pt") - lit(86400000000L), "left")
    attributionRollup(j)
  }

  /** The credit-division + channel-rollup tail over left-joined
    * (purchase_id, value, channel, ct) touch rows — shared verbatim by
    * the batch query and the streaming post-pass so the two paths cannot
    * diverge semantically.
    */
  private[graft] def attributionRollup(j: DataFrame): DataFrame = {
    val perPurchase = Window.partitionBy(col("purchase_id"))
    j.withColumn("n_clicks", count(col("ct")).over(perPurchase))
      .withColumn("credit_micro",
        round(when(col("n_clicks") === 0, col("value"))
          .otherwise(col("value") / col("n_clicks").cast("double"))
          * 1e6).cast("long"))
      .groupBy(coalesce(col("channel"), lit(-1L)).as("channel"))
      .agg(count(lit(1)).cast("long").as("n_touches"),
        (sum(col("credit_micro")).cast("double") / 1e6).as("attributed_value"))
      .orderBy("channel")
  }

  val eventsAttributionSql: String =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS ct,
      |    CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS channel
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS pt, event_id AS purchase_id, value
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT p.purchase_id, p.value, c.channel, c.ct
      |  FROM p LEFT JOIN c ON p.user_id = c.user_id
      |    AND c.ct <= p.pt AND c.ct > p.pt - 86400000000),
      |n AS (
      |  SELECT purchase_id, value, channel,
      |    count(ct) OVER (PARTITION BY purchase_id) AS n_clicks FROM j),
      |cr AS (
      |  SELECT coalesce(channel, -1) AS channel,
      |    CAST(round(CASE WHEN n_clicks = 0 THEN value
      |      ELSE value / CAST(n_clicks AS DOUBLE) END * 1000000.0) AS BIGINT)
      |      AS credit_micro
      |  FROM n)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |  CAST(sum(credit_micro) AS DOUBLE) / 1000000.0 AS attributed_value
      |FROM cr GROUP BY channel ORDER BY channel""".stripMargin

  // ---- SCD type-2 history from the change feed --------------------------------
  // The lakehouse dimension-build: treat each user's event_type stream as
  // attribute changes and emit the type-2 validity intervals — one row per
  // run of consecutive identical values, [valid_from, valid_to) half-open,
  // NULL valid_to + is_current on the open run. Islands via the classic
  // lag-compare + running-sum (one window pass over the user partition, no
  // self-join); interval ends via lead over the collapsed runs — the
  // second window runs over the ALREADY-collapsed table (rows = number of
  // changes, not number of events), so the expensive pass is the single
  // per-user scan. Ties inside a timestamp break on event_id, mirrored in
  // the oracle.
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val islands = Tables.events(s, dir)
      .withColumn("prev_state", lag(col("event_type"), 1).over(byUser))
      .withColumn("changed",
        when(col("prev_state").isNull ||
          col("prev_state") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("changed")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = islands.groupBy(col("user_id"), col("island"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts")).as("vf"),
        count(lit(1)).cast("long").as("n_events"))
    val byRun = Window.partitionBy(col("user_id")).orderBy(col("island").asc)
    runs.withColumn("vt", lead(col("vf"), 1).over(byRun))
      .select(col("user_id"), col("state"),
        date_format(col("vf"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("vt"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("n_events"),
        col("vt").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "state")
  }

  val scd2HistorySql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS changed
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |islands AS (
      |  SELECT user_id, event_type, ts,
      |    sum(changed) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flagged),
      |runs AS (
      |  SELECT user_id, island, min(event_type) AS state, min(ts) AS vf,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM islands GROUP BY user_id, island)
      |SELECT user_id, state,
      |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  strftime(lead(vf) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
      |  n_events,
      |  lead(vf) OVER w2 IS NULL AS is_current
      |FROM runs
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY island ASC)
      |ORDER BY user_id, valid_from, state""".stripMargin

  /** eventsSessionWindowSql with per-session sums on the 1e-6 grid — the
    * oracle for the STREAMING session_window run, whose state-store merge
    * order differs from the batch scan order.
    */
  val eventsSessionWindowRoundedSql: String =
    eventsSessionWindowSql.replace(
      "CAST(sum(value) AS DOUBLE) AS total_value",
      "CAST(round(sum(value), 6) AS DOUBLE) AS total_value")

  // ---- As-of join: each purchase matched to the user's latest prior signup --
  def eventsAsofSignup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin
      .asOfPrior(purchases, signups, "user_id", "ts", "ts", "event_id")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("asof.event_id").as("signup_id"),
        date_format(col("asof.ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
      .orderBy("purchase_id")
  }

  // ---- Forward as-of join: each click's NEXT purchase within 1 hour ----------
  // The attribution dual of events_asof_signup (asOfPrior): direction =
  // forward with a tolerance, pandas merge_asof's other half. Same
  // single-shuffle window shape — no pair blowup; unmatched or
  // out-of-tolerance clicks keep a null purchase.
  def eventsAsofNext(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin
      .asOfNext(clicks, purchases, "user_id", "ts", "ts", "event_id",
        toleranceSeconds = Some(3600L))
      .select(col("event_id").as("click_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        col("asof.event_id").as("purchase_id"),
        (unix_micros(col("asof.ts")) - unix_micros(col("ts"))).as("delta_us"))
      .orderBy("click_id")
  }

  val eventsAsofNextSql: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT event_id AS pid, user_id, ts AS pts FROM events
      |  WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT c.event_id, p.pid, p.pts,
      |    row_number() OVER (PARTITION BY c.event_id
      |      ORDER BY p.pts, p.pid) AS rn
      |  FROM clicks c JOIN purch p ON c.user_id = p.user_id
      |    AND epoch_us(p.pts) >= epoch_us(c.ts)
      |    AND epoch_us(p.pts) - epoch_us(c.ts) <= 3600000000)
      |SELECT c.event_id AS click_id, c.user_id,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
      |  m.pid AS purchase_id,
      |  CAST(epoch_us(m.pts) - epoch_us(c.ts) AS BIGINT) AS delta_us
      |FROM clicks c LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      |  ON c.event_id = m.event_id
      |ORDER BY click_id""".stripMargin

  val eventsAsofSignupSql: String =
    """WITH u AS (
      |  SELECT user_id, ts, 1 AS side, event_id AS l_event,
      |         CAST(NULL AS BIGINT) AS r_event, CAST(NULL AS TIMESTAMP) AS r_ts
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0 AS side, NULL, event_id, ts
      |  FROM events WHERE event_type = 'signup'),
      |m AS (
      |  SELECT *,
      |    last_value(r_event IGNORE NULLS) OVER w AS sid,
      |    last_value(r_ts IGNORE NULLS) OVER w AS sts
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts ASC, side ASC, r_event ASC NULLS LAST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT l_event AS purchase_id, user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  sid AS signup_id,
      |  strftime(sts, '%Y-%m-%d %H:%M:%S') AS signup_ts
      |FROM m WHERE side = 1 ORDER BY purchase_id""".stripMargin

  // ---- Bucketed range join: purchases within 30 min after a click ------------
  def eventsClickToPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("r_t"),
        col("event_id").as("purchase_id"))
    graft.operators.RangeJoin
      .timeRangePairs(clicks, purchases, "user_id", 1800L * 1000000)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        ((col("r_t") - col("t")) / 1e6).cast("double").as("delta_s"))
      .orderBy("click_id", "purchase_id")
  }

  val eventsClickToPurchaseSql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
      |  CAST((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0 AS DOUBLE) AS delta_s
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      |ORDER BY click_id, purchase_id""".stripMargin

  // ---- Funnel analysis: view → click → purchase, strictly ordered ------------
  // The product-analytics staple: how many users progress through the
  // ordered stages, where each stage must happen strictly AFTER the user's
  // entry into the previous one (first view, first click after that view,
  // first purchase after that click — not mere co-occurrence).
  // Each stage is one filtered aggregation joined on user_id; every
  // groupBy/join in the chain shuffles on the same key, so the exchanges
  // line up. Counts are integers and the conversion ratio is one division
  // at the end — nothing order-sensitive.
  def eventsFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel
      .funnel(Tables.events(s, dir), Seq("view", "click", "purchase"))
      .orderBy("stage_idx")

  val eventsFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id),
      |counts AS (
      |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM c
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM p)
      |SELECT stage_idx, stage, n_users,
      |  CASE WHEN (SELECT n_users FROM counts WHERE stage_idx = 1) = 0 THEN 0.0
      |    ELSE CAST(n_users AS DOUBLE) /
      |      CAST((SELECT n_users FROM counts WHERE stage_idx = 1) AS DOUBLE)
      |    END AS conversion
      |FROM counts ORDER BY stage_idx""".stripMargin

  // ---- Cohort retention -------------------------------------------------------
  // Users grouped by first-activity day; for each (cohort, day offset),
  // how many were active again. distinct (user, day) first, so a heavy
  // day of one user counts once; cohort sizes join back broadcast (the
  // cohort table is |days| rows). Counts integer, ratio one division.
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val activeDays = ev
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val cohorts = activeDays.groupBy("user_id")
      .agg(min(col("day")).as("cohort"))
    val sizes = cohorts.groupBy("cohort")
      .agg(count(lit(1)).cast("long").as("cohort_size"))
    activeDays.join(cohorts, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_active"))
      .join(broadcast(sizes), "cohort")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"),
        col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  val eventsRetentionSql: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, min(day) AS cohort FROM active GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
      |  FROM cohorts GROUP BY cohort),
      |r AS (
      |  SELECT c.cohort, date_diff('day', c.cohort, a.day) AS day_offset,
      |    CAST(count(*) AS BIGINT) AS n_active
      |  FROM active a JOIN cohorts c ON a.user_id = c.user_id
      |  GROUP BY c.cohort, date_diff('day', c.cohort, a.day))
      |SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_day,
      |  CAST(r.day_offset AS BIGINT) AS day_offset, r.n_active, s.cohort_size,
      |  CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
      |FROM r JOIN sizes s ON r.cohort = s.cohort
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---- Clickstream transition matrix ------------------------------------------
  // The Markov view of user behavior: per-user event sequences (ordered by
  // (ts, event_id) — the deterministic tiebreak) yield consecutive
  // (prev_type → event_type) pairs, counted corpus-wide. One lag window
  // keyed by user, one count shuffle keyed by the pair; integers only.
  def eventsTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy("prev_type", "next_type")
  }

  val eventsTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      |FROM seq WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, event_type
      |ORDER BY prev_type, next_type""".stripMargin

  // ---- Exact heavy hitters via Misra-Gries candidates --------------------------
  // Users with > 1/HhK of all events, found WITHOUT a full-domain groupBy:
  // a k-counter mergeable sketch nominates candidates, only candidates are
  // recounted exactly (operators/HeavyHitters scaladoc). 150 distinct users
  // against 128 counters means the sketch genuinely evicts; the output is
  // exact regardless.
  private val HhK = 128

  // ---- Daily-activity anomaly flags -------------------------------------------
  // Days where a user's event count sits > 2 sigma above their own daily
  // mean — the per-entity outlier sweep an ops pipeline runs (bot spikes,
  // replay storms). One aggregation shuffle to (user, day), one window
  // keyed by user; z pinned to the 1e-6 grid.
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    daily
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .filter(col("sd") > 0 && (col("n") - col("mu")) / col("sd") > 2.0)
      .select(col("user_id"), col("day"), col("n").cast("long").as("n"),
        round((col("n") - col("mu")) / col("sd"), 6).cast("double").as("z"))
      .orderBy("user_id", "day")
  }

  val eventsAnomalySql: String =
    """WITH daily AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT *, avg(n) OVER (PARTITION BY user_id) AS mu,
      |    stddev_samp(n) OVER (PARTITION BY user_id) AS sd
      |  FROM daily)
      |SELECT user_id, day, CAST(n AS BIGINT) AS n,
      |  CAST(round((n - mu) / sd, 6) AS DOUBLE) AS z
      |FROM st WHERE sd > 0 AND (n - mu) / sd > 2.0
      |ORDER BY user_id, day""".stripMargin

  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters
      .exactHeavyHitters(Tables.events(s, dir), "user_id", HhK)
      .orderBy("user_id")

  val heavyHittersSql: String =
    s"""SELECT user_id, CAST(count(*) AS BIGINT) AS freq
       |FROM events WHERE user_id IS NOT NULL
       |GROUP BY user_id
       |HAVING count(*) * $HhK >
       |  (SELECT count(*) FROM events WHERE user_id IS NOT NULL)
       |ORDER BY user_id""".stripMargin

  /** Oracle for the stream-static enrichment join (sum rounded to the
    * 1e-6 grid — micro-batch summation order differs from scan order).
    */
  val streamEnrichStaticSql: String =
    """SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(round(sum(e.value), 6) AS DOUBLE) AS total_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- Rolling event-time window: per-user trailing 1-hour stats -------------
  // RANGE BETWEEN INTERVAL frames — the event-time rolling aggregate
  // (each event sees the user's activity in the preceding hour, itself
  // included). One window shuffle keyed by user; the frame is a sliding
  // range over the sorted partition, so cost is linear per user, never
  // pairwise. Frame bounds are in integer epoch-microseconds in BOTH
  // engines, so boundary inclusion can't drift through float seconds.
  def eventsRolling1h(s: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(us)
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("n_1h", count(lit(1)).over(w).cast("long"))
      .withColumn("value_1h", round(sum(col("value")).over(w), 6).cast("double"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("n_1h"), col("value_1h"))
      .orderBy("event_id")
  }

  val eventsRolling1hSql: String =
    """SELECT event_id, user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
      |  CAST(round(sum(value) OVER w, 6) AS DOUBLE) AS value_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---- Z-order values: the multi-dimensional layout key ----------------------
  // Morton interleave of (user_id, event-minute) — the clustering key a
  // z-ordered rewrite sorts by so file min/max stats prune 2-dimensional
  // box predicates (ZOrder scaladoc; OperatorSpec measures the actual
  // row-group skipping win). Pure bit arithmetic, bit-identical in both
  // engines.
  private val ZBits = 20

  def zorderValues(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("mnt", expr("unix_micros(ts) div 60000000"))
      .select(col("event_id"), col("user_id"),
        graft.operators.ZOrder.interleave(col("user_id"), col("mnt"), ZBits)
          .as("z"))
      .orderBy("event_id")

  val zorderValuesSql: String = {
    val z = graft.operators.ZOrder.interleaveSql("user_id", "mnt", ZBits)
    s"""WITH m AS (
       |  SELECT event_id, user_id, epoch_us(ts) // 60000000 AS mnt
       |  FROM events)
       |SELECT event_id, user_id, CAST($z AS BIGINT) AS z
       |FROM m ORDER BY event_id""".stripMargin
  }

  // ---- Data-quality report: every ingest rule in one scan --------------------
  // Mixed so both branches are exercised: three rules that hold on the
  // synthetic feed (null key, negative value, unknown type) and two that
  // genuinely fire (value outliers, error-type rows).
  def dataQuality(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DataQuality.Rule
    graft.operators.DataQuality.report(Tables.events(s, dir), Seq(
        Rule("error_rows", col("event_type") === "error"),
        Rule("negative_value", col("value") < 0),
        Rule("null_user", col("user_id").isNull),
        Rule("outlier_value", col("value") > 400),
        Rule("unknown_type", !col("event_type").isin(EventTypes: _*))))
      .orderBy("rule")
  }

  val dataQualitySql: String = {
    val arms = Seq(
      ("error_rows", "event_type = 'error'"),
      ("negative_value", "value < 0"),
      ("null_user", "user_id IS NULL"),
      ("outlier_value", "value > 400"),
      ("unknown_type",
        "event_type NOT IN ('click','error','purchase','signup','view')"))
      .map { case (n, cond) =>
        s"SELECT '$n' AS rule, CAST(count(*) FILTER ($cond) AS BIGINT) AS v FROM events"
      }.mkString("\n  UNION ALL\n  ")
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events),
       |r AS (
       |  $arms)
       |SELECT r.rule, n.n_rows, r.v AS n_violations,
       |  CAST(r.v AS DOUBLE) / CAST(n.n_rows AS DOUBLE) AS violation_rate
       |FROM r, n ORDER BY rule""".stripMargin
  }

  // ---- Top 3-step user paths (the transition matrix's order-3 sibling) -------
  // Per-user consecutive event-type TRIPLES via two lags over the same
  // (ts, event_id) window, counted corpus-wide, top-20 with full
  // deterministic tiebreak — the path-mining signal funnels are designed
  // from. One window exchange keyed by user + one count shuffle +
  // TakeOrdered.
  def eventsTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1").as("step1"), col("t2").as("step2"),
        col("event_type").as("step3"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("step1").asc, col("step2").asc,
        col("step3").asc)
      .limit(20)
  }

  val eventsTrigramsSql: String =
    """WITH lagged AS (
      |  SELECT user_id,
      |    lag(event_type, 2) OVER w AS step1,
      |    lag(event_type, 1) OVER w AS step2,
      |    event_type AS step3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
      |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
      |FROM lagged WHERE step1 IS NOT NULL
      |GROUP BY step1, step2, step3
      |ORDER BY n DESC, step1 ASC, step2 ASC, step3 ASC
      |LIMIT 20""".stripMargin

  // ---- Join-key skew report: the shuffle-planning diagnostic -----------------
  // One row summarizing how skewed a prospective shuffle key is: key count,
  // per-key row-count quantiles (via the range-repartitioned exact
  // Quantiles operator — no single-task global sort), the heaviest key's
  // count, and the share of all rows held by the top 1 / top 10 keys. This
  // is the measurement that decides between a plain shuffle join, AQE skew
  // splitting, and an explicit salt (SkewJoin) BEFORE burning a cluster
  // run; at 100 TB it costs one partial-aggregated count per key plus the
  // quantile machinery's bounded driver traffic.
  def skewReport(s: SparkSession, dir: String): DataFrame = {
    // cached: the per-key count table feeds three consumers (stats agg,
    // the eager quantile pass, the top-10) — uncached, the full-table
    // groupBy re-runs for each
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .registeredCache()
    val stats = counts.agg(
      count(lit(1)).cast("long").as("n_keys"),
      sum(col("c")).cast("long").as("total_rows"),
      max(col("c")).cast("long").as("max_n"))
    val q = graft.operators.Quantiles.exactQuantiles(
        counts.withColumn("g", lit("all")), "g", "c", Seq(0.5, 0.9, 0.99))
      .select(col("q0").as("p50_n"), col("q1").as("p90_n"),
        col("q2").as("p99_n"))
    // orderBy+limit plans TakeOrderedAndProject (distributed per-partition
    // top-k, no single-task global window over n_keys rows)
    val top10 = counts.orderBy(col("c").desc, col("user_id").asc).limit(10)
      .agg(sum(col("c")).cast("long").as("top10_rows"))
    stats.crossJoin(q).crossJoin(top10)
      .select(col("n_keys"), col("total_rows"), col("max_n"),
        col("p50_n").cast("double").as("p50_n"),
        col("p90_n").cast("double").as("p90_n"),
        col("p99_n").cast("double").as("p99_n"),
        (col("max_n").cast("double") / col("total_rows").cast("double"))
          .as("top1_share"),
        (col("top10_rows").cast("double") / col("total_rows").cast("double"))
          .as("top10_share"))
  }

  val skewReportSql: String =
    """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(c) AS BIGINT) AS total_rows,
      |    CAST(max(c) AS BIGINT) AS max_n
      |  FROM c),
      |q AS (
      |  SELECT CAST(quantile_cont(CAST(c AS DOUBLE), 0.5) AS DOUBLE) AS p50_n,
      |    CAST(quantile_cont(CAST(c AS DOUBLE), 0.9) AS DOUBLE) AS p90_n,
      |    CAST(quantile_cont(CAST(c AS DOUBLE), 0.99) AS DOUBLE) AS p99_n
      |  FROM c),
      |t AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS top10_rows FROM (
      |    SELECT c FROM c ORDER BY c DESC, user_id ASC LIMIT 10))
      |SELECT s.n_keys, s.total_rows, s.max_n, q.p50_n, q.p90_n, q.p99_n,
      |  CAST(s.max_n AS DOUBLE) / s.total_rows AS top1_share,
      |  CAST(t.top10_rows AS DOUBLE) / s.total_rows AS top10_share
      |FROM s, q, t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_report" -> (skewReport _),
    "events_trigrams" -> (eventsTrigrams _),
    "heavy_hitters" -> (heavyHitters _),
    "events_anomaly" -> (eventsAnomaly _),
    "data_quality" -> (dataQuality _),
    "events_rolling_1h" -> (eventsRolling1h _),
    "zorder_values" -> (zorderValues _),
    "events_funnel" -> (eventsFunnel _),
    "events_transitions" -> (eventsTransitions _),
    "events_retention" -> (eventsRetention _),
    "events_click_to_purchase" -> (eventsClickToPurchase _),
    "events_session_window" -> (eventsSessionWindow _),
    "events_session_dynamic" -> (eventsSessionDynamic _),
    "scd2_history" -> (scd2History _),
    "events_attribution" -> (eventsAttribution _),
    "events_gap_fill" -> (eventsGapFill _),
    "mv_refresh" -> (mvRefresh _),
    "events_asof_signup" -> (eventsAsofSignup _),
    "events_asof_next" -> (eventsAsofNext _),
    "events_tumbling" -> (eventsTumbling _),
    // same oracles as the batch forms, results computed by the streaming
    // engine (file source -> AvailableNow -> materialized sink)
    "stream_tumbling" -> (graft.streaming.EventStreams.tumblingAvailableNow _),
    "stream_click_to_purchase" ->
      (graft.streaming.EventStreams.clickToPurchaseAvailableNow _),
    "stream_sessionize" ->
      (graft.streaming.EventStreams.sessionizeAvailableNow _),
    "stream_scd2" ->
      (graft.streaming.EventStreams.scd2AvailableNow _),
    "stream_mv_refresh" ->
      (graft.streaming.EventStreams.mvRefreshAvailableNow _),
    "stream_attribution" ->
      (graft.streaming.EventStreams.attributionAvailableNow _),
    "stream_funnel" ->
      (graft.streaming.EventStreams.funnelAvailableNow _),
    "stream_transitions" ->
      (graft.streaming.EventStreams.transitionsAvailableNow _),
    "stream_latest_per_user" ->
      (graft.streaming.EventStreams.latestPerUserAvailableNow _),
    "stream_dedup_exact" ->
      (graft.streaming.EventStreams.dedupExactAvailableNow _),
    "stream_enrich_static" ->
      (graft.streaming.EventStreams.enrichStaticAvailableNow _),
    "stream_heavy_hitters" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.streaming.EventStreams.heavyHittersAvailableNow(s, d, HhK)),
    "stream_partitioned_sink" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.streaming.EventStreams.partitionedSinkAvailableNow(s, d,
        Seq("2024-01-03", "2024-01-04", "2024-01-05"))),
    "stream_session_window" ->
      (graft.streaming.EventStreams.sessionWindowAvailableNow _),
    "events_cube_daily" -> (eventsCubeDaily _),
    "events_sliding" -> (eventsSliding _),
    "events_json" -> (eventsJson _),
    "events_variant" -> (eventsVariant _),
    "events_sessionize" -> (eventsSessionize _),
    "events_pivot_daily" -> (eventsPivotDaily _),
    "events_latest_per_user" -> (eventsLatestPerUser _),
    "range_join_bins" -> (rangeJoinBins _),
    "session_concurrency" -> (sessionConcurrency _))

  val oracles: Map[String, String] = Map(
    "skew_report" -> skewReportSql,
    "events_trigrams" -> eventsTrigramsSql,
    "heavy_hitters" -> heavyHittersSql,
    "events_anomaly" -> eventsAnomalySql,
    "data_quality" -> dataQualitySql,
    "events_rolling_1h" -> eventsRolling1hSql,
    "zorder_values" -> zorderValuesSql,
    "events_funnel" -> eventsFunnelSql,
    "events_transitions" -> eventsTransitionsSql,
    "events_retention" -> eventsRetentionSql,
    "events_click_to_purchase" -> eventsClickToPurchaseSql,
    "events_session_window" -> eventsSessionWindowSql,
    "events_session_dynamic" -> eventsSessionDynamicSql,
    "scd2_history" -> scd2HistorySql,
    "events_attribution" -> eventsAttributionSql,
    "events_gap_fill" -> eventsGapFillSql,
    "mv_refresh" -> mvRefreshSql,
    "events_asof_signup" -> eventsAsofSignupSql,
    "events_asof_next" -> eventsAsofNextSql,
    "events_tumbling" -> eventsTumblingSql,
    "stream_tumbling" -> eventsTumblingSql,
    "stream_click_to_purchase" -> eventsClickToPurchaseSql,
    "stream_sessionize" -> eventsSessionizeSql,
    "stream_scd2" -> scd2HistorySql,
    "stream_mv_refresh" -> mvRefreshSql,
    "stream_attribution" -> eventsAttributionSql,
    "stream_funnel" -> eventsFunnelSql,
    "stream_transitions" -> eventsTransitionsSql,
    "stream_latest_per_user" -> eventsLatestPerUserSql,
    "stream_dedup_exact" -> eventsTumblingRoundedSql,
    "stream_enrich_static" -> streamEnrichStaticSql,
    "stream_heavy_hitters" -> heavyHittersSql,
    "stream_partitioned_sink" -> LayoutQueries.partitionedPruneSql,
    "stream_session_window" -> eventsSessionWindowRoundedSql,
    "events_cube_daily" -> eventsCubeDailySql,
    "events_sliding" -> eventsSlidingSql,
    "events_json" -> eventsJsonSql,
    "events_variant" -> eventsJsonSql,
    "events_sessionize" -> eventsSessionizeSql,
    "events_pivot_daily" -> eventsPivotDailySql,
    "events_latest_per_user" -> eventsLatestPerUserSql,
    "range_join_bins" -> rangeJoinBinsSql,
    "session_concurrency" -> sessionConcurrencySql)
}
