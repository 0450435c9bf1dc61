package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Commit
import graft.operators.Commit.dropManagedTable

/** Data-LAYOUT lifecycle queries: the physical-design levers a 100 TB
  * deployment lives by, each proven end-to-end against an oracle that
  * recomputes the result from the raw unpartitioned parquet.
  *
  *  - `bucketed_join`: fact⋈fact co-located via storage bucketing. Both
  *    tables are written `bucketBy(N, orderkey)` after a
  *    `repartition(N, orderkey)`, whose partition ids are the bucket ids,
  *    so each bucket is one file; the join consumes the
  *    bucket layout and needs NO exchange on either side — the shuffle was
  *    paid once at write time and amortizes over every subsequent join
  *    (PlanSpec pins the exchange-free shape). This is the general-table
  *    twin of the term-bucketed search index.
  *  - `partitioned_prune`: a date-partitioned fact table read with literal
  *    day predicates — the scan touches only matching partition
  *    directories (PartitionFilters, no data read elsewhere).
  *  - `partitioned_dpp`: the same fact joined to a small dimension with a
  *    filter only the dimension knows; DYNAMIC partition pruning derives
  *    the fact's partition list from the dimension's broadcast at runtime
  *    (`dynamicpruning` subquery in the scan's PartitionFilters).
  *
  * Tables build once per (JVM, sfDir) — the amortized write step — and
  * queries read them by name, exactly how a production catalog works.
  */
object LayoutQueries {

  /** Bucket count for the co-located join tables (at 100 TB this is
    * thousands; the exchange-free property is count-agnostic as long as
    * both sides agree).
    */
  val JoinBuckets = 8

  private val built = new graft.Memo[(String, String)]

  private def tName(dir: String, name: String): String =
    "layout_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + name

  // ---- bucketed fact⋈fact ----------------------------------------------------

  private def ensureBucketed(s: SparkSession, dir: String): (String, String) =
    built(s"$dir#bucketed") {
      val liT = tName(dir, "lineitem")
      val ordT = tName(dir, "orders")
      dropManagedTable(s, liT)
      dropManagedTable(s, ordT)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(JoinBuckets, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(JoinBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liT)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(JoinBuckets, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(JoinBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordT)
      (liT, ordT)
    }

  /** Revenue per order priority through the co-located join. The `merge`
    * hint keeps the join in the sort-merge family (a broadcast would
    * bypass the bucket layout this query demonstrates); both scans report
    * their bucket spec and neither side exchanges. Revenue sums on the
    * integer-cent grid ([[graft.Money]]) so the ~120k-row-per-priority
    * total is order-free — raw double sums here differ from the oracle's
    * scan-order accumulation at ~1e-6 absolute, across the hash grain.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (liT, ordT) = ensureBucketed(s, dir)
    s.table(liT).hint("merge")
      .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        graft.Money.sumCents(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).cast("long").as("n_items"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinSql: String = {
    val rev = graft.Money.sumCentsSql("l_extendedprice * (1.0 - l_discount)")
    s"""SELECT o_orderpriority,
       |  $rev AS revenue,
       |  CAST(count(*) AS BIGINT) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  // ---- date-partitioned fact -------------------------------------------------

  /** Day-partition epoch anchor: 2024-01-01 is a Monday, so
    * (day - anchor) % 7 ∈ {5, 6} ⇔ weekend — pure integer date
    * arithmetic both engines compute identically.
    */
  private val DayAnchor = "2024-01-01"

  private def ensurePartitioned(s: SparkSession, dir: String): (String, String) =
    built(s"$dir#partitioned") {
      val evT = tName(dir, "events_byday")
      val dimT = tName(dir, "dim_days")
      dropManagedTable(s, evT)
      dropManagedTable(s, dimT)
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
      // repartition by day first: each day's rows land in one task, so
      // the table gets ~1 file per partition directory instead of
      // (tasks × days) small files
      ev.repartition(JoinBuckets, col("day"))
        .write.mode("overwrite").format("parquet")
        .partitionBy("day").saveAsTable(evT)
      // dow kept as an INT and filtered with a comparison: Spark's DPP
      // insertion gate requires a "likely selective" dim predicate
      // (BinaryComparison / In / Like...) — a bare boolean attribute
      // does not qualify and silently disables the pruning
      ev.select(col("day")).distinct()
        .withColumn("dow",
          (datediff(to_date(col("day")), to_date(lit(DayAnchor))) % 7)
            .cast("int"))
        .coalesce(1)
        .write.mode("overwrite").format("parquet").saveAsTable(dimT)
      (evT, dimT)
    }

  private val PruneDays = Seq("2024-01-03", "2024-01-04", "2024-01-05")

  /** Literal day predicates prune at the DIRECTORY level — the scan lists
    * only the 3 matching partitions; no other file is opened.
    */
  def partitionedPrune(s: SparkSession, dir: String): DataFrame = {
    val (evT, _) = ensurePartitioned(s, dir)
    s.table(evT)
      .filter(col("day").isin(PruneDays: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        graft.Money.sumMicros(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  val partitionedPruneSql: String = {
    val inList = PruneDays.map(d => s"'$d'").mkString(", ")
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((value) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
       |FROM events
       |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') IN ($inList)
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  /** Weekend traffic by event type — but only the DIMENSION knows which
    * days are weekends. Dynamic partition pruning turns the dimension's
    * broadcast into a runtime partition list for the fact scan: the
    * directories read shrink from 30 days to the ~9 weekend days without
    * any literal predicate on the fact.
    */
  def partitionedDpp(s: SparkSession, dir: String): DataFrame = {
    val (evT, dimT) = ensurePartitioned(s, dir)
    s.table(evT)
      .join(s.table(dimT).filter(col("dow") >= 5), "day")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        graft.Money.sumMicros(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  val partitionedDppSql: String =
    s"""WITH fact AS (
       |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       |    event_type, value
       |  FROM events),
       |dim AS (
       |  SELECT DISTINCT day,
       |    ((CAST(day AS DATE) - DATE '$DayAnchor') % 7) AS dow
       |  FROM fact)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((value) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
       |FROM fact JOIN dim USING (day)
       |WHERE dow >= 5
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---- schema evolution ------------------------------------------------------

  /** Two order batches written under DIFFERENT schemas — the early batch
    * predates the `o_orderpriority` column (the normal life of a long-lived
    * dataset: columns arrive mid-stream). Built once per (JVM, sfDir)
    * under the process scratch root.
    */
  private val evolvedDirs = new graft.Memo[String]

  private def ensureEvolved(s: SparkSession, dir: String): String =
    evolvedDirs(dir) {
      val base = graft.ScratchDirs.fresh("graft_layout", "evolved")
      val ord = Tables.orders(s, dir)
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/batch=1")
      ord.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$base/batch=2")
      base.toString
    }

  /** Read the evolved dataset with schema merging: the union schema comes
    * back with `o_orderpriority` null for pre-evolution rows, and the
    * aggregation folds those into a sentinel bucket. The oracle replays
    * the evolution from the raw table (even keys = the old-schema batch).
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = ensureEvolved(s, dir)
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>"))
        .as("priority"))
      .agg(count(lit(1)).cast("long").as("n"),
        graft.Money.sumCents(col("o_totalprice")).as("total"))
      .orderBy("priority")
  }

  val schemaEvolutionSql: String =
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
      |  ELSE o_orderpriority END AS priority,
      |  CAST(count(*) AS BIGINT) AS n,
      |  ${graft.Money.sumCentsSql("o_totalprice")} AS total
      |FROM orders
      |GROUP BY 1
      |ORDER BY priority""".stripMargin

  // ---- partitioned-table compaction ------------------------------------------

  /** Rewrite the partitions of a day-partitioned parquet PATH whose file
    * count exceeds `maxFilesPerPartition`, preserving the partition layout
    * (only the heavy partitions are touched). One repartition by the
    * partition key means each rewritten directory collapses to a single
    * file. The generic-table twin of Indexer.compactBucketedIndex —
    * appends grow one file per batch per partition, and scan efficiency
    * decays until the maintenance pass runs. The rewrite is staged, then
    * swapped in by [[Commit.swapDirs]] (Spark refuses to overwrite a path
    * it is reading); entry recovery finishes a crashed swap first.
    */
  def compactDayPartitions(s: SparkSession, path: String,
                           maxFilesPerPartition: Int): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val days = Commit.partitioned(fs, root)
    days.recover()
    val heavy = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
      .filter(st => fs.listStatus(st.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")) > maxFilesPerPartition)
      .map(st => st.getPath.getName.stripPrefix("day="))
    if (heavy.nonEmpty) {
      s.read.option("basePath", path).parquet(path)
        .filter(col("day").isin(heavy: _*))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day")
        .parquet(days.staging.toString)
      days.swapDirs(heavy.map(d => s"day=$d"), Nil)
    }
    heavy
  }

  /** Day-partitioned events built by THREE appends (each batch adds files
    * to every partition — the daily-ingest growth pattern), then
    * compacted. Built once per (JVM, sfDir); the query aggregates the
    * compacted table and must match the raw-table oracle exactly — proof
    * the maintenance pass moved bytes without changing a row.
    */
  private val compactedDirs = new graft.Memo[String]

  private def ensureCompacted(s: SparkSession, dir: String): String =
    compactedDirs(dir) {
      val base = graft.ScratchDirs.fresh("graft_layout", "compacted").toString
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
      (0 to 2).foreach { i =>
        ev.filter(col("event_id") % 3 === i).drop("event_id")
          .write.mode("append").partitionBy("day").parquet(base)
      }
      compactDayPartitions(s, base, maxFilesPerPartition = 2)
      base
    }

  def partitionedCompacted(s: SparkSession, dir: String): DataFrame = {
    val path = ensureCompacted(s, dir)
    s.read.option("basePath", path).parquet(path)
      .filter(col("day").isin(PruneDays: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        graft.Money.sumMicros(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join" -> (bucketedJoin _),
    "partitioned_prune" -> (partitionedPrune _),
    "partitioned_dpp" -> (partitionedDpp _),
    "schema_evolution" -> (schemaEvolution _),
    "partitioned_compacted" -> (partitionedCompacted _))

  val oracles: Map[String, String] = Map(
    "bucketed_join" -> bucketedJoinSql,
    "partitioned_prune" -> partitionedPruneSql,
    "partitioned_dpp" -> partitionedDppSql,
    "schema_evolution" -> schemaEvolutionSql,
    "partitioned_compacted" -> partitionedPruneSql)
}
