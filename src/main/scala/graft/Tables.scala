package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * All reads are plain parquet scans — column pruning and filter pushdown
  * reach the scan via Catalyst (verify with .explain: PushedFilters/ReadSchema).
  */
object Tables {

  /** Parquet SCHEMA memo per (JVM, path). Every `spark.read.parquet(path)`
    * without an explicit schema re-runs footer-based schema inference —
    * pure driver-side metadata work repeated on every DataFrame
    * CONSTRUCTION of every query (ProfileFloor r16 measured it as a
    * visible slice of the ~0.1-0.2 s per-query floor across 271 bench
    * rows). The testdata files are immutable for a process lifetime (the
    * same contract the memoized index builds rely on), so the inferred
    * StructType is memoized and passed explicitly: same schema, same scan,
    * zero inference after first touch. This caches METADATA only — every
    * run still scans the parquet data in full. A production deployment
    * gets the same effect from a catalog (table schemas are declared, not
    * re-inferred per query).
    */
  private val schemas = new Memo[org.apache.spark.sql.types.StructType]

  private def pq(s: SparkSession, path: String): DataFrame =
    s.read.schema(schemas(path)(s.read.parquet(path).schema)).parquet(path)

  def lineitem(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/lineitem.parquet")
  def orders(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/orders.parquet")
  def customer(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/part.parquet")
  def nation(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/nation.parquet")
  def region(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/region.parquet")
  /** Canonicalize the events `ts` column to a session-zone TIMESTAMP at
    * microsecond precision, whatever physical type the parquet shipped.
    * Driver testdata generations have varied: TIMESTAMP(NANOS) (Spark 4
    * refuses it natively; the legacy conf reads it as a raw nanos LONG)
    * and TIMESTAMP(MICROS) without UTC adjustment (reads as
    * TIMESTAMP_NTZ). Branching on the schema actually read — instead of
    * assuming one physical type — keeps every events consumer working
    * across regenerations. The session zone is pinned to UTC, so the
    * canonical value equals DuckDB's µs TIMESTAMP for the same file and
    * oracle epoch arithmetic agrees exactly (NANOS truncates to µs in
    * both engines).
    */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // `div` (integer division): `/` on longs routes through DOUBLE, whose
      // 53-bit mantissa mis-rounds epoch-nanos by ±1us at 2024 magnitudes
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => sys.error(s"events.ts: unsupported parquet type $other")
    }

  // a TIMESTAMP(NANOS) ts reads as a long: GraftSession.settings' nanosAsLong
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(pq(s, s"$dir/events.parquet"))

  /** Max event time as epoch micros (0 on an empty source — any sentinel
    * epoch works when there is no state to flush). Shared by the streaming
    * harness's sentinel/fake-row staging, which must stamp rows strictly
    * after every real event.
    */
  private[graft] def eventsMaxMicros(ev: DataFrame): Long =
    ev.agg(coalesce(max(unix_micros(col("ts"))), lit(0L))).head().getLong(0)
  def embeddings(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/embeddings.parquet")

  /** documents with doc_id kept as the source long — cast to string only where
    * reference-format parity (FIXTURES.md A1) requires it.
    */
  def documents(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/documents.parquet")
}
