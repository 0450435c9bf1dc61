package graft.operators

import org.apache.parquet.column.ParquetProperties.WriterVersion
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** The one writer of persisted index tables. Every table of the text index
  * ([[Indexer]]: postings, term_df, doc_info) and of the vector index
  * ([[VectorIndex]]: centroids, codes, vectors, forward) reaches disk
  * through here, so the storage format and its encoding live in one place;
  * a call site names only its [[Layout]].
  *
  * Encoding, a constant of the writer (no conf, no flag): parquet with
  * zstd pages and v2 data pages. A v2 writer codes a column written
  * without a dictionary by delta: strings as DELTA_BYTE_ARRAY (prefix
  * lengths + suffixes), integers as DELTA_BINARY_PACKED. That fits the
  * postings, whose in-file sort by term makes long runs of one term and
  * ascending doc_ids within it, so postings go without dictionary pages
  * (`dictionary = false`): both delta codings are smaller there than the
  * dictionaries. The other tables keep them (term_df, one row per term,
  * is smaller with one). Readers need no option: each page records its
  * codec and encodings, so files of older writers read alongside.
  */
object IndexWriter {

  /** Where a table's rows go: bucketed (and sorted in-file) by a column,
    * partitioned by a column, or neither; and whether column chunks get
    * dictionary pages.
    */
  final case class Layout(buckets: Option[(Int, String)] = None,
                          partitionCol: Option[String] = None,
                          dictionary: Boolean = true)

  val Plain: Layout = Layout()

  def bucketed(n: Int, column: String, dictionary: Boolean = true): Layout =
    Layout(buckets = Some(n -> column), dictionary = dictionary)

  def partitioned(column: String): Layout = Layout(partitionCol = Some(column))

  /** Write `df` as the managed table `table` (`mode` a SaveMode name). */
  def writeTable(df: DataFrame, table: String, mode: String,
                 layout: Layout): Unit = {
    if (mode == "append") adoptEncoding(df.sparkSession, table, layout)
    writer(df, mode, layout).saveAsTable(table)
  }

  /** Write `df` as parquet files under `path` (`mode` a SaveMode name). */
  def writeFiles(df: DataFrame, path: String, mode: String,
                 layout: Layout): Unit =
    writer(df, mode, layout).save(path)

  private def options(layout: Layout): Map[String, String] = Map(
    "compression" -> "zstd",
    ParquetOutputFormat.WRITER_VERSION -> WriterVersion.PARQUET_2_0.toString,
    ParquetOutputFormat.ENABLE_DICTIONARY -> layout.dictionary.toString)

  /** An append into an existing table writes with the options stored in
    * the table's catalog entry, not with the writer's. A table an older
    * writer created (session-default snappy, v1 pages) takes this writer's
    * options first, so the batch lands in the current encoding beside the
    * older files; compaction then rewrites those.
    */
  private def adoptEncoding(spark: SparkSession, table: String,
                            layout: Layout): Unit = {
    val catalog = spark.sessionState.catalog
    val id = TableIdentifier(table)
    if (catalog.tableExists(id)) {
      val t = catalog.getTableMetadata(id)
      val stored = t.storage.properties
      val want = options(layout)
      if (want.exists { case (k, v) => !stored.get(k).contains(v) })
        catalog.alterTable(
          t.copy(storage = t.storage.copy(properties = stored ++ want)))
    }
  }

  private def writer(df: DataFrame, mode: String,
                     layout: Layout): DataFrameWriter[Row] = {
    val w = df.write.mode(mode).format("parquet").options(options(layout))
    val b = layout.buckets.fold(w) { case (n, c) => w.bucketBy(n, c).sortBy(c) }
    layout.partitionCol.fold(b)(c => b.partitionBy(c))
  }
}
