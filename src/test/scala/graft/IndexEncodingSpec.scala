package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.operators.{Commit, Indexer, Search}

/** The index tables' storage encoding, read back from the parquet footers
  * of every data file: after each lifecycle operation on either index,
  * every column chunk is zstd-compressed with v2 data pages, and postings
  * chunks carry no dictionary page (`operators.IndexWriter`). An index
  * written with the older encoding (snappy, v1 pages, dictionaries) keeps
  * growing, searching and compacting.
  */
class IndexEncodingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val query = "spark filter join stream data"

  private case class Chunk(file: String, column: String,
                           codec: CompressionCodecName, v2: Boolean,
                           dictionary: Boolean)

  /** Every column chunk of every data file under `table`'s location
    * (partition directories included).
    */
  private def chunks(table: String): Seq[Chunk] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .toSeq
    assert(files.nonEmpty, s"$table has no data files")
    files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => Chunk(f.getName, c.getPath.toDotString, c.getCodec,
          Option(c.getEncodingStats).exists(_.usesV2Pages),
          c.hasDictionaryPage ||
            Option(c.getEncodingStats).exists(_.hasDictionaryPages)))
      finally r.close()
    }
  }

  private def assertEncoded(table: String, dictionary: Boolean = true): Unit = {
    val cs = chunks(table)
    assert(cs.nonEmpty, s"$table has no column chunks")
    val bad = cs.filterNot(c => c.codec == CompressionCodecName.ZSTD && c.v2)
    assert(bad.isEmpty, s"$table: chunks not zstd with v2 pages: ${bad.take(4)}")
    if (!dictionary) {
      val dict = cs.filter(_.dictionary)
      assert(dict.isEmpty, s"$table: chunks with a dictionary page: ${dict.take(4)}")
    }
  }

  private def assertTextIndex(prefix: String): Unit = {
    assertEncoded(s"${prefix}_postings", dictionary = false)
    assertEncoded(s"${prefix}_term_df")
    assertEncoded(s"${prefix}_doc_info")
  }

  private def assertVectorIndex(prefix: String): Unit =
    Seq("centroids", "codes", "vectors", "forward")
      .foreach(t => assertEncoded(s"${prefix}_$t"))

  private def docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  test("text index: every lifecycle write is zstd, v2 pages, postings without dictionaries") {
    val prefix = "graft_idx_enc_spec"
    val d = docs
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 3 === 0), prefix)
    assertTextIndex(prefix)
    Indexer.snapshotIndex(spark, prefix, "pre")
    assertTextIndex(s"${prefix}_pre")
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 3 === 1), prefix)
    assertTextIndex(prefix)
    Indexer.rollbackIndex(spark, prefix, "pre")
    assertTextIndex(prefix)
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 3 === 2), prefix)
    assert(Indexer.compactBucketedIndex(spark, prefix, maxFilesPerBucket = 0))
    assertTextIndex(prefix)
    Indexer.deleteFromBucketedIndex(spark, prefix,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    assertTextIndex(prefix)
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 2 === 0),
      "graft_idx_enc_sa")
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 2 === 1),
      "graft_idx_enc_sb")
    Indexer.mergeBucketedIndexes(spark, "graft_idx_enc_sa", "graft_idx_enc_sb",
      "graft_idx_enc_out")
    assertTextIndex("graft_idx_enc_out")
  }

  test("vector index: vindex, vappend, vcompact and vmerge write zstd with v2 pages") {
    val emb = s"$dir/embeddings.parquet"
    val prefix = "graft_vec_enc_spec"
    assert(cli.Main.run(spark, Seq("vindex", emb, prefix)).isRight)
    assertVectorIndex(prefix)
    val shifted = ScratchDirs.fresh("graft_test", "vec_enc_batch").toString
    spark.read.parquet(emb).withColumn("vec_id", col("vec_id") + 100000L)
      .write.mode("overwrite").parquet(shifted)
    assert(cli.Main.run(spark, Seq("vappend", shifted, prefix)).isRight)
    assertVectorIndex(prefix)
    assert(cli.Main.run(spark, Seq("vcompact", prefix, "0")).isRight)
    assertVectorIndex(prefix)
    val e = spark.read.parquet(emb)
    val aPath = ScratchDirs.fresh("graft_test", "vec_enc_a").toString
    val bPath = ScratchDirs.fresh("graft_test", "vec_enc_b").toString
    e.filter(col("vec_id") % 2 === 0).write.mode("overwrite").parquet(aPath)
    e.filter(col("vec_id") % 2 =!= 0).write.mode("overwrite").parquet(bPath)
    assert(cli.Main.run(spark, Seq("vindex", aPath, "graft_vec_enc_a")).isRight)
    assert(cli.Main.run(spark, Seq("vindex", bPath, "graft_vec_enc_b")).isRight)
    assert(cli.Main.run(spark,
      Seq("vmerge", "graft_vec_enc_a", "graft_vec_enc_b", "graft_vec_enc_out")).isRight)
    assertVectorIndex("graft_vec_enc_out")
  }

  test("an index in the older encoding appends, searches and compacts like a fresh one") {
    val prefix = "graft_idx_legacy_spec"
    val fresh = "graft_idx_legacy_fresh"
    val d = docs
    val base = d.filter(col("doc_id") % 2 === 0)
    // the older writer: the session's default codec (snappy), v1 pages,
    // dictionaries on, the same bucket spec; postings aggregated over the
    // default exchange, so a bucket holds several files
    Seq("postings", "term_df", "doc_info")
      .foreach(t => Commit.dropManagedTable(spark, s"${prefix}_$t"))
    val p = Indexer.postings(base).cache()
    p.write.mode("overwrite").format("parquet")
      .bucketBy(Indexer.IndexBuckets, "term").sortBy("term")
      .saveAsTable(s"${prefix}_postings")
    Indexer.termDf(p).write.mode("overwrite").format("parquet")
      .bucketBy(Indexer.IndexBuckets, "term").sortBy("term")
      .saveAsTable(s"${prefix}_term_df")
    Indexer.docInfo(base).write.mode("overwrite").format("parquet")
      .saveAsTable(s"${prefix}_doc_info")
    p.unpersist()
    assert(chunks(s"${prefix}_postings").map(_.codec).toSet ==
      Set(CompressionCodecName.SNAPPY), "the older index is not snappy")

    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 2 === 1), prefix)
    Indexer.buildBucketedIndex(spark, d, fresh)
    def searchesLikeFresh(step: String): Unit = {
      val got = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
      val want = Search.searchPrebuilt(spark, query, fresh).collect().toSeq
      assert(want.nonEmpty && got.map(_.get(0)) == want.map(_.get(0)),
        s"after $step: $got != $want")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g.getAs[Double]("score") - w.getAs[Double]("score")) <= 1e-6,
          s"after $step: $g != $w")
      }
    }
    searchesLikeFresh("append")
    assert(chunks(s"${prefix}_postings").map(_.codec).toSet ==
      Set(CompressionCodecName.SNAPPY, CompressionCodecName.ZSTD),
      "the append did not add zstd files beside the older ones")

    assert(Indexer.compactBucketedIndex(spark, prefix, maxFilesPerBucket = 0))
    assertTextIndex(prefix)
    searchesLikeFresh("compaction")
  }
}
