package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.Tokenizer
import graft.operators.Commit.dropManagedTable

/** Inverted-index construction — replaces the reference's three Hadoop
  * Streaming MapReduce jobs + Cassandra loader (app/index.sh, app/mapreduce,
  * app/app.py) with three declarative DataFrame plans over one tokenized
  * intermediate.
  *
  * Output schemas mirror the reference's Cassandra DDL (app/app.py:42-67):
  *   postings: (term, doc_id, tf, positions array<int>)
  *   termDf:   (term, df)
  *   docInfo:  (doc_id, length)
  *
  * Scale notes (100 TB): the only shuffle is the groupBy(term, doc_id) /
  * groupBy(term) hash aggregation, which Spark executes with partial
  * (map-side) aggregation — unlike the reference MR jobs, which configure no
  * combiner and shuffle every token occurrence raw (app/index.sh:28-33).
  * docInfo is shuffle-free (a map-only projection). Positions are kept sorted
  * (`sort_array`) for deterministic output; the reference's position order is
  * partition-dependent (SURVEY.md §7.6).
  *
  * The persisted (bucketed) index is born compact: build and append write
  * ONE postings and one term_df file per bucket ([[bucketedPostings]]), so
  * compaction fires after about `maxFilesPerBucket` appends, not at the
  * first. The price: that exchange ships token rows without a map-side
  * combine, as the reference's jobs do.
  *
  * Storage: every table write goes through [[IndexWriter]], which writes
  * zstd pages and parquet v2 data pages. Postings go without dictionary
  * pages. The bucket's in-file term sort clusters each term's postings by
  * ascending doc_id, as the reference's `PRIMARY KEY(term, doc_id)` does,
  * so the v2 writer's delta codings (DELTA_BYTE_ARRAY for the term runs,
  * DELTA_BINARY_PACKED for doc_ids, tfs and positions) beat a
  * dictionary. term_df and doc_info keep their dictionaries. An index
  * written before this encoding reads as it is; an append writes the new
  * encoding beside the old files, and compaction rewrites them.
  */
object Indexer {

  /** Expects columns (doc_id, text). One row per (doc_id, position, term). */
  def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(Tokenizer.tokenize(col("text"))).as(Seq("pos", "term")))

  /** A1 — (term, doc_id) -> (tf, positions). */
  def postings(docs: DataFrame): DataFrame = aggregatePostings(tokenPositions(docs))

  private def aggregatePostings(tokens: DataFrame): DataFrame =
    tokens
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("int").as("tf"),
           sort_array(collect_list(col("pos"))).as("positions"))

  /** [[postings]] aggregated over ONE exchange hashed by term alone into
    * IndexBuckets partitions. A partition's id is then
    * pmod(murmur3(term), IndexBuckets) — the bucketed writer's bucket id —
    * so each task holds exactly one bucket and a bucketBy(IndexBuckets,
    * term) write lands one file per bucket, whatever the session's shuffle
    * partition count. The (term, doc_id) aggregate and a term_df derived
    * from the cached result reuse that partitioning without exchanging
    * again.
    */
  private def bucketedPostings(docs: DataFrame): DataFrame =
    aggregatePostings(
      tokenPositions(docs).repartition(IndexBuckets, col("term")))

  /** A2 — term -> document frequency. Derived from postings (already one row
    * per (term, doc_id)) so it is a plain count, not a countDistinct.
    */
  def termDf(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).cast("int").as("df"))

  /** A3 — doc_id -> (title, token count). Map-only, no shuffle.
    * The reference's documents_info stores (doc_id, title, length)
    * (app/app.py:53-59) and search results display titles
    * (app/query.py:199-213). Testdata has no title column, so when the
    * input lacks one we synthesize the reference prep's form — the leading
    * slice of the text (app/prepare_data.py derives titles from the doc
    * content the same way prep_pipeline does).
    */
  def docInfo(docs: DataFrame): DataFrame = {
    val title =
      if (docs.columns.contains("title")) col("title")
      else substring(col("text"), 1, 50)
    docs.select(col("doc_id"), title.as("title"),
      Tokenizer.tokenCount(col("text")).as("length"))
  }

  /** Incremental index growth: merge a new (disjoint) document batch into
    * existing index tables WITHOUT re-tokenizing the old corpus.
    * postings/docInfo union (doc sets disjoint => no key collisions);
    * term_df merges by summing per-term counts. At 100 TB this turns
    * corpus append from a full reindex into work proportional to the batch.
    */
  def appendIndex(existing: (DataFrame, DataFrame, DataFrame),
                  newDocs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (oldPostings, oldTermDf, oldDocInfo) = existing
    val p = postings(newDocs)
    val mergedPostings = oldPostings.unionByName(p)
    val mergedTermDf = mergeTermDf(oldTermDf, p)
    val mergedDocInfo = oldDocInfo.unionByName(docInfo(newDocs))
    (mergedPostings, mergedTermDf, mergedDocInfo)
  }

  /** old per-term counts + the new batch's postings merged in ONE exchange:
    * the batch side feeds (term, 1) rows straight into the merge groupBy,
    * whose partial (map-side) aggregation combines them per term before
    * the shuffle — aggregating the batch to its own term_df first would
    * shuffle the same combined volume one extra time.
    */
  private def mergeTermDf(oldTermDf: DataFrame, newPostings: DataFrame): DataFrame =
    oldTermDf.unionByName(
        newPostings.select(col("term"), lit(1).cast("int").as("df")))
      .groupBy("term").agg(sum(col("df")).cast("int").as("df"))

  /** Bucket count for the persisted index tables. Sized so one bucket of
    * postings fits an executor comfortably at the target scale (at 100 TB
    * this would be thousands; the co-location property is bucket-count
    * agnostic as long as postings and term_df agree).
    */
  val IndexBuckets = 8

  /** The tables' layouts for [[IndexWriter]]: postings and term_df share
    * bucketBy(IndexBuckets, term) + sortBy(term); postings are written
    * without dictionaries (delta-coded terms and doc_ids are smaller).
    */
  private val PostingsLayout =
    IndexWriter.bucketed(IndexBuckets, "term", dictionary = false)
  private val TermDfLayout = IndexWriter.bucketed(IndexBuckets, "term")
  private val Layouts = Seq("postings" -> PostingsLayout,
    "term_df" -> TermDfLayout, "doc_info" -> IndexWriter.Plain)

  /** Forces the bucketed scan on: one partition, so one file, per bucket. */
  private[operators] val OnePartitionPerBucket =
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false"

  /** Persist the index as TERM-BUCKETED tables (the reference's index.sh →
    * Cassandra step, re-expressed as Spark bucketed parquet). postings and
    * term_df share bucketBy(IndexBuckets, term) + sortBy(term), one file
    * per bucket (see [[bucketedPostings]]), so:
    *  - the query-time term join is co-located — zero exchange on either
    *    index scan (Search.searchPrebuilt);
    *  - literal term predicates prune to matching buckets
    *    (SelectedBucketsCount in the scan node);
    *  - within-bucket sort gives row-group skipping on term min/max.
    * doc_info stays a plain table (joined by doc_id on an already-tiny
    * candidate set).
    */
  def buildBucketedIndex(spark: SparkSession, docs: DataFrame,
                         prefix: String): Unit = {
    Layouts.foreach { case (t, _) => dropManagedTable(spark, s"${prefix}_$t") }
    val p = bucketedPostings(docs).cache()
    IndexWriter.writeTable(p, s"${prefix}_postings", "overwrite", PostingsLayout)
    IndexWriter.writeTable(termDf(p), s"${prefix}_term_df", "overwrite",
      TermDfLayout)
    IndexWriter.writeTable(docInfo(docs), s"${prefix}_doc_info", "overwrite",
      IndexWriter.Plain)
    p.unpersist()
  }

  /** Append a document batch (disjoint doc_ids) into the PERSISTED
    * bucketed index that searchPrebuilt reads — the reference
    * architecture's first growth operation (index once, grow forever;
    * app/index.sh re-runs load batches into the same Cassandra tables).
    *
    *  - postings / doc_info: append-mode writes by table name. The writer
    *    declares the SAME bucketing as the existing table (Spark verifies
    *    the specs match), and the batch's postings are aggregated over the
    *    same one-partition-per-bucket exchange as the build, so the batch
    *    lands as exactly one extra file per touched bucket, however wide
    *    the session's shuffle — normal bucketed-table growth; the
    *    co-located term join stays exchange-free. Cost ∝ batch, not
    *    corpus. (File counts grow one per bucket per batch, so
    *    compactBucketedIndex at threshold t first rewrites after about t
    *    appends.)
    *  - term_df: per-term counts must MERGE, not append (a term present in
    *    both halves would otherwise surface twice with partial dfs). The
    *    merged aggregate is vocabulary-sized — orders of magnitude smaller
    *    than postings — so it is rewritten: staged to a sibling bucketed
    *    table, then swapped in by [[Commit.swapTable]] (a table cannot be
    *    overwritten while the overwrite plan reads it).
    */
  def appendBucketedIndex(spark: SparkSession, newDocs: DataFrame,
                          prefix: String): Unit = {
    val p = bucketedPostings(newDocs).cache()
    IndexWriter.writeTable(p, s"${prefix}_postings", "append", PostingsLayout)
    IndexWriter.writeTable(docInfo(newDocs), s"${prefix}_doc_info", "append",
      IndexWriter.Plain)
    val merged = mergeTermDf(spark.table(s"${prefix}_term_df"), p)
    stageAndSwap(spark, merged, s"${prefix}_term_df", TermDfLayout)
    p.unpersist()
  }

  /** Write `df` to the staging table `<target>_staged`, then swap it in
    * as `target` with [[Commit.swapTable]]: a failure at any statement
    * leaves `target` present.
    */
  private[operators] def stageAndSwap(spark: SparkSession, df: DataFrame,
                                      target: String,
                                      layout: IndexWriter.Layout): Unit = {
    val staging = s"${target}_staged"
    dropManagedTable(spark, staging)
    IndexWriter.writeTable(df, staging, "overwrite", layout)
    Commit.swapTable(spark, staging, target)
  }

  /** File count per bucket id of a managed bucketed table (bucket id is
    * encoded in the file name: part-NNNNN-uuid_BBBBB.*.parquet).
    */
  def bucketFileCounts(spark: SparkSession, table: String): Map[Int, Int] = {
    val path = Commit.warehousePath(spark, table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketRe = "_(\\d{5})\\.".r
    fs.listStatus(path).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .flatMap(n => bucketRe.findFirstMatchIn(n).map(_.group(1).toInt))
      .groupBy(identity).map { case (b, fs0) => b -> fs0.size }
  }

  /** Document DELETION from the persisted bucketed index — the lifecycle
    * operation a right-to-be-forgotten request forces on a 100 TB corpus
    * (the reference only ever grows its Cassandra tables; a complete
    * engine must also shrink them). Three bucket-preserving rewrites, each
    * swapped in by [[Commit.swapTable]]:
    *
    *  - term_df FIRST (while old postings are still live): the deleted
    *    docs' per-term posting counts flow as NEGATIVE df rows into the
    *    same merge aggregation appends use; terms whose df reaches zero
    *    drop out entirely (P6 semantics — a vanished term must vanish
    *    from the vocabulary).
    *  - postings: broadcast LEFT ANTI against the (tiny) delete set over
    *    a forced bucketed scan — narrow, so each task still holds exactly
    *    one bucket and writes exactly one file. Deletion doubles as
    *    compaction.
    *  - doc_info: plain filtered rewrite.
    *
    * Cost is one read+write of the index — same shape as compaction; the
    * per-bucket selective variant applies identically at cluster scale.
    * Each table swap is individually crash-safe but the three are not one
    * transaction: a concurrent reader can observe term_df already
    * shrunken while postings still carry the deleted docs (the same
    * non-transactional window the reference's sequential Cassandra
    * loaders have) — run maintenance single-writer, off the query path.
    *
    * @param docIds one column `doc_id`, the documents to forget
    */
  def deleteFromBucketedIndex(spark: SparkSession, prefix: String,
                              docIds: DataFrame): Unit =
    MaintenanceLease.withLease(spark, prefix, "index-delete") {
      deleteFromBucketedIndexImpl(spark, prefix, docIds)
    }

  private def deleteFromBucketedIndexImpl(spark: SparkSession, prefix: String,
                                          docIds: DataFrame): Unit = {
    val ids = docIds.select(col("doc_id"))
    val deletedPostings = spark.table(s"${prefix}_postings")
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
    // negative merge: old counts + (-1 per deleted (term, doc)) — same
    // partial-agg exchange as the append merge; df==0 terms drop
    val newTermDf = spark.table(s"${prefix}_term_df")
      .unionByName(deletedPostings.select(col("term"),
        lit(-1).cast("int").as("df")))
      .groupBy("term").agg(sum(col("df")).cast("int").as("df"))
      .filter(col("df") > 0)
    stageAndSwap(spark, newTermDf, s"${prefix}_term_df", TermDfLayout)
    GraftSession.scoped(spark, OnePartitionPerBucket) {
      val keptPostings = spark.table(s"${prefix}_postings")
        .join(broadcast(ids), Seq("doc_id"), "left_anti")
        .select("term", "doc_id", "tf", "positions") // USING join reorders
      stageAndSwap(spark, keptPostings, s"${prefix}_postings", PostingsLayout)
    }
    val keptInfo = spark.table(s"${prefix}_doc_info")
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
    stageAndSwap(spark, keptInfo, s"${prefix}_doc_info", IndexWriter.Plain)
  }

  /** Snapshot the persisted index under a tag — the point-in-time copy a
    * risky maintenance window takes first (append/delete/compact are
    * individually crash-safe via [[Commit.swapTable]], but a bad BATCH — wrong
    * data appended, over-eager delete set — needs semantic rollback, not
    * crash recovery). Each table is copied through a forced bucketed scan
    * into a same-bucket-spec table, so the snapshot is itself a complete,
    * searchable, pruning-capable index; rollbackIndex swaps it live via
    * the same [[Commit.swapTable]] every other lifecycle op uses. Cost:
    * one read+write of the index (identical shape to compaction); at
    * cluster scale a storage-level snapshot (object-store copy) replaces
    * the data movement, with the same two-name catalog discipline.
    */
  def snapshotIndex(spark: SparkSession, prefix: String, tag: String): Unit =
    GraftSession.scoped(spark, OnePartitionPerBucket) {
      Layouts.foreach { case (t, layout) =>
        val snap = s"${prefix}_${tag}_$t"
        dropManagedTable(spark, snap)
        IndexWriter.writeTable(spark.table(s"${prefix}_$t"), snap, "overwrite",
          layout)
      }
    }

  /** Restore the live index from a snapshot taken by snapshotIndex. The
    * snapshot is CONSUMED (renamed in); take another if you need to keep it.
    * Swaps the live tables, so it takes the maintenance lease like every
    * other writer. A snapshot that lacks any of its three tables throws
    * before the first swap, leaving the live index as it was.
    */
  def rollbackIndex(spark: SparkSession, prefix: String, tag: String): Unit =
    MaintenanceLease.withLease(spark, prefix, "index-rollback") {
      rollbackIndexImpl(spark, prefix, tag)
    }

  private def rollbackIndexImpl(spark: SparkSession, prefix: String,
                                tag: String): Unit = {
    val parts = Layouts.map(_._1)
    val missing = parts.map(t => s"${prefix}_${tag}_$t")
      .filterNot(spark.catalog.tableExists)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"snapshot '$tag' of $prefix lacks " +
        s"${missing.mkString(", ")}; the live index is unchanged")
    parts.foreach(t =>
      Commit.swapTable(spark, s"${prefix}_${tag}_$t", s"${prefix}_$t"))
  }

  /** Merge two persisted bucketed indexes over DISJOINT corpora into a
    * third — the shard-merge step of distributed index construction (build
    * each shard's index where its data lives, then combine; the reference
    * instead funnels every shard through one Cassandra loader,
    * app/app.py:119-259). Inputs are untouched; the output is a complete
    * index under `outPrefix` that searchPrebuilt reads like any other.
    *
    *  - postings / doc_info: union written into the new table. For
    *    postings, the bucketed scan is forced on, so each source yields
    *    one partition per bucket and every task holds rows of exactly ONE
    *    bucket (both inputs share the bucket spec — same hash, same
    *    count); the bucket-spec'd writer then emits one file per task.
    *    Result: two files per bucket, ZERO shuffle, cost = one sequential
    *    read+write of both inputs. Doc sets are disjoint, so no (term,
    *    doc_id) key can collide.
    *  - term_df: per-term counts must SUM across the halves — one
    *    vocabulary-sized partial-aggregated exchange, same merge shape as
    *    appends.
    */
  def mergeBucketedIndexes(spark: SparkSession, prefixA: String,
                           prefixB: String, outPrefix: String): Unit = {
    require(outPrefix != prefixA && outPrefix != prefixB,
      "merge target must be a new index (use appendBucketedIndex to grow in place)")
    MaintenanceLease.withLease(spark, outPrefix, "index-merge") {
      mergeBucketedIndexesImpl(spark, prefixA, prefixB, outPrefix)
    }
  }

  private def mergeBucketedIndexesImpl(spark: SparkSession, prefixA: String,
                                       prefixB: String, outPrefix: String): Unit = {
    Layouts.foreach { case (t, _) => dropManagedTable(spark, s"${outPrefix}_$t") }
    // Union-of-co-bucketed-children is the ONE shape where Spark 4.1's
    // union partitioning propagation (spark.sql.unionOutputPartitioning)
    // miscompiles a downstream bucketed-table write: the union CLAIMS the
    // children's hash(term) partitioning, so neither the final merge
    // aggregate nor the writer inserts an exchange, but the executed union
    // concatenates child partitions — the written term_df then carries one
    // PER-SHARD row per term (observed: df split 202/193 instead of 395).
    // Scope the propagation off for the whole merge; the plain read path
    // is unaffected and every other index lifecycle op unions
    // non-co-partitioned children.
    GraftSession.scoped(spark, "spark.sql.unionOutputPartitioning" -> "false") {
      GraftSession.scoped(spark, OnePartitionPerBucket) {
        IndexWriter.writeTable(spark.table(s"${prefixA}_postings")
            .unionByName(spark.table(s"${prefixB}_postings")),
          s"${outPrefix}_postings", "overwrite", PostingsLayout)
      }
      IndexWriter.writeTable(spark.table(s"${prefixA}_term_df")
          .unionByName(spark.table(s"${prefixB}_term_df"))
          .groupBy("term").agg(sum(col("df")).cast("int").as("df")),
        s"${outPrefix}_term_df", "overwrite", TermDfLayout)
      IndexWriter.writeTable(spark.table(s"${prefixA}_doc_info")
          .unionByName(spark.table(s"${prefixB}_doc_info")),
        s"${outPrefix}_doc_info", "overwrite", IndexWriter.Plain)
    }
  }

  /** One-row DESCRIBE of a persisted index: vocabulary size, posting
    * volume, corpus size, average doc length, and the df distribution
    * (max + p50/p99 via the range-partitioned exact quantile operator) —
    * the heavy-term skew signal a maintainer reads before stop-term or
    * compaction decisions. Runs over the same tables the searches serve.
    */
  def describeIndex(spark: SparkSession, prefix: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tdf = spark.table(s"${prefix}_term_df")
    val base = tdf.agg(
      count(lit(1)).cast("long").as("n_terms"),
      sum(col("df")).cast("long").as("n_postings"),
      max(col("df")).cast("long").as("max_df"))
    val docs = spark.table(s"${prefix}_doc_info")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        avg(col("length")).cast("double").as("avg_len"))
    val nPost = spark.table(s"${prefix}_postings")
      .agg(count(lit(1)).cast("long").as("n_posting_rows"))
    // an EMPTY index (everything deleted) has no df quantiles — substitute
    // a null row rather than letting the crossJoin annihilate the report
    // (exactQuantiles already runs driver actions, so the isEmpty probe
    // adds no new materialization boundary)
    val q0 = Quantiles.exactQuantiles(
        tdf.withColumn("g", lit("all")), "g", "df", Seq(0.5, 0.99))
      .select(col("q0").as("p50_df"), col("q1").as("p99_df"))
    val q = if (q0.isEmpty)
      spark.range(1).select(lit(null).cast("double").as("p50_df"),
        lit(null).cast("double").as("p99_df"))
    else q0
    base.crossJoin(docs).crossJoin(nPost).crossJoin(q)
      .select(col("n_terms"), col("n_postings"), col("n_posting_rows"),
        col("n_docs"), col("avg_len"), col("max_df"),
        col("p50_df").cast("double").as("p50_df"),
        col("p99_df").cast("double").as("p99_df"))
  }

  /** Total data-file count of a managed (possibly unbucketed) table —
    * the growth signal for doc_info, which appends one file per batch.
    */
  def tableFileCount(spark: SparkSession, table: String): Int = {
    val path = Commit.warehousePath(spark, table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).count { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Compaction — the maintenance half of the append story. The build and
    * each append write one file per bucket, so after N append batches
    * every bucket holds 1 + N small files and scan efficiency decays; the
    * first rewrite comes after about `maxFilesPerBucket` appends. When any
    * bucket's file count exceeds `maxFilesPerBucket`, rewrite the
    * postings table WITHOUT ANY SHUFFLE:
    * with the bucketed scan forced on (autoBucketedScan would disable it
    * for a plain pass-through read), the source produces exactly one
    * partition per bucket, every row in a task already belongs to that
    * task's bucket, and the bucket-spec'd writer emits ONE file per
    * bucket. The swap is the same [[Commit.swapTable]] as the term_df
    * merge. Bucket spec and in-file term sort are preserved, so
    * pruning (SelectedBucketsCount) and the exchange-free term join
    * survive (IndexerSpec pins both).
    *
    * (A `repartition(IndexBuckets, term)` formulation is a trap: the
    * catalog bucketing satisfies the repartition's required distribution,
    * so the exchange is elided — and the planner then disables the
    * bucketed scan anyway, leaving arbitrary file-split tasks that each
    * write one file per bucket they touch.)
    *
    * Cost is one read+write of postings — amortized across the appends
    * that triggered it, shuffle-free, and at cluster scale parallel over
    * IndexBuckets tasks. The refinement there is per-bucket selective
    * rewrite (read only over-threshold buckets' files, write with
    * preserved bucket ids), which needs writer-internal file naming; the
    * whole-table form keeps to public APIs and the same plan shape.
    *
    * @return true if a rewrite happened, false if all buckets were within
    *         the threshold.
    */
  def compactBucketedIndex(spark: SparkSession, prefix: String,
                           maxFilesPerBucket: Int = 8): Boolean =
    MaintenanceLease.withLease(spark, prefix, "index-compact") {
      compactBucketedIndexImpl(spark, prefix, maxFilesPerBucket)
    }

  private def compactBucketedIndexImpl(spark: SparkSession, prefix: String,
                                       maxFilesPerBucket: Int): Boolean = {
    val name = s"${prefix}_postings"
    val counts = bucketFileCounts(spark, name)
    val didPostings = counts.values.exists(_ > maxFilesPerBucket)
    if (didPostings)
      GraftSession.scoped(spark, OnePartitionPerBucket) {
        stageAndSwap(spark, spark.table(name), name, PostingsLayout)
      }
    // doc_info grows one file per append batch too (plain unbucketed
    // appends) — same IndexBuckets-scaled threshold, coalesced rewrite
    // (the table is corpus-row-sized but narrow: doc_id, length, title)
    val info = s"${prefix}_doc_info"
    val didInfo = tableFileCount(spark, info) > maxFilesPerBucket * IndexBuckets
    if (didInfo)
      stageAndSwap(spark,
        spark.table(info).coalesce(IndexBuckets), info, IndexWriter.Plain)
    didPostings || didInfo
  }
}
