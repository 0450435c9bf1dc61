package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ vector index — the embedding-side twin of the
  * term-bucketed text index (Indexer): train once, write the layout, serve
  * every query from the stored tables.
  *
  * Layout (`prefix` + suffix, parquet):
  *  - `_centroids` (cent_id, cv): the NList Lloyd-refined coarse centroids;
  *  - `_codes` (m, k, carr): the product-quantizer codebooks (Pq);
  *  - `_vectors` (id, v, codes), PARTITIONED BY cent_id: each coarse list
  *    is its own partition directory, so a probe that joins its nprobe
  *    list ids prunes every other list at the SCAN — the on-disk form of
  *    an inverted vector file. At 100 TB a query touches nprobe/NList of
  *    the corpus files, exactly like the bm25 path touches |terms| buckets.
  *  - `_forward` (id, v), BUCKETED BY id: the forward store every real
  *    vector system keeps beside its inverted lists (FAISS reconstruct,
  *    vector-DB forward index) — point fetches BY ID (a probe vector, a
  *    rerank candidate's raw vector) bucket-prune here instead of
  *    scanning the cent_id-partitioned lists, whose layout answers "which
  *    vectors are near centroid c", never "what is vector i". The build
  *    writes it one file per bucket (an exchange by id into
  *    ForwardBuckets partitions, whose ids are the bucket ids); `append`
  *    writes its batch without that exchange.
  *
  * Every table is written through [[IndexWriter]]: zstd pages, parquet v2
  * data pages, dictionaries on. Where a dictionary does not pay, the v2
  * writer falls back to delta codings for ids and codes and to plain
  * values for the doubles of `v` and `cv`.
  *
  * Serving reads the same centroid/codebook values the build wrote (both
  * bounded: NList and M*Ks rows), so results are bit-identical to the
  * in-memory ann_ivf_pq plan and share its DuckDB oracle.
  */
object VectorIndex {

  private val ForwardBuckets = Indexer.IndexBuckets

  /** The forward store's layout for [[IndexWriter]]: bucketed by id. */
  private val ForwardLayout = IndexWriter.bucketed(ForwardBuckets, "id")
  private val ListsLayout = IndexWriter.partitioned("cent_id")

  /** Write the index. `cents` (id, v) and `codes` must come from the same
    * deterministic training the serving oracle mirrors.
    * @param writeForward false when the forward store already holds exactly
    *   `emb`'s rows (retrain reads `emb` FROM the forward store — rewriting
    *   it would both waste a pass and overwrite a table mid-read)
    */
  def build(spark: SparkSession, emb: DataFrame, prefix: String,
            cents: DataFrame, codes: Seq[Pq.Code],
            pqM: Int, pqSubDim: Int, writeForward: Boolean = true): Unit = {
    val base = graft.ScratchDirs.fresh("graft_vecidx", prefix).toString
    IndexWriter.writeFiles(
      cents.select(col("id").as("cent_id"), col("v").as("cv")),
      s"$base/centroids", "overwrite", IndexWriter.Plain)
    IndexWriter.writeFiles(
      spark.createDataFrame(codes.map(c => (c.m, c.k, c.carr))).toDF("m", "k", "carr"),
      s"$base/codes", "overwrite", IndexWriter.Plain)
    IndexWriter.writeFiles(Similarity.ivfAssign(emb, cents)
        .withColumn("codes", Pq.encodeCol(col("v"), codes, pqM, pqSubDim)),
      s"$base/vectors", "overwrite", ListsLayout)
    Seq("centroids", "codes", "vectors").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t")
      spark.catalog.createTable(s"${prefix}_$t", s"$base/$t", "parquet")
    }
    spark.catalog.recoverPartitions(s"${prefix}_vectors")
    if (writeForward) {
      Commit.dropManagedTable(spark, s"${prefix}_forward")
      IndexWriter.writeTable(emb.select(col("id"), col("v"))
          .repartition(ForwardBuckets, col("id")),
        s"${prefix}_forward", "overwrite", ForwardLayout)
    }
  }

  /** The stored codebooks in (m, k) order. The table holds M*Ks rows, so
    * they sort on the driver: an `orderBy` before the collect would cost a
    * range-sampling job and a shuffle on every serve and append.
    */
  private def readCodes(spark: SparkSession, prefix: String): Seq[Pq.Code] =
    spark.table(s"${prefix}_codes").collect().toSeq
      .map(r => Pq.Code(r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(c => (c.m, c.k))

  /** Train (coarse centroids + PQ codebooks) and build in one call — the
    * CLI entry shape. `emb` needs (id, v array<double>). Dimensionality is
    * DERIVED from the data, not assumed: a mismatched `dim` would silently
    * truncate (or null-poison) every centroid mean.
    */
  def trainAndBuild(spark: SparkSession, emb: DataFrame, prefix: String,
                    nlist: Int = 64, iters: Int = 2,
                    pqM: Int = 4, pqKs: Int = 16): Unit = {
    import spark.implicits._
    val dim = emb.select(col("v")).head().getSeq[Double](0).length
    require(dim % pqM == 0,
      s"embedding dim $dim is not divisible into $pqM PQ subspaces")
    val pqSubDim = dim / pqM
    val cents = Similarity.trainCentroids(emb, nlist, iters, dim).toDF("id", "v")
    val codes = Pq.train(emb, pqM, pqSubDim, pqKs)
    build(spark, emb, prefix, cents, codes, pqM, pqSubDim)
  }

  /** Grow the persisted index with a new batch: assign + encode with the
    * FROZEN stored centroids and codebooks (the standard IVF-PQ append —
    * no retrain; quantizer drift is handled by periodic rebuilds, exactly
    * like the text index's compaction story) and write the rows into
    * their list partitions. Work is proportional to the batch, and the
    * serving plan is untouched — appended rows are indistinguishable from
    * built ones.
    */
  def append(spark: SparkSession, batch: DataFrame, prefix: String): Unit = {
    val codes = readCodes(spark, prefix)
    val pqM = codes.map(_.m).max + 1
    val pqSubDim = codes.head.carr.length
    val cents = spark.table(s"${prefix}_centroids")
      .select(col("cent_id").as("id"), col("cv").as("v"))
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${prefix}_vectors")).location
    IndexWriter.writeFiles(Similarity.ivfAssign(batch, cents)
        .withColumn("codes", Pq.encodeCol(col("v"), codes, pqM, pqSubDim)),
      loc.toString, "append", ListsLayout)
    spark.catalog.recoverPartitions(s"${prefix}_vectors")
    spark.catalog.refreshTable(s"${prefix}_vectors")
    // forward store: one extra file per (batch partition, touched bucket);
    // the writer re-declares the matching bucket spec. No exchange by id as
    // in build: a streamed batch is one partition, so it would buy nothing
    IndexWriter.writeTable(batch.select(col("id"), col("v")),
      s"${prefix}_forward", "append", ForwardLayout)
  }

  /** DELETE vectors from the persisted index — the right-to-be-forgotten
    * path (the vector twin of Indexer.deleteFromBucketedIndex). Only the
    * coarse lists that CONTAIN deleted ids are rewritten (anti-join, then
    * one [[Commit.swapDirs]] of the staged lists — the same commit the
    * compaction pass uses); untouched lists keep their files byte-for-byte.
    * Lists emptied entirely disappear, and the catalog re-syncs its
    * partition set. Quantizers are untouched: a delete never retrains —
    * drift from mass deletion shows up in the drift report and is handled
    * by rebuild, exactly like append-side drift.
    *
    * @param ids one column `id` — the vectors to forget
    * @return number of coarse lists rewritten
    */
  def delete(spark: SparkSession, ids: DataFrame, prefix: String): Int =
    MaintenanceLease.withLease(spark, prefix, "vector-delete") {
      deleteImpl(spark, ids, prefix)
    }

  private def deleteImpl(spark: SparkSession, ids: DataFrame, prefix: String): Int = {
    val t = s"${prefix}_vectors"
    // finish a crashed swap BEFORE reading or counting anything
    val lists = recoverLists(spark, prefix)
    val del = ids.select(col("id")).distinct()
    val vecs = spark.table(t)
    val affected = vecs.join(broadcast(del), "id")
      .select(col("cent_id")).distinct().collect().map(_.get(0))
    if (affected.isEmpty) return 0
    IndexWriter.writeFiles(vecs.filter(col("cent_id").isin(affected: _*))
        .join(broadcast(del), Seq("id"), "left_anti")
        .repartition(col("cent_id")),
      lists.staging.toString, "overwrite", ListsLayout)
    swapLists(spark, prefix, lists, affected.toSeq)
    // forward store: bucketed by id, the kept rows can't be rewritten
    // per-list the way _vectors can — a staged-table swap instead
    val fwd = s"${prefix}_forward"
    Indexer.stageAndSwap(spark, spark.table(fwd)
      .join(broadcast(del), Seq("id"), "left_anti")
      .select(col("id"), col("v")), // USING join reorders
      fwd, ForwardLayout)
    affected.length
  }

  /** The `_vectors` store's commit: one `cent_id=N` dir per coarse list. */
  private def listCommit(spark: SparkSession, prefix: String): Commit = {
    val root = new org.apache.hadoop.fs.Path(
      tableLocation(spark, s"${prefix}_vectors"))
    Commit.partitioned(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Entry recovery for every op that reads or re-points `_vectors`:
    * finish a crashed list swap (re-syncing the partition catalog when one
    * lands) or drop an unlogged one's staging. Caller holds the lease.
    */
  private def recoverLists(spark: SparkSession, prefix: String): Commit = {
    val lists = listCommit(spark, prefix)
    if (lists.recover()) syncLists(spark, prefix)
    lists
  }

  private def syncLists(spark: SparkSession, prefix: String): Unit = {
    spark.sql(s"MSCK REPAIR TABLE ${prefix}_vectors SYNC PARTITIONS")
    spark.catalog.refreshTable(s"${prefix}_vectors")
  }

  /** Swap the staged rewrite of the `affected` lists in, shared by
    * delete() and compact(). A list the rewrite left no staged dir for was
    * emptied (every member deleted), so it is removed, and SYNC PARTITIONS
    * drops it from the catalog.
    */
  private def swapLists(spark: SparkSession, prefix: String, lists: Commit,
                        affected: Seq[Any]): Unit = {
    val (targets, emptied) = affected.map(c => s"cent_id=$c")
      .partition(n => lists.fs.exists(lists.staged(n)))
    lists.swapDirs(targets, emptied)
    syncLists(spark, prefix)
  }

  /** Data-file count per coarse-list partition directory of `_vectors`
    * (key = the `cent_id=N` directory name) — the growth signal compact()
    * reads: every append adds one file per touched list.
    */
  def listFileCounts(spark: SparkSession, prefix: String): Map[String, Int] = {
    val root = new org.apache.hadoop.fs.Path(
      tableLocation(spark, s"${prefix}_vectors"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cent_id="))
      .map { d =>
        val n = fs.listStatus(d.getPath).count { f =>
          val nm = f.getPath.getName
          f.isFile && !nm.startsWith("_") && !nm.startsWith(".")
        }
        d.getPath.getName -> n
      }.toMap
  }

  /** Compact the persisted vector index — the maintenance operation that
    * bounds file-count growth under continuous append (every
    * appendPrebuilt batch adds one file per touched coarse list AND one
    * per touched forward bucket; without a merge pass a year of hourly
    * ingest is ~9k files per list, and at 100 TB the scan's file-open
    * overhead dominates the read). The vector twin of
    * [[Indexer.compactBucketedIndex]], with the same contract: results
    * are byte-identical before and after, only the file layout changes.
    *
    *  - `_vectors`: only lists whose directory exceeds `maxFilesPerUnit`
    *    data files are rewritten (staging dir + [[Commit.swapDirs]] —
    *    the commit delete() already uses); untouched lists keep
    *    their files byte-for-byte. `repartition(cent_id)` collapses each
    *    rewritten list to one task → one file.
    *  - `_forward`: bucket file counts from the managed table's warehouse
    *    dir; over-threshold → whole-table rewrite through the staged-
    *    table rename swap (bucketed by id; the table is O(corpus) rows of
    *    (id, v) — one read+write, the same cost class as a text-index
    *    compaction). autoBucketedScan is disabled for the rewrite so the
    *    scan yields one partition per bucket → one output file per bucket.
    *
    * @return true if either store was rewritten
    */
  def compact(spark: SparkSession, prefix: String,
              maxFilesPerUnit: Int = 8): Boolean =
    MaintenanceLease.withLease(spark, prefix, "vector-compact") {
      compactImpl(spark, prefix, maxFilesPerUnit)
    }

  private def compactImpl(spark: SparkSession, prefix: String,
                          maxFilesPerUnit: Int): Boolean = {
    // finish a crashed swap BEFORE counting files — a landed list must
    // be counted (and is usually exactly the one over threshold)
    val lists = recoverLists(spark, prefix)
    val counts = listFileCounts(spark, prefix)
    val affected = counts.filter(_._2 > maxFilesPerUnit).keys.toSeq
      .map(_.stripPrefix("cent_id="))
    val didVectors = affected.nonEmpty
    if (didVectors) {
      // partition values are numeric by construction (cent_id = centroid
      // ordinal); a raw IN-list literal matches whatever width the
      // partition-column inference chose, so pruning still applies
      IndexWriter.writeFiles(spark.table(s"${prefix}_vectors")
          .filter(expr(s"cent_id IN (${affected.mkString(", ")})"))
          .repartition(col("cent_id")),
        lists.staging.toString, "overwrite", ListsLayout)
      swapLists(spark, prefix, lists, affected)
    }
    val fwd = s"${prefix}_forward"
    val fwdCounts = Indexer.bucketFileCounts(spark, fwd)
    val didForward = fwdCounts.values.exists(_ > maxFilesPerUnit)
    if (didForward)
      graft.GraftSession.scoped(spark, Indexer.OnePartitionPerBucket) {
        Indexer.stageAndSwap(spark, spark.table(fwd), fwd, ForwardLayout)
      }
    didVectors || didForward
  }

  private def tableLocation(spark: SparkSession, name: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .location.toString

  private val Parts = Seq("centroids", "codes", "vectors")

  /** Full copy of an index under a new prefix — the shared mechanics of
    * snapshot (copy aside) and merge (copy A, then grow). The three
    * external dirs copy to a fresh scratch base; the forward store is a
    * MANAGED bucketed table, so its copy is a bucketed table write (a
    * path-copy would lose the catalog bucket spec).
    */
  private def copyIndex(spark: SparkSession, from: String, to: String): Unit =
    // the SOURCE lease is held for the whole copy (ADVICE r12): the old
    // warn-and-proceed ensureRecovered let a snapshot raced against another
    // process's compact/delete copy mid-swap state with a list missing —
    // now contention fails fast like every other maintenance op, and no
    // new maintenance can start mid-copy. The in-stream retrain policy
    // catches the LeaseHeldException as skip-and-retry.
    MaintenanceLease.withLease(spark, from, "snapshot-read") {
      // a snapshot taken between a crash and the next maintenance op must
      // not bake a mid-swap missing list into the fence copy (ADVICE r11)
      recoverLists(spark, from)
      copyIndexImpl(spark, from, to)
    }

  private def copyIndexImpl(spark: SparkSession, from: String, to: String): Unit = {
    val base = graft.ScratchDirs.fresh("graft_vecidx", to)
    val conf = spark.sparkContext.hadoopConfiguration
    Parts.foreach { t =>
      val src = new org.apache.hadoop.fs.Path(tableLocation(spark, s"${from}_$t"))
      val dst = new org.apache.hadoop.fs.Path(base.toString, t)
      val fs = src.getFileSystem(conf)
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf))
        sys.error(s"vector index copy failed for $t")
      val toT = s"${to}_$t"
      spark.sql(s"DROP TABLE IF EXISTS $toT")
      spark.catalog.createTable(toT, dst.toString, "parquet")
      if (t == "vectors") spark.catalog.recoverPartitions(toT)
    }
    val fwdTo = s"${to}_forward"
    Commit.dropManagedTable(spark, fwdTo)
    IndexWriter.writeTable(spark.table(s"${from}_forward"), fwdTo, "overwrite",
      ForwardLayout)
  }

  /** Point-in-time copy of the vector index (the risky-maintenance fence:
    * snapshot, then append/delete/retrain; if the batch was bad, roll
    * back). Cost is one read+write of the index, the same shape as a
    * compaction pass.
    *
    * Erasure note (AUDIT_r14 #19): a snapshot taken BEFORE a
    * delete/forget still contains the purged vectors, and rolling back
    * to it resurrects them — inherent to point-in-time copies, whose
    * purpose is to undo exactly such operations. Erasure compliance for
    * snapshots is a retention policy: drop fences older than the forget
    * (re-snapshot afterwards if a fence is still wanted).
    */
  def snapshot(spark: SparkSession, prefix: String, tag: String): Unit =
    copyIndex(spark, prefix, s"${prefix}_$tag")

  /** Merge two shard-built vector indexes into a third (the vector twin
    * of Indexer.mergeBucketedIndexes, with the semantics a vector store
    * forces): `out` ADOPTS shard A's quantizers — A's encoded lists copy
    * byte-compatible, while B's vectors are RE-ENCODED with A's frozen
    * centroids/codebooks, read as raw (id, v) from B's forward store —
    * the operation the forward store exists to make possible (PQ codes
    * are meaningless under a different codebook, so unlike the text
    * index's postings merge a vector merge can never be a pure file
    * union). B's own quantizers are discarded. Ids must be disjoint,
    * same contract as the text merge. Cost: one copy of A + one
    * assign-encode-append pass over B.
    */
  def merge(spark: SparkSession, prefixA: String, prefixB: String,
            out: String): Unit = {
    // same guard as Indexer.mergeBucketedIndexes (ADVICE r12): merging
    // into one of the inputs would drop and overwrite its tables via
    // copyIndex while also reading them, corrupting the index under its
    // own lease
    require(out != prefixA && out != prefixB,
      s"merge output '$out' must differ from both inputs " +
        s"('$prefixA', '$prefixB')")
    // lease the index being WRITTEN (A and B are only read; copyIndex
    // holds A's lease for the copy, B's read is a plain table scan)
    MaintenanceLease.withLease(spark, out, "vector-merge") {
      copyIndex(spark, prefixA, out)
      append(spark,
        spark.table(s"${prefixB}_forward").select(col("id"), col("v")), out)
    }
  }

  /** Snapshot-fenced retrain under ONE lease (ADVICE r13): the fence copy
    * and the retrain it protects are a single maintenance operation, so
    * taking separate leases (snapshot releases, retrain re-acquires) left
    * a gap — another writer grabbing the lease between them skipped the
    * retrain but left the just-taken `_<tag>` snapshot lingering, and any
    * append/delete landing in the gap would be silently reverted by a
    * later rollback to the fence. Holding the lease across both makes the
    * pair atomic against other writers: contention skips BOTH (no
    * orphaned fence), and nothing can write between fence and retrain.
    */
  def snapshotFencedRetrain(spark: SparkSession, prefix: String,
                            iters: Int = 2,
                            tag: String = "preretrain"): Unit =
    MaintenanceLease.withLease(spark, prefix, "snapshot-fenced-retrain") {
      // one recovery serves both halves (snapshot and retrain each do
      // exactly this under their own lease)
      recoverLists(spark, prefix)
      copyIndexImpl(spark, prefix, s"${prefix}_$tag")
      retrainImpl(spark, prefix, iters, nlistOverride = None)
    }

  /** RETRAIN the quantizers of a persisted index from its own forward
    * store — the drift remedy the maintenance loop closes with: append and
    * delete never retrain (standard IVF-PQ), so a corpus that drifts from
    * the training distribution degrades recall until someone re-Lloyds.
    * The drift report (`vector_index_drift`) and `describe`'s occupancy
    * skew give the SIGNAL; this is the operator.
    *
    * Geometry is derived from the stored index (nlist from `_centroids`,
    * M/subDim/Ks from `_codes`) unless overridden, the raw vectors come
    * from the forward store (the table that exists precisely so encoded
    * stores can be re-derived), and the rebuilt centroids/codebooks/lists
    * land via [[build]]'s fresh-directory + catalog-re-point swap with the
    * forward store untouched. Training is the same deterministic
    * hash-seeded Lloyd as a from-scratch build, so retraining a
    * NON-drifted index is a no-op for serving — and retraining a drifted
    * one is indistinguishable from having built fresh over today's corpus
    * (RecallSpec pins the recall recovery).
    *
    * Crash safety: the swap re-points the three external tables one at a
    * time; a crash mid-swap leaves a MIXED quantizer state (old lists, new
    * centroids), which is why the operation should be snapshot-fenced —
    * `snapshot(prefix, tag)` first, `rollback` if the retrain dies (the
    * CLI's `vretrain` takes the snapshot automatically). Old directories
    * are never deleted, so no state is unrecoverable.
    */
  def retrain(spark: SparkSession, prefix: String, iters: Int = 2,
              nlistOverride: Option[Int] = None): Unit =
    MaintenanceLease.withLease(spark, prefix, "vector-retrain") {
      // finish a crashed list swap first (ADVICE r11): retrain never reads
      // `_vectors`, but build()'s re-point would orphan its intent and
      // staging forever (listCommit derives from the NEW location after)
      recoverLists(spark, prefix)
      retrainImpl(spark, prefix, iters, nlistOverride)
    }

  private def retrainImpl(spark: SparkSession, prefix: String, iters: Int,
                          nlistOverride: Option[Int]): Unit = {
    import spark.implicits._
    val codes0 = readCodes(spark, prefix)
    val pqM = codes0.map(_.m).max + 1
    val pqSubDim = codes0.head.carr.length
    val pqKs = codes0.map(_.k).max + 1
    val nlist = nlistOverride.getOrElse(
      spark.table(s"${prefix}_centroids").count().toInt)
    val raw = spark.table(s"${prefix}_forward").select(col("id"), col("v"))
    val cents = Similarity
      .trainCentroids(raw, nlist, iters, pqM * pqSubDim).toDF("id", "v")
    val codes = Pq.train(raw, pqM, pqSubDim, pqKs)
    build(spark, raw, prefix, cents, codes, pqM, pqSubDim,
      writeForward = false)
  }

  /** Occupancy skew of the coarse lists — max/mean member count, the
    * cheap drift signal the in-stream retrain policy reads
    * ([[graft.streaming.DocStreams.RetrainPolicy]]): appends assign with
    * FROZEN centroids, so a corpus drifting from the training
    * distribution piles its new vectors onto the few stale centroids that
    * happen to score highest, and the imbalance grows monotonically with
    * the drift. The aggregate groups on the PARTITION column only (no
    * data columns read — row counts come from parquet metadata) and
    * outputs <= NList rows, so the check costs file-listing time at any
    * corpus scale. 1.0 = perfectly balanced; an empty index reports 0.0
    * (never triggers).
    */
  def occupancySkew(spark: SparkSession, prefix: String): Double = {
    val r = spark.table(s"${prefix}_vectors")
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).cast("double"), avg(col("n")))
      .head()
    if (r.isNullAt(0) || r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** One-row DESCRIBE of a persisted vector index: corpus size, list
    * count, the occupancy distribution (max + p50/p99 via the
    * range-partitioned exact quantile operator — the skew signal a
    * maintainer reads before nprobe / rebuild decisions), and the
    * forward store's row count, which must equal n_vectors (a drifting
    * pair means a maintenance op failed between the stores). The vector
    * sibling of Indexer.describeIndex; runs over the same tables
    * serving reads.
    */
  def describe(spark: SparkSession, prefix: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    // cached: both the size aggregate and the quantile pass read the
    // per-list occupancy table — without the cache each would rescan the
    // full _vectors store (the agg output is only ~NList rows)
    val occ = spark.table(s"${prefix}_vectors")
      .groupBy(col("cent_id")).agg(count(lit(1)).cast("long").as("n"))
      .registeredCache()
    val base = occ.agg(
      sum(col("n")).cast("long").as("n_vectors"),
      count(lit(1)).cast("long").as("n_lists"),
      max(col("n")).cast("long").as("max_occ"))
    val fwd = spark.table(s"${prefix}_forward")
      .agg(count(lit(1)).cast("long").as("n_forward"))
    // an EMPTY index (everything deleted) has no occupancy quantiles —
    // substitute a null row rather than letting the crossJoin annihilate
    // the report (same guard as the text index's describe)
    val q0 = Quantiles.exactQuantiles(
        occ.withColumn("g", lit("all")), "g", "n", Seq(0.5, 0.99))
      .select(col("q0").as("p50_occ"), col("q1").as("p99_occ"))
    val q = if (q0.isEmpty)
      spark.range(1).select(lit(null).cast("double").as("p50_occ"),
        lit(null).cast("double").as("p99_occ"))
    else q0
    base.crossJoin(fwd).crossJoin(q)
      .select(col("n_vectors"), col("n_lists"), col("n_forward"),
        col("max_occ"), col("p50_occ").cast("double").as("p50_occ"),
        col("p99_occ").cast("double").as("p99_occ"),
        // max/mean occupancy — the exact signal the in-stream retrain
        // policy reads (occupancySkew); surfacing it here lets an
        // operator read "should this retrain?" off the same one-row
        // report. Cast-first keeps the arithmetic in doubles (long/long
        // would truncate) and matches the oracle's op order bit-for-bit.
        (col("max_occ").cast("double") * col("n_lists").cast("double") /
          col("n_vectors").cast("double")).as("occ_skew"))
  }

  /** Restore the live index from a snapshot. The tables are external
    * (path-backed), so rollback is pure catalog surgery: live names
    * re-point at the snapshot's directories. The snapshot is CONSUMED —
    * its files now serve the live index; take another to keep one. A
    * snapshot that lacks any part throws before the catalog changes.
    */
  def rollback(spark: SparkSession, prefix: String, tag: String): Unit =
    // rollback swaps the LIVE index (catalog re-points + forward rename)
    // — a maintenance write like any other, so it takes the same lease
    MaintenanceLease.withLease(spark, prefix, "vector-rollback") {
      rollbackImpl(spark, prefix, tag)
    }

  private def rollbackImpl(spark: SparkSession, prefix: String, tag: String): Unit = {
    // every part is resolved before the first catalog change, so an
    // incomplete snapshot cannot leave new quantizers over old data
    val snapLocs = Parts.map(t => t -> tableLocation(spark, s"${prefix}_${tag}_$t"))
    val fwdSnap = s"${prefix}_${tag}_forward"
    if (!spark.catalog.tableExists(fwdSnap))
      throw new IllegalStateException(s"snapshot '$tag' of $prefix lacks " +
        s"$fwdSnap; the live index is unchanged")
    snapLocs.foreach { case (t, snapLoc) =>
      val liveT = s"${prefix}_$t"
      val snapT = s"${prefix}_${tag}_$t"
      spark.sql(s"DROP TABLE IF EXISTS $liveT") // external: files untouched
      spark.catalog.createTable(liveT, snapLoc, "parquet")
      spark.sql(s"DROP TABLE IF EXISTS $snapT")
      if (t == "vectors") spark.catalog.recoverPartitions(liveT)
      spark.catalog.refreshTable(liveT)
    }
    // forward store: a managed table, so a catalog swap — the snapshot is
    // consumed like the external parts
    val fwdLive = s"${prefix}_forward"
    Commit.swapTable(spark, fwdSnap, fwdLive)
    spark.catalog.refreshTable(fwdLive)
  }

  /** IVF-PQ serving over the persisted tables: nearest-nprobe list
    * assignment per probe (centroid table broadcast), ADC shortlist via
    * the stored codes, exact cosine re-rank. The probe→list join lands on
    * `_vectors`' partition column, so Spark's dynamic partition pruning
    * restricts the scan to the probed lists.
    */
  def searchPrebuilt(spark: SparkSession, prefix: String, probes: DataFrame,
                     k: Int, nprobe: Int, shortlist: Int,
                     withVector: Boolean = false): DataFrame =
    servePlan(spark, prefix, probes, k, nprobe, shortlist, withVector,
      broadcastProbes = true)

  /** [[searchPrebuilt]] for an UNBOUNDED probe table: identical serving
    * math, but the probe side is never broadcast — probed lists score
    * through a shuffle join on cent_id, so the plan holds at 10M probes
    * (an offline eval sweep, bulk reranking) where a probe broadcast dies.
    * List-scan pruning is irrelevant here by construction: a bulk probe
    * set touches essentially every coarse list, so the one full pass over
    * `_vectors` is the work, amortized across all probes (and AQE's skew
    * split handles hot lists). Below a few thousand probes the broadcast
    * form wins — its probe-literal DPP skips unprobed lists entirely.
    */
  def searchBulk(spark: SparkSession, prefix: String, probes: DataFrame,
                 k: Int, nprobe: Int, shortlist: Int,
                 withVector: Boolean = false): DataFrame =
    servePlan(spark, prefix, probes, k, nprobe, shortlist, withVector,
      broadcastProbes = false)

  /** Crash check on the serving path: a logged list swap means a prior
    * run crashed mid-swap and the live `_vectors` may be missing a list —
    * finish it NOW rather than silently under-returning until the next
    * delete/compact (ADVICE r11). Recovery runs under the maintenance
    * lease, taken OPPORTUNISTICALLY: when a live op holds it, the intent
    * is that op's in-flight swap, which it lands itself, so the read
    * proceeds (the documented transient of a live swap). Cost on the hot
    * serve path: one fs.exists call when no swap is logged.
    */
  private def ensureRecovered(spark: SparkSession, prefix: String,
                              context: String): Unit = {
    val lists = listCommit(spark, prefix)
    if (lists.fs.exists(lists.intent) && MaintenanceLease
        .tryWithLease(spark, prefix, "commit-recovery")(
          recoverLists(spark, prefix)).isEmpty)
      System.err.println(s"[graft] $prefix has a logged list swap and a " +
        s"live maintenance op holds the lease — proceeding without " +
        s"recovery ($context; transient while the op runs)")
  }

  private def servePlan(spark: SparkSession, prefix: String, probes: DataFrame,
                        k: Int, nprobe: Int, shortlist: Int,
                        withVector: Boolean,
                        broadcastProbes: Boolean): DataFrame = {
    // serving between a crash and the next maintenance op must not
    // under-return from a mid-swap-missing list (ADVICE r11)
    ensureRecovered(spark, prefix,
      context = "serving may transiently under-return from probed lists")
    val codes = readCodes(spark, prefix)
    // geometry comes from the stored codebooks, never from the caller —
    // a mismatched assumption would silently score garbage
    val pqM = codes.map(_.m).max + 1
    val pqSubDim = codes.head.carr.length
    val c = spark.table(s"${prefix}_centroids")
    val pw = Window.partitionBy(col("probe_id"))
      .orderBy(col("psim").desc, col("cent_id").asc)
    // The probe→list assignment carries ONLY (probe_id, cent_id) into the
    // candidate join. The ADC LUT is deliberately NOT a column of this
    // relation: as a projected expression feeding the join it sat in the
    // same codegen stage as the join's match loop, and the generated code
    // re-evaluated the full mSub×ks×subDim expression PER CANDIDATE row
    // rather than per probe — measured 31× the per-probe cost at sf0.1
    // (30 s of a 32 s arm; optimization round r15). It now lives in its
    // own one-row-per-probe relation (`luts`) attached by join below, so
    // it is computed exactly |probes| times, which is ADC's entire point.
    val cw = Window.partitionBy(col("probe_id"))
      .orderBy(col("qscore").desc, col("cand_id").asc)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    val result =
      if (broadcastProbes) {
        // Micro-batch form — UNCHANGED original shape. The LUT projection
        // sits UNDER the BroadcastExchange, so it is materialized once
        // per probe×list row when the broadcast table is built (the
        // per-candidate re-evaluation defect below is specific to the
        // bulk form, whose probe side is the STREAMED side of the join);
        // candidate volume is bounded by the probed lists, so pv/cv ride
        // the candidate stream — ONE DPP-pruned `_vectors` scan, no
        // re-attach joins (a late (cent_id, cand_id) re-fetch was
        // measured +0.5-0.9 s on every broadcast-serving row in two full
        // sweeps: its DPP subquery re-executes the shortlist pipeline).
        val probeCents = probes
          .select(col("id").as("probe_id"), col("v").as("pv"))
          .crossJoin(broadcast(c))
          .withColumn("psim", Similarity.cosine(col("pv"), col("cv")))
          .withColumn("pr", row_number().over(pw))
          .filter(col("pr") <= nprobe)
          .select(col("probe_id"), col("pv"),
            Pq.lutCol(col("pv"), codes, pqM, pqSubDim).as("lut"),
            col("cent_id"))
        val vecs = spark.table(s"${prefix}_vectors")
          .select(col("id").as("cand_id"), col("v").as("cv"), col("codes"),
            col("cent_id"))
        broadcast(probeCents)
          .join(vecs, Seq("cent_id"))
          .filter(col("probe_id") =!= col("cand_id"))
          .withColumn("qscore", Pq.adcScore(col("lut"), col("codes"), pqM))
          .withColumn("qrank", row_number().over(cw))
          .filter(col("qrank") <= shortlist)
          .withColumn("cosine", Similarity.cosine(col("pv"), col("cv")))
      } else {
        // ONE projection of the caller's probe plan; the three consumers
        // below (list assignment, LUT relation, late pv re-attach) all
        // derive from it, so an expensive probe derivation (e.g. the bulk
        // hybrid's forward-table ⋈ requests join) canonicalizes to one
        // subtree and its exchanges are physically REUSED across the three
        // instantiations rather than re-derived per consumer (ADVICE r15).
        val p0 = probes.select(col("id").as("probe_id"), col("v").as("pv"))
        val luts = p0.select(col("probe_id"),
          Pq.lutCol(col("pv"), codes, pqM, pqSubDim).as("lut"))
        // Bulk form: the candidate explosion is |probes| × probed-list
        // rows and crosses a real exchange for the shortlist window, so
        // the candidate stream stays NARROW — (probe_id, cand_id, codes,
        // cent_id) — and the raw vectors (pv/cv, 8·dim bytes each)
        // re-attach AFTER the shortlist cut at `shortlist` rows per probe
        // (guide §8: decide on light rows, attach heavy bytes once). A
        // bulk probe set touches essentially every list, so the second
        // `_vectors` scan for cv is one more pass over data the plan
        // already scans in full, in exchange for keeping ~1 KiB of vector
        // payload per candidate row out of the probe_id exchange and both
        // window sorts.
        val probeCents = p0
          .crossJoin(broadcast(c))
          .withColumn("psim", Similarity.cosine(col("pv"), col("cv")))
          .withColumn("pr", row_number().over(pw))
          .filter(col("pr") <= nprobe)
          .select(col("probe_id"), col("cent_id"))
        val vecs = spark.table(s"${prefix}_vectors")
          .select(col("id").as("cand_id"), col("codes"), col("cent_id"))
        val vecsV = spark.table(s"${prefix}_vectors")
          .select(col("id").as("cand_id"), col("v").as("cv"), col("cent_id"))
        val pvs = p0
        probeCents
          .join(vecs, Seq("cent_id"))
          .filter(col("probe_id") =!= col("cand_id"))
          .join(luts, Seq("probe_id"))
          .withColumn("qscore", Pq.adcScore(col("lut"), col("codes"), pqM))
          .drop("lut", "codes")
          .withColumn("qrank", row_number().over(cw))
          .filter(col("qrank") <= shortlist)
          .join(vecsV, Seq("cent_id", "cand_id"))
          .join(pvs, Seq("probe_id"))
          .withColumn("cosine", Similarity.cosine(col("pv"), col("cv")))
      }
    result
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id") +: col("rank") +: col("cand_id") +:
        col("cosine") +:
        // the candidate's raw vector is already in hand at rerank time;
        // returning it here saves a rerank consumer (MMR) a second
        // corpus-table read
        (if (withVector) Seq(col("cv").as("v")) else Seq.empty): _*)
  }
}
