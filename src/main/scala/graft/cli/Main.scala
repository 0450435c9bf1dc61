package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Indexer, Search}
import graft.sources.Pipelines

/** Command-line surface mirroring the reference's shell entry points
  * (SURVEY.md §3: prepare_data.sh / index.sh / search.sh) so a reference
  * user can switch script-for-script — plus the growth commands the
  * persisted index supports here (append, compact).
  *
  *   runMain graft.cli.Main prepare <docs.parquet> <outDir> [n]
  *   runMain graft.cli.Main index   <docs.parquet> <prefix>
  *   runMain graft.cli.Main append  <docs.parquet> <prefix>
  *   runMain graft.cli.Main compact <prefix> [maxFilesPerBucket]
  *   runMain graft.cli.Main merge   <prefixA> <prefixB> <outPrefix>
  *   runMain graft.cli.Main snapshot <prefix> <tag>
  *   runMain graft.cli.Main rollback <prefix> <tag>
  *   runMain graft.cli.Main delete  <ids.parquet> <prefix>
  *   runMain graft.cli.Main search  <prefix> "<query>" [k]
  *   runMain graft.cli.Main similar <prefix> <doc_id> [k]
  *
  * Where the reference's index.sh runs three MapReduce jobs plus a
  * Cassandra loader, `index` is one Spark job writing the term-bucketed
  * tables; where search.sh scores on the driver, `search` is the one lazy
  * ranking plan over the persisted index.
  */
object Main {

  val Usage: String =
    """usage:
      |  prepare <docs.parquet> <outDir> [n=30]   sample+normalize, write per-doc files + TSV
      |  index   <docs.parquet> <prefix>          build the persisted term-bucketed index
      |  append  <docs.parquet> <prefix>          merge a new batch into the persisted index
      |  compact <prefix> [maxFilesPerBucket=8]   rewrite over-threshold postings buckets
      |  merge   <prefixA> <prefixB> <outPrefix>  combine two shard indexes into a third
      |  snapshot <prefix> <tag>                  point-in-time copy of the index
      |  rollback <prefix> <tag>                  restore the index from a snapshot
      |  delete  <ids.parquet> <prefix>           forget documents (doc_id column) from the index
      |  stats   <prefix>                         one-row DESCRIBE of the persisted index
      |  search  <prefix> "<query>" [k=10]        BM25 top-k over the persisted index
      |  fsearch <prefix> "<query>" [k=10]        typo-tolerant BM25 (1-edit vocabulary expansion)
      |  suggest <prefix> "<query>"               "did you mean" per query token (2-edit, df tiebreak)
      |  rm3     <prefix> "<query>" [k=10]        BM25 with pseudo-relevance-feedback expansion
      |  snippets <prefix> "<query>" [k=10]       best highlight window per top-k result
      |  similar <prefix> <doc_id> [k=5]          related documents (sparse TF-IDF cosine)
      |  vindex  <embeddings.parquet> <prefix>    build the persisted IVF-PQ vector index
      |  vappend <embeddings.parquet> <prefix>    encode a batch with the frozen quantizers and append
      |  vsearch <prefix> <vec_id> [k=5]          ANN top-k over the persisted vector index
      |  hsearch <textPrefix> <vecPrefix> <vec_id> "<query>" [k=10]
      |                                           hybrid BM25+vector RRF, both arms served
      |                                           from the persisted indexes
      |  hbatch <reqs.parquet> <tPfx> <vPfx> [k]  batch hybrid serving (query_id = probe vector id);
      |                                           routes to hbulk above 4096 requests, the
      |                                           literal-pruning sweet spot
      |  hbulk  <reqs.parquet> <tPfx> <vPfx> [k]  BULK hybrid serving over an unbounded request
      |                                           table — joins only, nothing request-derived is
      |                                           collected, broadcast, or inlined as a literal
      |  vcompact <prefix> [maxFilesPerUnit=8]    merge over-threshold vector lists + forward buckets
      |  vdelete <ids.parquet> <prefix>           forget vectors (id column) from the vector index
      |  vmerge <prefixA> <prefixB> <out>         merge shard indexes (adopts A's quantizers, re-encodes B)
      |  vstats <prefix>                          one-row describe: sizes + list-occupancy skew
      |  sstats <outDir>                          one-row describe of an hserve results sink:
      |                                           batch dirs / generations / rows / bytes +
      |                                           crash-debris and forget-pending flags
      |                                           (forget_pending = a crashed erasure is owed;
      |                                           the next forget/serve/compaction completes it)
      |                                           + lineages (how many serve checkpoints have
      |                                           written the sink; >1 means batch ids may have
      |                                           regressed and forget/retention age premises
      |                                           need operator care)
      |  scompact <outDir> [maxDirs=8]            compact a STOPPED serve's results sink in place
      |                                           (same tiered cycle as hserve --sink-max-dirs;
      |                                           0 forces a merge; also heals crash debris and
      |                                           completes a crashed forget)
      |  sretain <outDir> <retainBatches>         age-bound a STOPPED serve's results sink: drop
      |                                           dirs at or below (newest carried id) - retain
      |                                           (same rule as hserve --sink-retain)
      |  vretrain <prefix> [iters=2]              re-Lloyd centroids+codebooks from the forward
      |                                           store and re-encode (snapshot-fenced: takes
      |                                           <prefix>_preretrain first; vrollback to undo)
      |  vsnapshot <prefix> <tag>                 point-in-time copy of the vector index
      |  vrollback <prefix> <tag>                 restore the vector index from a snapshot
      |  forget  <ids.parquet> <textPrefix> <vecPrefix> [--sink=<outDir>]
      |                                           purge ids from BOTH serving stores, and with
      |                                           --sink from the hserve results log (erasure
      |                                           completes end-to-end: indexes first, then log);
      |                                           STOP the hserve stream first — a concurrent
      |                                           serve can land pre-purge results after forget
      |                                           returns; a crash mid-erasure leaves
      |                                           forget_pending in sstats and auto-completes at
      |                                           the next forget/serve/compaction on the sink
      |  singest <stagedDir> <prefix> [maxFilesPerUnit] [--ckpt=<dir>]
      |                                           STREAM staged corpus files (documents.parquet*)
      |                                           into the text index, one micro-batch per file;
      |                                           optional in-stream compaction policy; a stable
      |                                           --ckpt makes re-runs resume (only unseen files,
      |                                           replayed batches skipped, never double-appended)
      |  vingest <stagedDir> <prefix> [maxFilesPerUnit] [--ckpt=<dir>]
      |          [--retrain-every=<N>] [--retrain-skew=<T>]
      |                                           STREAM staged embeddings (embeddings.parquet*)
      |                                           into the vector index; --retrain-every/-skew arm
      |                                           the drift policy (occupancy-skew check every N
      |                                           batches; snapshot-fenced retrain past T)
      |  hserve  <stagedDir> <tPfx> <vPfx> <outDir> [k] [--ckpt=<dir>] [--sink-max-dirs=<n>]
      |          [--sink-retain=<r>]
      |                                           ONLINE hybrid serving of a staged request stream
      |                                           (requests.parquet*), results appended under
      |                                           outDir/batch_id=N; stable --ckpt resumes;
      |                                           --sink-retain drops results older than r batches
      |  query   <name> <sfDir> [--baseline]      run a registry query over a testdata dir;
      |                                           fixed-geometry baselines resolve to their
      |                                           corpus-derived production twin unless
      |                                           --baseline explicitly opts into the fixed form
      |""".stripMargin

  /** docs parquet in the testdata shape: (doc_id, text[, ...]). */
  private def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("doc_id"), col("text"))

  /** hbatch/hbulk request parquet: (query_id, query_text[, ...]). */
  private def readRequests(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("query_id").cast("long").as("query_id"),
      col("query_text"))

  /** `--name=value` flag lookup (boolean flags stay bare `--name`). */
  private def flagValue(flags: Seq[String], name: String): Option[String] =
    flags.collectFirst {
      case f if f.startsWith(s"--$name=") => f.stripPrefix(s"--$name=")
    }

  // Numeric argument parsing that fails as a USAGE error, not a raw
  // NumberFormatException (VERDICT r13 smaller note / ADVICE r13): every
  // numeric flag and positional is validated up front — `--sink-max-dirs=abc`
  // or `--sink-max-dirs=0` reports what was wrong and exits 2 like any
  // other bad invocation, before any Spark work runs.

  /** An optional integer argument named `what`, bounded below. */
  private def optInt(v: Option[String], what: String,
                     min: Int): Either[String, Option[Int]] =
    v.fold[Either[String, Option[Int]]](Right(None))(v => v.toIntOption match {
      case Some(n) if n >= min => Right(Some(n))
      case Some(n) => Left(s"$what must be >= $min (got $n)")
      case None => Left(s"$what expects an integer (got '$v')")
    })

  /** Optional integer `--name=` flag, bounded below. */
  private def intFlag(flags: Seq[String], name: String,
                      min: Int = 1): Either[String, Option[Int]] =
    optInt(flagValue(flags, name), s"--$name", min)

  /** Optional double `--name=` flag. */
  private def doubleFlag(flags: Seq[String],
                         name: String): Either[String, Option[Double]] =
    flagValue(flags, name) match {
      case None => Right(None)
      case Some(v) => v.toDoubleOption match {
        case Some(d) => Right(Some(d))
        case None => Left(s"--$name expects a number (got '$v')")
      }
    }

  /** First positional as an integer with a default when absent, bounded
    * below like the flags (ADVICE r14: a negative k or maxFiles is as
    * silently wrong as `--sink-max-dirs=0`).
    */
  private def posInt(rest: Seq[String], what: String,
                     default: Int, min: Int = 1): Either[String, Int] =
    optInt(rest.headOption, what, min).map(_.getOrElse(default))

  /** First positional as an OPTIONAL integer (absent stays None). */
  private def posIntOpt(rest: Seq[String], what: String,
                        min: Int = 1): Either[String, Option[Int]] =
    optInt(rest.headOption, what, min)

  /** Required long positional (ids on the serving commands — every
    * stored id is non-negative, so a negative one is a usage error, not
    * an empty result).
    */
  private def argLong(v: String, what: String): Either[String, Long] =
    v.toLongOption match {
      case Some(n) if n >= 0L => Right(n)
      case Some(n) => Left(s"$what must be >= 0 (got $n)")
      case None => Left(s"$what expects an integer id (got '$v')")
    }

  /** A sink-maintenance command's target directory must exist: a typo'd
    * path silently "succeeding" (nothing compacted, nothing retained,
    * nothing purged) is the ADVICE r14 silent-failure class.
    */
  private def requireSinkDir(spark: SparkSession,
                             outDir: String): Either[String, Unit] = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Right(())
    else Left(s"sink directory does not exist: $outDir")
  }

  /** The flags that are pure switches — everything else allowed by a
    * command takes `--name=<value>`.
    */
  private val BareFlags = Set("baseline")

  /** Reject flags the command does not define, value-taking flags
    * missing their `=value` (or given an empty one), and switches given
    * a value: a typo'd or half-typed flag must not silently change
    * behavior (`--sink-maxdirs=3` serving with NO compaction bound, or a
    * bare `--sink` skipping the results-log purge while `forget` exits
    * 0 — ADVICE r14).
    */
  private def checkFlags(flags: Seq[String],
                         allowed: String*): Either[String, Unit] =
    flags.foldLeft[Either[String, Unit]](Right(())) {
      case (err @ Left(_), _) => err
      case (_, f) =>
        val name = f.stripPrefix("--").takeWhile(_ != '=')
        if (!allowed.contains(name))
          Left(s"unknown flag --$name (expected: " + (if (allowed.isEmpty)
            "none" else allowed.map("--" + _).mkString(", ")) + ")")
        else if (BareFlags.contains(name)) {
          if (f != s"--$name") Left(s"--$name takes no value")
          else Right(())
        } else if (!f.startsWith(s"--$name=") || f == s"--$name=")
          Left(s"--$name requires a value (--$name=<value>)")
        else Right(())
    }

  /** Command dispatch, separated from main() so tests drive it in-process.
    * @return Left(error) or Right(optional result table to display)
    */
  def run(spark: SparkSession, args: Seq[String]): Either[String, Option[DataFrame]] =
    args match {
      case Seq("prepare", in, outDir, rest @ _*) =>
        posInt(rest, "n", 30).map { n =>
        val d = spark.read.parquet(in)
        val docs = d.select(col("doc_id").cast("string").as("id"),
          substring(col("text"), 1, 50).as("title"), col("text"))
        val prepared = Pipelines.prepare(docs, n, d.count())
        Pipelines.writePerDocFiles(prepared, s"$outDir/docs")
        Pipelines.writeTsv(prepared, s"$outDir/tsv")
        Some(prepared.select(col("id"), col("title")))
        }
      case Seq("index", in, prefix) =>
        Indexer.buildBucketedIndex(spark, readDocs(spark, in), prefix)
        Right(None)
      case Seq("append", in, prefix) =>
        Indexer.appendBucketedIndex(spark, readDocs(spark, in), prefix)
        Right(None)
      case Seq("compact", prefix, rest @ _*) =>
        posInt(rest, "maxFiles", 8, min = 0).map { maxFiles =>
          val did = Indexer.compactBucketedIndex(spark, prefix, maxFiles)
          System.err.println(
            if (did) s"[graft] compacted ${prefix}_postings"
            else s"[graft] ${prefix}_postings within threshold, nothing to do")
          None
        }
      case Seq("merge", a, b, out) =>
        Indexer.mergeBucketedIndexes(spark, a, b, out)
        Right(None)
      case Seq("snapshot", prefix, tag) =>
        Indexer.snapshotIndex(spark, prefix, tag)
        Right(None)
      case Seq("rollback", prefix, tag) =>
        Indexer.rollbackIndex(spark, prefix, tag)
        Right(None)
      case Seq("delete", idsPath, prefix) =>
        Indexer.deleteFromBucketedIndex(spark, prefix,
          spark.read.parquet(idsPath).select(col("doc_id")))
        Right(None)
      case Seq("stats", prefix) =>
        Right(Some(Indexer.describeIndex(spark, prefix)))
      case Seq("search", prefix, query, rest @ _*) =>
        posInt(rest, "k", 10).map(k =>
          Some(Search.searchPrebuilt(spark, query, prefix, k)))
      case Seq("fsearch", prefix, query, rest @ _*) =>
        posInt(rest, "k", 10).map(k =>
          Some(Search.fuzzySearchPrebuilt(spark, query, prefix, k)))
      case Seq("suggest", prefix, query) =>
        Right(Some(Search.spellSuggest(spark, query,
          spark.table(s"${prefix}_term_df"))))
      case Seq("rm3", prefix, query, rest @ _*) =>
        // the expansion term set is dynamic, so unlike `search` the
        // postings cannot be statically bucket-pruned — the term joins
        // still run co-located against the bucketed tables
        posInt(rest, "k", 10).map(k =>
          Some(Search.rm3Search(spark, query,
            spark.table(s"${prefix}_postings"), spark.table(s"${prefix}_term_df"),
            spark.table(s"${prefix}_doc_info"), k)))
      case Seq("snippets", prefix, query, rest @ _*) =>
        posInt(rest, "k", 10).map { k =>
          val toks = Search.queryTokens(query)
          Some(Search.snippets(spark, query,
            spark.table(s"${prefix}_postings")
              .filter(col("term").isin(toks: _*)),
            spark.table(s"${prefix}_term_df")
              .filter(col("term").isin(toks: _*)),
            spark.table(s"${prefix}_doc_info"), k))
        }
      case Seq("similar", prefix, docId, rest @ _*) =>
        for {
          k <- posInt(rest, "k", 5)
          id <- argLong(docId, "docId")
        } yield Some(graft.operators.MoreLikeThis
          .similarPrebuilt(spark, prefix, id, k))
      case Seq("vindex", in, prefix) =>
        val emb = spark.read.parquet(in).select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v"))
        graft.operators.VectorIndex.trainAndBuild(spark, emb, prefix)
        Right(None)
      case Seq("vappend", in, prefix) =>
        val emb = spark.read.parquet(in).select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v"))
        graft.operators.VectorIndex.append(spark, emb, prefix)
        Right(None)
      case Seq("vsearch", prefix, vecId, rest @ _*) =>
        for {
          k <- posInt(rest, "k", 5)
          id <- argLong(vecId, "vec_id")
        } yield {
          // point fetch by id: the bucket-pruned forward store, never the
          // cent_id-partitioned lists (whose layout can't prune on id)
          val probe = spark.table(s"${prefix}_forward")
            .filter(col("id") === id).select(col("id"), col("v"))
          Some(graft.operators.VectorIndex.searchPrebuilt(spark, prefix,
            probe, k, nprobe = 8, shortlist = 40)
            .orderBy("rank"))
        }
      // hybrid serving: BM25 arm from the text index, vector arm from the
      // IVF-PQ index (probe = a stored vector by id), RRF fusion — the
      // whole command reads persisted index tables only, never the corpus;
      // a point call is a one-request batch
      case Seq("hsearch", textPrefix, vecPrefix, vecId, query, rest @ _*) =>
        for {
          k <- posInt(rest, "k", 10)
          id <- argLong(vecId, "vec_id")
        } yield Some(Search.hybridBatchSearchPrebuilt(spark, Seq(id -> query),
          textPrefix, vecPrefix, k).drop("query_id"))
      // batch hybrid serving: a request TABLE (query_id = stored probe
      // vector id, query_text) read from parquet; a batch within the
      // threshold serves through one bucket-pruned pass for the union of
      // its query terms and one forward fetch for its probe ids, a larger
      // one through the bulk join plan (Search.literalRequests routes)
      case Seq("hbatch", requestsPath, textPrefix, vecPrefix, rest @ _*) =>
        val (hflags, hpos) = rest.partition(_.startsWith("--"))
        checkFlags(hflags).flatMap(_ => posInt(hpos, "k", 10)).map { k =>
          val reqDf = readRequests(spark, requestsPath)
          Some(Search.literalRequests(reqDf).fold(
            Search.hybridBulkSearchPrebuilt(spark, reqDf, textPrefix,
              vecPrefix, k))(
            Search.hybridBatchSearchPrebuilt(spark, _, textPrefix, vecPrefix,
              k)))
        }
      // bulk hybrid serving over an UNBOUNDED request table: terms prune
      // by join against the bucketed index, probe vectors by join against
      // the forward store — no collect, no broadcast, no literals, so the
      // command survives a 10M-request offline sweep
      case Seq("hbulk", requestsPath, textPrefix, vecPrefix, rest @ _*) =>
        posInt(rest, "k", 10).map(k =>
          Some(Search.hybridBulkSearchPrebuilt(spark,
            readRequests(spark, requestsPath), textPrefix, vecPrefix, k)))
      case Seq("vcompact", prefix, rest @ _*) =>
        posInt(rest, "maxFiles", 8, min = 0).map { maxFiles =>
          val did = graft.operators.VectorIndex.compact(spark, prefix, maxFiles)
          System.err.println(
            if (did) s"[graft] compacted ${prefix}_vectors/_forward"
            else s"[graft] nothing to compact (all units <= $maxFiles files)")
          None
        }
      case Seq("vmerge", prefixA, prefixB, out) =>
        graft.operators.VectorIndex.merge(spark, prefixA, prefixB, out)
        Right(None)
      case Seq("vstats", prefix) =>
        Right(Some(graft.operators.VectorIndex.describe(spark, prefix)))
      case Seq("sstats", outDir) =>
        Right(Some(
          graft.streaming.DocStreams.describeServingSink(spark, outDir)))
      case Seq("scompact", outDir, rest @ _*) =>
        for {
          maxDirs <- posInt(rest, "maxDirs", 8, min = 0)
          _ <- requireSinkDir(spark, outDir)
        } yield {
          val did = graft.streaming.DocStreams
            .compactServingSinkNow(spark, outDir, maxDirs)
          System.err.println(
            if (did) s"[graft] compacted serving sink $outDir"
            else s"[graft] nothing to compact at $outDir " +
              s"(dirs within threshold $maxDirs, or no id-carrying dirs)")
          None
        }
      case Seq("sretain", outDir, retainStr) =>
        for {
          retain <- posInt(Seq(retainStr), "retainBatches", 1)
          _ <- requireSinkDir(spark, outDir)
        } yield {
          val dropped = graft.streaming.DocStreams
            .retainServingSinkNow(spark, outDir, retain)
          System.err.println(s"[graft] sink retention at $outDir dropped " +
            s"$dropped result dir(s)")
          None
        }
      case Seq("vretrain", prefix, rest @ _*) =>
        posInt(rest, "iters", 2).map { iters =>
          // fence the multi-table swap: a crash mid-retrain leaves a mixed
          // quantizer state, recoverable only from a point-in-time copy.
          // Fence + retrain hold ONE lease (ADVICE r13): no writer can
          // sneak between them, and contention can't orphan the fence.
          graft.operators.VectorIndex
            .snapshotFencedRetrain(spark, prefix, iters)
          System.err.println(s"[graft] retrained $prefix from its forward " +
            s"store (fence: ${prefix}_preretrain — " +
            s"`vrollback $prefix preretrain` to undo)")
          None
        }
      case Seq("vsnapshot", prefix, tag) =>
        graft.operators.VectorIndex.snapshot(spark, prefix, tag)
        Right(None)
      case Seq("vrollback", prefix, tag) =>
        graft.operators.VectorIndex.rollback(spark, prefix, tag)
        Right(None)
      case Seq("vdelete", idsPath, prefix) =>
        graft.operators.VectorIndex.delete(spark,
          spark.read.parquet(idsPath).select(col("id")), prefix)
        Right(None)
      // right-to-be-forgotten across BOTH serving stores: one id table,
      // the text index keyed doc_id, the vector index keyed id — and,
      // with --sink=, the serving RESULTS log too (the accumulated result
      // rows still name the purged documents). Ordering is part of the
      // contract: indexes purge FIRST, so a serve resumed mid-forget can
      // only re-serve from stores that no longer contain the ids.
      case Seq("forget", idsPath, textPrefix, vecPrefix, rest @ _*) =>
        val (flags, pos) = rest.partition(_.startsWith("--"))
        for {
          _ <- checkFlags(flags, "sink")
          _ <- if (pos.isEmpty) Right(()) else Left(Usage)
          // a typo'd --sink path must fail, not report a successful
          // erasure while the results log still names the ids (ADVICE
          // r14); checked BEFORE the index purges so the whole command
          // either runs or errors
          sink <- flagValue(flags, "sink") match {
            case None => Right(None)
            case Some(out) => requireSinkDir(spark, out)
              .map(_ => Some(out)).left.map(_ +
                " (nothing would be purged from the results log)")
          }
        } yield {
          val ids = spark.read.parquet(idsPath)
          Indexer.deleteFromBucketedIndex(spark, textPrefix,
            ids.select(col("doc_id")))
          graft.operators.VectorIndex.delete(spark,
            ids.select(col("doc_id").as("id")), vecPrefix)
          sink.foreach(out =>
            graft.streaming.DocStreams.forgetFromServingSink(spark, out,
              ids.select(col("doc_id"))))
          None
        }
      // Streaming ingest/serving on the CLI: the reference re-runs
      // index.sh from cron to grow its store; these commands run the
      // streaming equivalent — arriving files become micro-batches, the
      // stores self-maintain (compaction/retrain policies), and a stable
      // checkpoint makes every command resumable and effectively-once
      case Seq("singest", stagedDir, prefix, rest @ _*) =>
        val (flags, pos) = rest.partition(_.startsWith("--"))
        for {
          _ <- checkFlags(flags, "ckpt")
          maxFiles <- posIntOpt(pos, "maxFilesPerUnit")
        } yield {
          val report = graft.streaming.DocStreams.ingestAppend(spark,
            stagedDir, prefix, maxFiles, flagValue(flags, "ckpt"))
          if (report.replaySkips > 0)
            System.err.println(s"[graft] ${report.replaySkips} replayed " +
              "batch(es) skipped (effectively-once)")
          None
        }
      case Seq("vingest", stagedDir, prefix, rest @ _*) =>
        val (flags, pos) = rest.partition(_.startsWith("--"))
        for {
          _ <- checkFlags(flags, "ckpt", "retrain-every", "retrain-skew")
          maxFiles <- posIntOpt(pos, "maxFilesPerUnit")
          every <- intFlag(flags, "retrain-every")
          skew <- doubleFlag(flags, "retrain-skew")
        } yield {
          val policy =
            if (every.isEmpty && skew.isEmpty) None
            else Some(graft.streaming.DocStreams.RetrainPolicy(
              everyNBatches = every.getOrElse(8),
              skewThreshold = skew.getOrElse(3.0)))
          val report = graft.streaming.DocStreams.vectorIngestAppend(spark,
            stagedDir, prefix, maxFiles, policy, flagValue(flags, "ckpt"))
          if (policy.isDefined)
            System.err.println(s"[graft] retrain policy fired " +
              s"${report.retrains} time(s)")
          if (report.replaySkips > 0)
            System.err.println(s"[graft] ${report.replaySkips} replayed " +
              "batch(es) skipped (effectively-once)")
          None
        }
      case Seq("hserve", stagedDir, textPrefix, vecPrefix, outDir, rest @ _*) =>
        val (flags, pos) = rest.partition(_.startsWith("--"))
        for {
          _ <- checkFlags(flags, "ckpt", "sink-max-dirs", "sink-retain")
          k <- posInt(pos, "k", 10)
          maxDirs <- intFlag(flags, "sink-max-dirs")
          retain <- intFlag(flags, "sink-retain")
        } yield {
          graft.streaming.DocStreams.hybridServe(spark, stagedDir, textPrefix,
            vecPrefix, outDir, k, flagValue(flags, "ckpt"),
            maxSinkDirs = maxDirs, retainBatches = retain)
          None
        }
      // Registry access with twin resolution: the fixed-geometry forms
      // stay registered as oracle-stability baselines, but a user typing
      // their name gets the corpus-derived production twin (the plan that
      // survives x100 — SCALE_r7.md) unless --baseline opts out.
      case Seq("query", rest @ _*) =>
        val (flags, pos) = rest.partition(_.startsWith("--"))
        checkFlags(flags, "baseline").flatMap(_ => pos match {
          case Seq(name, sfDir) if graft.Queries.all.contains(name) =>
            val resolved =
              if (flags.contains("--baseline")) name
              else graft.Queries.productionTwin.get(name) match {
                case Some(twin) =>
                  System.err.println(
                    s"[graft] '$name' is an oracle-stability baseline whose " +
                      s"plan does not survive production scale (quadratic " +
                      s"candidate/output volume or a full-corpus scan per " +
                      s"query); running production twin '$twin' (pass " +
                      s"--baseline to run '$name' anyway)")
                  twin
                case None => name
              }
            Right(Some(graft.Queries.all(resolved)(spark, sfDir)))
          case Seq(name, _) =>
            Left(s"unknown query '$name' — ${graft.Queries.all.size} " +
              "registered; see QUERIES.md")
          case _ => Left(Usage)
        })
      case _ => Left(Usage)
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    try run(spark, args.toSeq) match {
      case Left(msg)        => System.err.println(msg); sys.exit(2)
      case Right(Some(out)) => out.show(100, truncate = false)
      case Right(None)      => ()
    } finally spark.stop()
  }
}
