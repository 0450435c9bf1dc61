package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship ranking query — the reference's entire `query.py` driver loop
  * (app/query.py:149-197) re-expressed as ONE lazy DataFrame plan:
  *
  *   postings ⋈ term_df (both pruned to the query terms)
  *     → groupBy(doc_id) collect (df, tf)
  *     ⋈ doc_info (doc_id, length, title) → score → top k → re-sort k rows
  *
  * The pruned term_df holds one row per query term and broadcasts into the
  * postings probe, so postings are filtered to the query terms at the scan
  * and never materialized in full. Each candidate document is scored once,
  * after the one doc_id exchange: its ≤ |query terms| (df, tf) pairs fold
  * through the BM25 formula in a higher-order `aggregate`, and doc_info is
  * read once, for length and title together. The top-k cut is one
  * TakeOrderedAndProject (the distributed `takeOrdered(10)` of the
  * reference); the k winners are re-sorted on the display grid inside their
  * single partition, with no exchange.
  *
  * Collection stats (n_docs, avg_len) enter the chain as a parameter: an
  * in-plan singleton aggregate for DataFrame inputs, and a driver-side memo
  * for persisted indexes, keyed by the doc_info table's file set (the
  * reference reads them once per session, app/query.py:52-61). A point
  * search over a persisted index runs 4 Spark jobs on a memo hit, and 6 on
  * a miss (the first search of a driver, or the first after an index write).
  */
object Search {

  /** Above this many requests, hybrid serving routes to the bulk join
    * plan ([[literalRequests]]).
    */
  val BulkRequestThreshold = 4096L

  /** Reciprocal-rank fusion of the text and vector arms' ranks
    * (`text_rank`, `vec_rank`): sum over arms of 1/(60 + rank), where an
    * arm that did not return the document adds 0.
    */
  val rrf: Column =
    coalesce(lit(1.0) / (lit(60.0) + col("text_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60.0) + col("vec_rank")), lit(0.0))

  /** Driver-side tokenization of the scalar query string — same semantics
    * as Tokenizer.tokenize, distinct terms in first-occurrence order.
    */
  def queryTokens(query: String): Seq[String] =
    "(?U)[^\\w\\s]".r.replaceAllIn(query.toLowerCase, " ")
      .split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** Tokenize the query string driver-side (it is a scalar, not data). */
  def queryTerms(spark: SparkSession, query: String): DataFrame = {
    import spark.implicits._
    queryTokens(query).toDF("term")
  }

  /** Per-(term, doc) BM25 components for a query — the plan up to but
    * excluding the final per-doc sum (reference J1+J2+J3+F9+F10), as
    * `bm25_term_scores` reports them.
    * Columns: (doc_id, term, df, tf, length, n_docs, avg_len, idf, score).
    */
  def termComponents(spark: SparkSession, query: String,
                     postings: DataFrame, termDf: DataFrame,
                     docInfo: DataFrame): DataFrame =
    planStats(docInfo)(broadcast(queryTerms(spark, query))
        .join(termDf, "term")
        .join(postings.select("term", "doc_id", "tf"), "term")
        .join(docInfo.select("doc_id", "length"), "doc_id"))
      .withColumn("idf", BM25.idf(col("n_docs"), col("df")))
      .withColumn("score",
        BM25.termScore(col("tf"), col("idf"), col("length"), col("avg_len")))

  /** Attaches the collection stats (n_docs, avg_len) to a frame as two
    * columns — how the BM25 chains receive them.
    */
  private type Stats = DataFrame => DataFrame

  /** (n_docs, avg_len) as a singleton aggregate over doc_info (A4/A5). */
  private def statsAgg(docInfo: DataFrame): DataFrame =
    docInfo.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("length")).as("avg_len"))

  /** Stats computed inside the plan: the singleton aggregate joins in as a
    * broadcast, so plan construction runs no driver action.
    */
  private def planStats(docInfo: DataFrame): Stats = {
    val stats = statsAgg(docInfo)
    _.crossJoin(broadcast(stats))
  }

  /** Stats of a persisted doc_info table, memoized on the driver with one
    * entry per table location (the directory holding its files). An entry
    * is valid while the table's file set is the one it was computed from.
    * Every index write (append, delete, ingest, compaction, rollback) lands
    * new, uniquely named files, so a changed table misses and recomputes on
    * next use.
    *
    * The memo pays off only for repeated searches over an unchanged index
    * in one driver (a serving session); a miss runs the in-plan form's
    * aggregate eagerly at plan construction, as two jobs. It keeps the
    * `MaxEntries` most recently searched locations, so a driver that
    * searches many prefixes does not grow it without bound.
    */
  private object StatsMemo {
    private val MaxEntries = 16
    private val entries =
      new java.util.LinkedHashMap[String, (Set[String], Row)](MaxEntries, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Set[String], Row)]): Boolean =
          size > MaxEntries
      }

    def apply(docInfo: DataFrame): Stats = {
      val files = docInfo.inputFiles.toSet
      val location = files.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString)
        .toSeq.sorted.mkString(",")
      val stats = synchronized(Option(entries.get(location))).collect {
        case (`files`, row) => row
      }.getOrElse {
        val row = statsAgg(docInfo).head()
        synchronized(entries.put(location, (files, row)))
        row
      }
      // avg_len is null for an empty table
      _.withColumns(Map("n_docs" -> lit(stats.get(0)),
        "avg_len" -> lit(stats.get(1)).cast("double")))
    }
  }

  /** The BM25 ranking chain behind `search`, `searchPrebuilt` and both
    * fuzzy searches; `rm3Search` and `snippets` take their top k from
    * `search`.
    *
    * `termDf` arrives pruned to the query's terms (≤ one row per term) and
    * broadcasts into the postings probe, so postings are filtered at the
    * probe (J1 + P6: terms absent from the index have no df row and drop).
    * Each candidate document is scored once, after the doc_id exchange,
    * from its ≤ |terms| (df, tf) pairs; doc_info joins once, for length and
    * title together, so titles never ride the postings-side exchange. That
    * join carries every doc_info row's title: in the broadcast while
    * doc_info is under spark.sql.autoBroadcastJoinThreshold, in its shuffle
    * above it. Attaching titles to the k winners instead costs a second
    * doc_info scan and two more jobs per search. The
    * top-k cut is on the raw (score DESC, doc_id ASC) order; the displayed
    * score is pinned to the 1e-6 grid (Money.micros) — the raw score chains
    * through libm ln, whose last ulp is engine-specific — and the ≤k
    * winners are re-sorted on it inside their single partition.
    */
  private def rank(postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
                   stats: Stats, k: Int): DataFrame = {
    val hits = postings.select("term", "doc_id", "tf")
      .join(broadcast(termDf.select("term", "df")), "term")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("tf"))).as("hits"))
    stats(hits.join(docInfo.select("doc_id", "length", "title"), "doc_id"))
      .select(col("doc_id"), col("title"),
        aggregate(col("hits"), lit(0.0), (acc, h) => acc + BM25.termScore(
          h("tf"), BM25.idf(col("n_docs"), h("df")), col("length"),
          col("avg_len"))).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("title"), graft.Money.micros(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** Vocabulary terms within `maxDist` edits of any query token: the
    * (vocabulary-sized) term table joins the broadcast query tokens behind
    * a length-band prefilter — |len(term) - len(qterm)| <= maxDist is
    * necessary for edit distance <= maxDist, so the cheap codegen'd guard
    * rejects almost all of the vocabulary before the O(len^2) levenshtein
    * runs. Returns the DISTINCT matching rows of `vocab`.
    */
  private def expand(spark: SparkSession, query: String, vocab: DataFrame,
                     maxDist: Int): DataFrame = {
    val qt = queryTerms(spark, query).select(col("term").as("qterm"))
    vocab.join(broadcast(qt),
        abs(length(col("term")) - length(col("qterm"))) <= maxDist &&
          levenshtein(col("term"), col("qterm")) <= maxDist)
      .drop("qterm").distinct()
  }

  /** Typo-tolerant search: each query token expands to every vocabulary
    * term within `maxDist` edits ([[expand]]), and the expanded term_df
    * rows feed the standard BM25 chain — one lazy plan.
    * Cost at 100 TB: one scan of the vocab table per query batch (the
    * vocab grows with distinct terms, not corpus rows), then the normal
    * term-pruned search.
    */
  def fuzzySearch(spark: SparkSession, query: String,
                  postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
                  k: Int = 10, maxDist: Int = 1): DataFrame =
    rank(postings, expand(spark, query, termDf.select("term", "df"), maxDist),
      docInfo, planStats(docInfo), k)

  /** Full search over pre-built index DataFrames. Returns
    * (doc_id, title, score) — the reference's result display shape
    * (app/query.py:199-213 prints rank, id, title, score).
    * @param postings (term, doc_id, tf, ...)
    * @param termDf   (term, df)
    * @param docInfo  (doc_id, title, length)
    */
  def search(spark: SparkSession, query: String,
             postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
             k: Int = 10): DataFrame = {
    val inTerms = col("term").isin(queryTokens(query): _*)
    rank(postings.filter(inTerms), termDf.filter(inTerms), docInfo,
      planStats(docInfo), k)
  }

  /** The BM25 chain over a persisted index, pruned to literal `terms`. */
  private def rankPrebuilt(spark: SparkSession, terms: Seq[String],
                           prefix: String, k: Int): DataFrame = {
    val inTerms = col("term").isin(terms: _*)
    val docInfo = spark.table(s"${prefix}_doc_info")
    rank(spark.table(s"${prefix}_postings").filter(inTerms),
      spark.table(s"${prefix}_term_df").filter(inTerms), docInfo,
      StatsMemo(docInfo), k)
  }

  /** Search over the persisted term-bucketed index tables built by
    * Indexer.buildBucketedIndex — the reference's actual architecture
    * (app/index.sh persists once; app/query.py:97-139 reads per query),
    * minus Cassandra. Literal IN-list `term` filters prune buckets
    * (SelectedBucketsCount) and parquet row groups at the scan; the pruned
    * term_df (one row per query term) broadcasts into the postings probe,
    * so no exchange lands on either index scan. Collection stats come from
    * a driver-side memo, so doc_info is read once per query, for the winners'
    * length and title. At 100 TB each query touches |terms| buckets of the
    * postings table, not the corpus.
    */
  def searchPrebuilt(spark: SparkSession, query: String, prefix: String,
                     k: Int = 10): DataFrame =
    rankPrebuilt(spark, queryTokens(query), prefix, k)

  /** Batch hybrid retrieval served ENTIRELY from persisted stores, for a
    * request batch small enough to inline as literals: the lexical arm
    * from the term-bucketed BM25 index, the semantic arm from the
    * persisted IVF-PQ index, fused with reciprocal rank fusion (Cormack et
    * al. SIGIR'09: score = Σ_arms 1/(60 + rank)). Display titles come from
    * the index's own doc_info table, so the whole call touches index
    * tables only, never the corpus (the reference's serving pattern,
    * app/query.py:97-122). A point call is a one-pair batch.
    *  - text arm: the union of all query terms becomes ONE literal
    *    IN-list, so every per-query probe shares one bucket-pruned scan of
    *    postings/term_df — cost is |distinct terms| buckets, independent
    *    of the corpus;
    *  - vector arm: probe vectors point-fetched from the bucket-pruned
    *    `_forward` store by the literal id list, then one DPP-pruned pass
    *    over the probed `_vectors` lists (VectorIndex.searchPrebuilt is
    *    multi-probe, so the batch costs |probed lists| partitions, not
    *    |queries| passes).
    * The pairs are a Scala Seq, not a DataFrame, for the same reason
    * fuzzySearchPrebuilt materializes its expansion: the literal lists ARE
    * what prunes buckets at the scan (query rewrite before index access).
    * [[literalRequests]] decides when a request table is small enough.
    *
    * @param queries (probe_id, query_text): probe_id keys both the stored
    *                probe vector and the output rows, and must be unique
    */
  def hybridBatchSearchPrebuilt(spark: SparkSession,
                                queries: Seq[(Long, String)],
                                textPrefix: String, vecPrefix: String,
                                k: Int = 10, nprobe: Int = 8,
                                shortlist: Int = 40): DataFrame =
    hybridPlan(spark, Left(queries), textPrefix, vecPrefix, k, nprobe,
      shortlist)

  /** BULK hybrid serving over an UNBOUNDED request TABLE — the scale-out
    * twin of [[hybridBatchSearchPrebuilt]], whose literal IN-lists (and
    * the driver's collect of the requests) are exactly right for a
    * serving micro-batch but die at offline-bulk scale: 10M stored
    * queries for an eval sweep, an offline rerank, a RAG corpus
    * annotation (the reference's own limitation: its per-term driver
    * loop, app/query.py:97-122). Here NOTHING request-derived is
    * collected, broadcast, or inlined as a literal:
    *  - text arm: requests tokenize IN-PLAN and probe postings/term_df by
    *    JOIN on term ([[bulkSearch]]) — against the term-bucketed index
    *    tables the join lands exchange-free on the index side, and the
    *    request side shuffles by term once;
    *  - vector arm: probe vectors come from a JOIN of the requests against
    *    the id-bucketed `_forward` store (requests without a stored vector
    *    simply have no semantic arm — the full-outer fusion handles them),
    *    candidates from [[VectorIndex.searchBulk]], which scores the
    *    probed lists through a shuffle join on cent_id instead of a probe
    *    broadcast;
    *  - the text arm's per-query top-k keeps k rows per query per
    *    partition in partial heaps before its rank window
    *    ([[graft.plans.TopK.perGroup]]), and the display-title attach is
    *    a plain join of doc_info against the |requests|·k winners.
    * Cost ∝ |requests| + touched index data; every shuffle key
    * (term, cent_id, doc_id, query_id) partitions across the cluster, so
    * no single task, no broadcast, and no driver structure scales with the
    * request count.
    *
    * @param requests (query_id: long, query_text: string); query_id keys
    *                 the stored probe vector and the output rows, and must
    *                 be UNIQUE — duplicate rows under one id are an
    *                 ill-defined request ("one query, two texts") and
    *                 double-score the text arm (the batch form shares this
    *                 contract; AUDIT_r11 #7)
    */
  def hybridBulkSearchPrebuilt(spark: SparkSession, requests: DataFrame,
                               textPrefix: String, vecPrefix: String,
                               k: Int = 10, nprobe: Int = 8,
                               shortlist: Int = 40): DataFrame =
    hybridPlan(spark, Right(requests), textPrefix, vecPrefix, k, nprobe,
      shortlist)

  /** The request route of hybrid serving: the rows of `requests`
    * (query_id, query_text) when there are at most `bulkThreshold` of
    * them, for [[hybridBatchSearchPrebuilt]], else None, for
    * [[hybridBulkSearchPrebuilt]]. The batch form's per-term/per-id
    * literals are what PRUNE the index scans for a small batch, but the
    * expression tree and this collect grow linearly with the batch; past
    * the threshold one shared pass over the touched index regions is both
    * safer and faster. One LIMIT-bounded collect reads just enough of the
    * table to decide, and a small batch is read only once. The CLI
    * `hbatch` and the serving stream
    * ([[graft.streaming.DocStreams.hybridServe]]) both route here.
    */
  def literalRequests(requests: DataFrame,
                      bulkThreshold: Long = BulkRequestThreshold)
      : Option[Seq[(Long, String)]] = {
    // a negative threshold would make the probe limit(0) and silently
    // DROP every request; clamp the probe at Int range for huge values
    // (AUDIT_r13 #3)
    require(bulkThreshold >= 0, s"bulkThreshold must be >= 0 ($bulkThreshold)")
    val rows = requests.select(col("query_id"), col("query_text"))
      .limit(math.min(bulkThreshold, Int.MaxValue - 1L).toInt + 1).collect()
    if (rows.length <= bulkThreshold)
      Some(rows.map(r => (r.getLong(0), r.getString(1))).toSeq)
    else {
      System.err.println("[graft] request batch exceeds the literal-pruning " +
        s"sweet spot ($bulkThreshold requests); serving via the bulk join " +
        "plan (no driver collect, nothing request-derived inlined as a " +
        "literal)")
      None
    }
  }

  /** The one hybrid serving plan behind both forms. The two differ only
    * in how requests reach the index: literal pairs (Left) prune the text
    * scans by IN-list, fetch probes by an id list and score the probed
    * lists against a probe broadcast; a request table (Right) does each
    * by join and broadcasts nothing derived from it. The text-rank
    * window, the full-outer RRF fusion, the per-query rank window and the
    * title attach are shared.
    */
  private def hybridPlan(spark: SparkSession,
                         requests: Either[Seq[(Long, String)], DataFrame],
                         textPrefix: String, vecPrefix: String, k: Int,
                         nprobe: Int, shortlist: Int): DataFrame = {
    import spark.implicits._
    val postings = spark.table(s"${textPrefix}_postings")
    val termDf = spark.table(s"${textPrefix}_term_df")
    val docInfo = spark.table(s"${textPrefix}_doc_info")
    val forward = spark.table(s"${vecPrefix}_forward")
    val (textTop, vecTop) = requests match {
      case Left(queries) =>
        val inTerms = col("term")
          .isin(queries.flatMap(q => queryTokens(q._2)).distinct: _*)
        val probes = forward.filter(col("id").isin(queries.map(_._1): _*))
          .select(col("id"), col("v"))
        (batchTopK(queries.toDF("query_id", "query_text"),
            postings.filter(inTerms), termDf.filter(inTerms), docInfo, k,
            broadcastRequests = true),
          VectorIndex.searchPrebuilt(spark, vecPrefix, probes, k, nprobe,
            shortlist))
      case Right(reqs) =>
        val probes = forward.join(reqs.select(col("query_id").as("id")), "id")
          .select(col("id"), col("v"))
        (batchTopK(reqs, postings, termDf, docInfo, k,
            broadcastRequests = false),
          VectorIndex.searchBulk(spark, vecPrefix, probes, k, nprobe,
            shortlist))
    }
    // per-query re-rank of the k raw-score survivors on the Money-grid
    // score (the window orders ≤k rows per query)
    val tw = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val textRank = textTop
      .select(col("query_id"), col("doc_id").cast("long").as("doc_id"),
        col("score"))
      .withColumn("text_rank", row_number().over(tw).cast("long"))
      .drop("score")
    val vecRank = vecTop
      .select(col("probe_id").as("query_id"), col("cand_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    val fused = textRank.join(vecRank, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
    spark.table(s"${textPrefix}_doc_info")
      .select(col("doc_id").cast("long").as("doc_id"), col("title"))
      .join(if (requests.isLeft) broadcast(fused) else fused, "doc_id")
      .select(col("query_id"), col("doc_id"), col("title"), col("text_rank"),
        col("vec_rank"), col("rrf").cast("double").as("rrf"))
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
  }

  /** "Did you mean": for each query token, the best correction among
    * vocabulary terms within `maxDist` edits — closest distance first,
    * then highest document frequency (the commoner word is the likelier
    * intent), then lexicographic. One vocabulary-sized expansion scan
    * (length-band guard before the levenshtein, as in fuzzySearch), one
    * window over the per-token candidates. Tokens with no neighbour
    * produce no row.
    */
  def spellSuggest(spark: SparkSession, query: String, termDf: DataFrame,
                   maxDist: Int = 2): DataFrame = {
    import spark.implicits._
    val qt = queryTokens(query).toDF("qterm")
    val cand = termDf.join(broadcast(qt),
      abs(length(col("term")) - length(col("qterm"))) <= maxDist &&
        levenshtein(col("term"), col("qterm")) <= maxDist)
      .withColumn("dist", levenshtein(col("term"), col("qterm")))
    val best = Window.partitionBy(col("qterm"))
      .orderBy(col("dist").asc, col("df").desc, col("term").asc)
    cand.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("qterm"), col("term").as("suggestion"),
        col("dist").cast("int").as("dist"), col("df").cast("long").as("df"))
      .orderBy("qterm")
  }

  /** Typo-tolerant search over the persisted bucketed index. Two phases:
    * the expansion scans the (vocabulary-sized) stored term_df table for
    * terms within `maxDist` edits of the query tokens and collects the
    * tiny match set — a driver round-trip bounded by the expansion size,
    * never the index. The expanded literals then drive the SAME
    * bucket-pruned search as the exact path: without the materialized
    * IN-list the term filter would be a join against a computed set, and
    * SelectedBucketsCount pruning — the thing that makes a query touch
    * |terms| buckets instead of the corpus at 100 TB — cannot happen.
    * The lost laziness is the price of the pruning; production engines
    * make the same trade (query rewrite before index access).
    */
  def fuzzySearchPrebuilt(spark: SparkSession, query: String, prefix: String,
                          k: Int = 10, maxDist: Int = 1): DataFrame = {
    val expanded = expand(spark, query,
        spark.table(s"${prefix}_term_df").select("term"), maxDist)
      .collect().map(_.getString(0)).toSeq
    rankPrebuilt(spark, expanded, prefix, k)
  }

  /** Batch search: score a whole TABLE of queries in one lazy plan — the
    * 100-TB serving pattern (thousands of queries per pass, one shuffle
    * set, no per-query driver round-trips; collection stats join in as a
    * broadcast singleton rather than a driver action).
    *
    * @param queries (query_id, query_text)
    * @return top-k per query: (query_id, rank, doc_id, title, score) — the
    *         same display shape as the single-query path (the reference
    *         prints a title for every result, app/query.py:199-213); title
    *         attaches to the |queries|·k winners only, never riding the
    *         scoring shuffles.
    */
  def batchSearch(queries: DataFrame,
                  postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
                  k: Int = 10): DataFrame =
    withTitles(batchTopK(queries, postings, termDf, docInfo, k,
      broadcastRequests = true), docInfo, broadcastWinners = true)

  /** [[batchSearch]] for an UNBOUNDED requests table: identical math, but
    * nothing derived from the requests is ever broadcast — the term probe
    * and the winners' title attach are plain shuffle joins, so the plan
    * holds at 10M requests where the batch form's broadcasts (and the
    * prebuilt path's literal IN-lists) die. Against a term-bucketed index
    * the term joins land exchange-free on the postings/term_df side.
    */
  def bulkSearch(requests: DataFrame,
                 postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
                 k: Int = 10): DataFrame =
    withTitles(batchTopK(requests, postings, termDf, docInfo, k,
      broadcastRequests = false), docInfo, broadcastWinners = false)

  /** Display metadata joins the winners only (cost ∝ |queries|·k) —
    * mirrors the single-query search(); the winners side broadcasts in
    * the batch form but stays a shuffle join under an unbounded bulk run.
    */
  private def withTitles(top: DataFrame, docInfo: DataFrame,
                         broadcastWinners: Boolean): DataFrame =
    docInfo.select(col("doc_id"), col("title"))
      .join(if (broadcastWinners) broadcast(top) else top, "doc_id")
      .select(col("query_id"), col("rank"), col("doc_id"), col("title"),
        col("score"))

  /** [[batchSearch]]/[[bulkSearch]] without the title attach:
    * (query_id, rank, doc_id, score). The hybrid plan fuses these winners
    * and attaches titles once, after fusion.
    */
  private def batchTopK(queries: DataFrame,
                        postings: DataFrame, termDf: DataFrame,
                        docInfo: DataFrame, k: Int,
                        broadcastRequests: Boolean): DataFrame = {
    val stats = statsAgg(docInfo)
    val qTerms0 = queries.select(col("query_id"),
        explode(array_distinct(
          graft.functions.Tokenizer.tokenize(col("query_text")))).as("term"))
    val qTerms = if (broadcastRequests) broadcast(qTerms0) else qTerms0
    // Join ORDER differs by form, and it matters enormously at scale. The
    // broadcast (micro-batch) form prunes postings down to the batch's
    // terms first, so the doc-length attach touches only the pruned rows.
    // The bulk form's term join MULTIPLIES rows (every posting row matches
    // ~|queries sharing the term|), so attaching length AFTER it would
    // shuffle the |requests|-times-larger scored relation by doc_id — the
    // x10 probe measured exactly that as the dominant cost. Attaching
    // length to postings BEFORE the term join keeps every shuffle
    // proportional to the postings table, never the scored blow-up (which
    // then flows straight into the map-side partial aggregation).
    val joined =
      if (broadcastRequests)
        qTerms
          .join(termDf, "term")
          .join(postings.select("term", "doc_id", "tf"), "term")
          .join(docInfo.select("doc_id", "length"), "doc_id")
      else
        qTerms
          .join(termDf, "term")
          .join(postings.select("term", "doc_id", "tf")
            .join(docInfo.select("doc_id", "length"), "doc_id"), "term")
    val scored = joined
      .crossJoin(broadcast(stats))
      .withColumn("score", BM25.termScore(col("tf"),
        BM25.idf(col("n_docs"), col("df")), col("length"), col("avg_len")))
    // Bulk form: place the (query_id, doc_id) exchange BEFORE the partial
    // aggregation, not after it. The scored relation leaves the term join
    // partitioned by TERM, where a (query, doc) pair appears at most once
    // per shared term — map-side partial aggregation achieves no reduction
    // there, yet builds a per-task hash map over the entire partition
    // (multi-million entries at bench scale: spill + GC, the dominant cost
    // of the arm — optimization round r15, guide §2.3/§5). Repartitioning
    // the narrow (query_id, doc_id, score) projection first ships the same
    // bytes the old partial-agg output did, and both aggregation phases
    // then run post-exchange where groups are co-located, so the partial
    // map holds |groups in partition| entries and fully reduces. The
    // (query_id, doc_id) key keeps a hot query's candidate set spread
    // across the cluster (skew safety, guide §2.5); the top-k's partial
    // heaps then cut to k per query per partition before the small
    // query_id exchange.
    val preAgg = {
      val narrow = scored.select(col("query_id"), col("doc_id"), col("score"))
      if (broadcastRequests) narrow
      else narrow.repartition(col("query_id"), col("doc_id"))
    }
    val summed = preAgg.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score")).as("score"))
    // Both forms cut to k per query with the rank window. The bulk form's
    // partial heaps first keep k rows per query per partition, so the
    // window sorts at most that many however many queries a task holds.
    val top =
      if (broadcastRequests)
        graft.plans.TopK.rank(summed, "query_id", "doc_id", "score", k)
      else graft.plans.TopK.perGroup(summed, "query_id", "doc_id", "score", k)
    top.select(col("query_id"), col("rank"), col("doc_id"),
      graft.Money.micros(col("score")).as("score"))
  }

  /** RM3-style pseudo-relevance-feedback expansion: run the query, treat
    * the top `fbDocs` results as relevant, pick the `fbTerms` most
    * characteristic terms from them (idf x total-tf, original terms
    * excluded), and re-rank with the expanded weighted query (originals at
    * weight 1, expansions at `expWeight`). Everything is ONE lazy plan —
    * the feedback "round trip" is just a broadcast of the fbDocs ids back
    * into the postings probe, not a driver materialization.
    *
    * Determinism: the per-term expansion score multiplies idf by the
    * INTEGER Σtf once (never a float sum over docs), so expansion
    * selection is bit-stable; final scores keep bm25's established
    * epsilon contract.
    */
  def rm3Search(spark: SparkSession, query: String,
                postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
                k: Int = 10, fbDocs: Int = 10, fbTerms: Int = 5,
                expWeight: Double = 0.5): DataFrame = {
    val origTerms = queryTokens(query)
    val stats = statsAgg(docInfo)
    val top = search(spark, query, postings, termDf, docInfo, fbDocs)
      .select("doc_id")
    val expansion = postings.select("term", "doc_id", "tf")
      .join(broadcast(top), "doc_id")
      .filter(!col("term").isin(origTerms: _*))
      .groupBy("term").agg(sum(col("tf")).cast("long").as("stf"))
      .join(termDf, "term")
      .crossJoin(broadcast(stats))
      .withColumn("escore",
        BM25.idf(col("n_docs"), col("df")) * col("stf").cast("double"))
      .orderBy(col("escore").desc, col("term").asc).limit(fbTerms)
    val weighted = queryTerms(spark, query).withColumn("w", lit(1.0))
      .unionByName(expansion.select(col("term"), lit(expWeight).as("w")))
    val rescored = broadcast(weighted)
      .join(termDf, "term")
      .join(postings.select("term", "doc_id", "tf"), "term")
      .join(docInfo.select("doc_id", "length"), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score", col("w") * BM25.termScore(col("tf"),
        BM25.idf(col("n_docs"), col("df")), col("length"), col("avg_len")))
      .groupBy("doc_id").agg(sum(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    docInfo.select(col("doc_id"), col("title"))
      .join(broadcast(rescored), "doc_id")
      .select(col("doc_id"), col("title"), graft.Money.micros(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** Best highlight window per top-k result: the query-term position whose
    * following `window` positions cover the most DISTINCT query terms,
    * ties to the earliest start. Candidate volume is top-k docs x
    * query-term occurrences — the window join never touches the corpus.
    * Returns (doc_id, best_start, n_terms).
    */
  def snippets(spark: SparkSession, query: String,
               postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
               k: Int = 10, window: Int = 10): DataFrame = {
    val toks = queryTokens(query)
    val top = search(spark, query, postings, termDf, docInfo, k)
      .select("doc_id")
    val qp = postings.filter(col("term").isin(toks: _*))
      .join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("term"), explode(col("positions")).as("pos"))
    val win = qp.select(col("doc_id"), col("pos").as("start"))
      .join(qp.select(col("doc_id"), col("term").as("bterm"),
        col("pos").as("bpos")), Seq("doc_id"))
      .filter(col("bpos") >= col("start") &&
        col("bpos") <= col("start") + window)
      .groupBy(col("doc_id"), col("start"))
      .agg(countDistinct(col("bterm")).as("nt"))
    win.groupBy("doc_id")
      .agg(min(struct((-col("nt")).as("negn"), col("start").as("s"))).as("b"))
      .select(col("doc_id"),
        col("b.s").as("best_start"), (-col("b.negn")).as("n_terms"))
  }

  /** Positional phrase search over the postings table (the positions the
    * reference stores but never reads, app/query.py:115-119). For terms
    * t0..tn-1: join each term's posting list on doc_id, then intersect
    * position arrays shifted by their phrase offset — an occurrence is a
    * start position p with p+i in term i's positions for every i. One
    * narrow join per phrase term (n is tiny), no token re-explosion.
    * Returns (doc_id, n_occurrences > 0).
    */
  def phraseSearch(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phrase must have at least one term")
    val joined = terms.zipWithIndex.map { case (t, i) =>
      postings.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"pos$i"))
    }.reduce((a, b) => a.join(b, "doc_id"))
    val starts = terms.indices.tail.foldLeft(col("pos0")) { (acc, i) =>
      array_intersect(acc, transform(col(s"pos$i"), x => x - i))
    }
    joined.withColumn("n_occurrences", size(starts).cast("long"))
      .filter(col("n_occurrences") > 0)
      .select(col("doc_id"), col("n_occurrences"))
  }

  /** Positional PROXIMITY search: documents where `termA` and `termB`
    * occur within `window` token positions of each other, with the closest
    * distance and the count of close cross pairs. The sorted position
    * arrays ride in from the two posting rows and the kernels
    * (plans.PositionProximity) run the two-pointer merges in O(|a|+|b|)
    * per doc inside codegen — never a position self-join, whose pair
    * blowup is quadratic in term frequency exactly for the frequent terms
    * proximity queries target.
    */
  def proximitySearch(postings: DataFrame, termA: String, termB: String,
                      window: Int): DataFrame = {
    val a = postings.filter(col("term") === termA)
      .select(col("doc_id"), col("positions").as("pa"))
    val b = postings.filter(col("term") === termB)
      .select(col("doc_id"), col("positions").as("pb"))
    a.join(b, "doc_id")
      .select(col("doc_id"),
        graft.plans.PositionProximity.minAbsDiff(col("pa"), col("pb"))
          .as("min_dist"),
        graft.plans.PositionProximity.pairsWithin(col("pa"), col("pb"), window)
          .as("n_within"))
      .filter(col("min_dist") <= window)
  }

  /** Convenience: index documents (doc_id, text) in-memory and search. */
  def searchDocs(spark: SparkSession, docs: DataFrame, query: String,
                 k: Int = 10): DataFrame = {
    val p = Indexer.postings(docs)
    search(spark, query, p, Indexer.termDf(p), Indexer.docInfo(docs), k)
  }
}
