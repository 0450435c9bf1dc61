package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query-by-document ("more like this") over the inverted index: sparse
  * TF-IDF cosine similarity, Lucene-MLT style. For each probe document,
  * its top `mTerms` most characteristic terms (highest TF-IDF — the
  * selection biases toward RARE terms, so the posting lists walked for
  * candidates are short by construction) generate the candidate set via
  * the inverted index; candidates are then scored with the full sparse
  * cosine and the top k returned.
  *
  * Weights are integer micro-units (round(tfidf·1e6)), so dots and norm
  * squares are integer sums — exact and reduction-order-free — and the
  * final cosine (integer dot over IEEE-correctly-rounded sqrt product) is
  * bit-identical across engines and partitionings. No overflow: per-doc
  * Σ(tf/len) = 1 bounds Σw and Σw² by (1e6·ln N)² ≈ 2.5e15 ≪ 2⁶³.
  *
  * Scale shape: probe vectors are |probes|·|doc terms| rows (broadcastable
  * for online "related documents" serving); the dot join streams the
  * corpus weight table term-by-term against them with partial aggregation,
  * and the candidate gate (semi join) bounds what reaches ranking. On a
  * term-bucketed persisted index the weight derivation inherits the
  * bucket pruning of the probes' term IN-list.
  */
object MoreLikeThis {

  /** Integer micro TF-IDF weights (term, doc_id, w), zero weights dropped
    * (a term in every document carries no signal and would only widen
    * candidate generation).
    */
  def weights(postings: DataFrame, termDf: DataFrame, docInfo: DataFrame): DataFrame =
    Keywords.tfidfRaw(postings, termDf, docInfo)
      .select(col("term"), col("doc_id"),
        round(col("tfidf_raw") * lit(1000000.0)).cast("long").as("w"))
      .filter(col("w") > 0)

  /** @param probes single-column (doc_id) relation of probe documents
    * @return (probe_id, rank, cand_id, cosine), top-k per probe,
    *         deterministic (cosine DESC, cand_id ASC) tiebreak
    */
  def moreLikeThis(weights: DataFrame, probes: DataFrame,
                   mTerms: Int = 8, k: Int = 5): DataFrame = {
    val w = weights
    val pw = w.join(broadcast(probes.select(col("doc_id"))), "doc_id")
      .select(col("doc_id").as("probe_id"), col("term"), col("w").as("wp"))
    val byProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("wp").desc, col("term").asc)
    val ptop = pw.withColumn("rn", row_number().over(byProbe))
      .filter(col("rn") <= mTerms)
      .select(col("probe_id"), col("term"))
    val cands = ptop
      .join(w.select(col("term"), col("doc_id").as("cand_id")), "term")
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id")).distinct()
    // The candidate gate applies BEFORE the dot aggregation: only pairs a
    // top-mTerms rare term admitted reach the (probe, cand) groupBy, so
    // the expensive shuffle is candidate-bounded — a probe that also
    // carries a merely-common positive-weight term doesn't drag that
    // term's whole posting list through the aggregation just to be
    // discarded afterwards.
    val dots = pw
      .join(w.select(col("doc_id").as("cand_id"), col("term"), col("w").as("wc")),
        "term")
      .join(cands, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(sum(col("wp") * col("wc")).as("dot"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("sq"))
    val byRank = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    dots
      .join(norms.select(col("doc_id").as("probe_id"), col("sq").as("psq")),
        "probe_id")
      .join(norms.select(col("doc_id").as("cand_id"), col("sq").as("csq")),
        "cand_id")
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("psq").cast("double")) * sqrt(col("csq").cast("double"))))
      .withColumn("rank", row_number().over(byRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("cosine"))
  }

  /** "Related documents" served from the PERSISTED term-bucketed index
    * (Indexer.buildBucketedIndex tables) for one probe document — the
    * online serving shape behind the CLI's `similar` command. Returns
    * (rank, doc_id, title, cosine); the title attaches to the k winners
    * only, mirroring Search.batchSearch's display join. The weight derivation
    * reads the stored postings/term_df/doc_info — no re-tokenization; at
    * scale the probe-vector extraction is the one full-postings pass a
    * doc-keyed projection of the index would also eliminate.
    */
  def similarPrebuilt(spark: SparkSession, prefix: String, docId: Long,
                      k: Int = 5, mTerms: Int = 8): DataFrame = {
    import spark.implicits._
    import graft.CacheRegistry.RegisteredCache
    val docInfo = spark.table(s"${prefix}_doc_info")
    // four consumers (probe vectors, candidate gen, dot join, norms) —
    // cache so the tfidf join chain over the stored tables runs once
    val w = weights(spark.table(s"${prefix}_postings"),
      spark.table(s"${prefix}_term_df"), docInfo).registeredCache()
    val top = moreLikeThis(w, Seq(docId).toDF("doc_id"), mTerms, k)
      .select(col("rank"), col("cand_id").as("doc_id"), col("cosine"))
    docInfo.select(col("doc_id"), col("title"))
      .join(broadcast(top), "doc_id")
      .select(col("rank"), col("doc_id"), col("title"), col("cosine"))
      .orderBy("rank")
  }
}
