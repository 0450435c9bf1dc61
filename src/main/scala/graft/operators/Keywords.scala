package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-document characteristic terms by TF-IDF — keyword extraction over
  * the same index triple the BM25 path builds (postings/term_df/doc_info),
  * so a corpus that is indexed for search gets document keywords for free.
  *
  * tfidf(t, d) = (tf / |d|) · ln(N / df), rounded to the 1e-6 grid in both
  * engines so cross-engine float drift cannot reorder rank ties (the same
  * pinning the IVF centroid means use); ties break on the term itself.
  *
  * Scale: the score is a narrow expression over the postings join — the
  * only wide operations are the index aggregations themselves plus one
  * row_number window partitioned by doc_id, which reuses the (term,doc)
  * aggregation's data layout. N joins in as a broadcast singleton (J4
  * pattern, as Search.search takes its collection stats) keeping the whole
  * plan lazy.
  */
object Keywords {

  /** Per-(term, doc) raw TF-IDF (unrounded `tfidf_raw`) over pre-built
    * index DataFrames — consumers pick their own quantization (topKeywords
    * rounds to the 1e-6 grid; MoreLikeThis quantizes to integer micro
    * weights).
    * @param postings (term, doc_id, tf, ...)
    * @param termDf   (term, df)
    * @param docInfo  (doc_id, ..., length)
    */
  def tfidfRaw(postings: DataFrame, termDf: DataFrame, docInfo: DataFrame): DataFrame = {
    val stats = docInfo.agg(count(lit(1)).cast("double").as("n_docs"))
    postings.select("term", "doc_id", "tf")
      .join(termDf, "term")
      .join(docInfo.select("doc_id", "length"), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("tfidf_raw",
        col("tf").cast("double") / col("length") * log(col("n_docs") / col("df")))
  }

  /** tfidfRaw pinned to the 1e-6 grid as `tfidf`. */
  def tfidf(postings: DataFrame, termDf: DataFrame, docInfo: DataFrame): DataFrame =
    tfidfRaw(postings, termDf, docInfo)
      .withColumn("tfidf", round(col("tfidf_raw"), 6))
      .drop("tfidf_raw")

  /** Top-k keywords per document: (doc_id, rank, term, tfidf). A term
    * appearing in every document gets ln(1) = 0 — corpus-wide stopwords
    * rank themselves out, which is the point of the IDF factor.
    */
  def topKeywords(postings: DataFrame, termDf: DataFrame, docInfo: DataFrame,
                  k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tfidf(postings, termDf, docInfo)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }
}
