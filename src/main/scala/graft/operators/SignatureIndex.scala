package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature index — the standing probe target for
  * ingest-time near-dup detection. `dedup_incremental_near` shows the
  * one-shot shape (recompute corpus signatures per batch); at 100 TB the
  * corpus side must be computed ONCE and persisted, then every arriving
  * batch probes it and appends itself. Two managed tables per index:
  *
  *  - `<prefix>_bands`: exploded banded signatures (id, band, h) — the
  *    collision join target. Plain (unbucketed) parquet: probes broadcast
  *    the batch side, so the corpus band table streams through unshuffled
  *    regardless of layout.
  *  - `<prefix>_sets`: hashed token sets (id, toks) — the exact-verify
  *    side. The jaccard verify joins it only for colliding candidates.
  *
  * Append-only lifecycle: `append` adds a batch's bands + sets with
  * plain table appends (no rewrite — both tables are keyed by id, and
  * near-dup candidates are generated per probe, never precomputed).
  */
object SignatureIndex {

  /** (Re)build the persisted index from hashed token sets (id, toks). */
  def build(spark: SparkSession, sets: DataFrame, prefix: String,
            numHashes: Int, rowsPerBand: Int): Unit = {
    Seq("bands", "sets").foreach(t => Commit.dropManagedTable(spark, s"${prefix}_$t"))
    bandsOf(sets, numHashes, rowsPerBand)
      .write.saveAsTable(s"${prefix}_bands")
    sets.write.saveAsTable(s"${prefix}_sets")
  }

  /** Append an ingest batch to the index (after probing it). */
  def append(spark: SparkSession, sets: DataFrame, prefix: String,
             numHashes: Int, rowsPerBand: Int): Unit = {
    bandsOf(sets, numHashes, rowsPerBand)
      .write.mode("append").saveAsTable(s"${prefix}_bands")
    sets.write.mode("append").saveAsTable(s"${prefix}_sets")
  }

  /** Probe the persisted index with a new batch's hashed token sets:
    * banded-collision candidates (batch side broadcast, corpus bands
    * streamed), then exact jaccard against the persisted sets.
    * @return (id_new, id_old, jaccard) pairs with jaccard >= `minJaccard`
    */
  def probe(spark: SparkSession, batch: DataFrame, prefix: String,
            numHashes: Int, rowsPerBand: Int,
            minJaccard: Double): DataFrame = {
    val nb = bandsOf(batch, numHashes, rowsPerBand)
      .select(col("id").as("id_new"), col("band"), col("h"))
    val cands = broadcast(nb)
      .join(spark.table(s"${prefix}_bands")
        .select(col("id").as("id_old"), col("band"), col("h")),
        Seq("band", "h"))
      .select(col("id_new"), col("id_old")).distinct()
    cands
      .join(batch.select(col("id").as("id_new"), col("toks").as("toks_n")),
        "id_new")
      .join(spark.table(s"${prefix}_sets")
        .select(col("id").as("id_old"), col("toks").as("toks_o")), "id_old")
      .withColumn("jaccard",
        graft.plans.ArrayJaccard.jaccardLong(col("toks_n"), col("toks_o")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_new"), col("id_old"),
        col("jaccard").cast("double").as("jaccard"))
  }

  private def bandsOf(sets: DataFrame, numHashes: Int,
                      rowsPerBand: Int): DataFrame =
    Dedup.banded(sets.select(
      col("id") +: Dedup.minHashSignaturesHashed(col("toks"), numHashes): _*),
      numHashes, rowsPerBand)
}
