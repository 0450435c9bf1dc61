package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{TopKAgg, TopKBuffer}

/** The bulk search path's top-k aggregate must be indistinguishable from
  * the rank window it replaced (optimization round r16): same rows, same
  * ranks, same (score DESC, doc_id ASC) total order, under duplicates,
  * score ties, fewer-than-k groups, and partial/merge splits.
  */
class TopKAggSpec extends SparkSpec {

  test("TopKBuffer keeps the k best under (score DESC, id ASC)") {
    val b = new TopKBuffer(3)
    Seq((1.0, 5L), (2.0, 9L), (2.0, 3L), (0.5, 1L), (3.0, 7L))
      .foreach { case (s, i) => b.insert(s, i) }
    // order: 3.0/7 > 2.0/3 > 2.0/9 (tie broken by smaller id)
    assert(b.n == 3)
    assert(b.scores.take(3).toSeq == Seq(3.0, 2.0, 2.0))
    assert(b.ids.take(3).toSeq == Seq(7L, 3L, 9L))
    // a row worse than the current k-th is rejected without change
    b.insert(1.5, 0L)
    assert(b.scores.take(3).toSeq == Seq(3.0, 2.0, 2.0))
    // equal score, LARGER id than the k-th loses the tiebreak
    b.insert(2.0, 10L)
    assert(b.ids.take(3).toSeq == Seq(7L, 3L, 9L))
    // equal score, smaller id wins it
    b.insert(2.0, 2L)
    assert(b.scores.take(3).toSeq == Seq(3.0, 2.0, 2.0))
    assert(b.ids.take(3).toSeq == Seq(7L, 2L, 3L))
  }

  test("aggregate matches the rank-window form on a tie-heavy frame") {
    import spark.implicits._
    // deterministic pseudo-random scores with deliberate ties: score domain
    // of 8 distinct values over 40 docs per query forces tie-breaks by id
    val rows = for {
      q <- 0L until 7L
      d <- 0L until 40L
    } yield (q, d, ((d * 2654435761L + q * 40503L) % 8L).toDouble / 4.0)
    val df = rows.toDF("query_id", "doc_id", "score")

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val viaWindow = df
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "doc_id", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

    val viaAgg = df
      .groupBy(col("query_id"))
      .agg(TopKAgg.topK(col("score"), col("doc_id"), 10).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.doc_id").as("doc_id"),
        col("e.score").as("score"), (col("pos") + 1).cast("long").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

    assert(viaAgg == viaWindow)
  }

  test("groups smaller than k return every row, still ranked") {
    import spark.implicits._
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (2L, 20L, 0.1))
      .toDF("query_id", "doc_id", "score")
    val out = df.groupBy(col("query_id"))
      .agg(TopKAgg.topK(col("score"), col("doc_id"), 10).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.doc_id"), (col("pos") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set((1L, 11L, 1), (1L, 10L, 2), (2L, 20L, 1)))
  }

  test("serialize/deserialize round-trips partial buffers") {
    import org.apache.spark.sql.graft.ColumnBridge
    val agg = graft.plans.TopKByScore(
      ColumnBridge.expression(lit(0.0)), ColumnBridge.expression(lit(0L)), 4)
    val b = new TopKBuffer(4)
    Seq((1.0, 2L), (4.0, 1L), (2.0, 8L)).foreach { case (s, i) => b.insert(s, i) }
    val rt = agg.deserialize(agg.serialize(b))
    assert(rt.n == 3)
    assert(rt.scores.take(3).toSeq == b.scores.take(3).toSeq)
    assert(rt.ids.take(3).toSeq == b.ids.take(3).toSeq)
    // merging two buffers equals inserting the union
    val c = new TopKBuffer(4)
    Seq((3.0, 3L), (0.5, 9L), (4.0, 0L)).foreach { case (s, i) => c.insert(s, i) }
    val m = agg.merge(rt, c)
    assert(m.scores.take(4).toSeq == Seq(4.0, 4.0, 3.0, 2.0))
    assert(m.ids.take(4).toSeq == Seq(0L, 1L, 3L, 8L))
  }

  test("null and NaN rows are skipped; real rows keep their ranks") {
    import spark.implicits._
    val df = Seq[(Long, java.lang.Long, java.lang.Double)](
        (1L, 10L, 0.5), (1L, 11L, Double.NaN), (1L, 12L, null),
        (1L, 13L, 0.9), (1L, null, 2.0), (1L, 14L, 0.5),
        (2L, 20L, Double.NaN), (2L, 21L, null))
      .toDF("query_id", "doc_id", "score")
    val out = df.groupBy(col("query_id"))
      .agg(TopKAgg.topK(col("score"), col("doc_id"), 10).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.doc_id"), col("e.score"),
        (col("pos") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(r => (r._1, r._4))
    // query 1 keeps only its three real rows (tie broken by doc_id);
    // query 2, with no real row, yields an empty top-k
    assert(out == Seq((1L, 13L, 0.9, 1), (1L, 10L, 0.5, 2), (1L, 14L, 0.5, 3)))
  }
}
