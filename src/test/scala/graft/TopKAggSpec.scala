package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.plans.{TopK, TopKBuffer}

/** `TopK.perGroup` (partial heaps, then the rank window) must be
  * indistinguishable from the plain rank window: same rows, same ranks,
  * same (score DESC, id ASC) total order, under score ties, fewer-than-k
  * groups, flushes of the partial map, and null or NaN input.
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

  // (query_id, doc_id, score, rank); the score is compared as its string
  // form, since a NaN never equals itself as a number
  private type Ranked = (Long, Option[Long], String, Long)

  private def collect(df: DataFrame): Set[Ranked] =
    df.select(col("query_id"), col("doc_id").cast("long"),
        col("score").cast("double").cast("string"), col("rank"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2),
        r.getLong(3)))
      .toSet

  /** perGroup and the plain window over the same frame, as row sets. */
  private def both(df: DataFrame, k: Int): (Set[Ranked], Set[Ranked]) =
    (collect(TopK.perGroup(df, "query_id", "doc_id", "score", k)),
      collect(TopK.rank(df, "query_id", "doc_id", "score", k)))

  test("perGroup matches the rank window on a tie-heavy frame over 3 partitions") {
    import spark.implicits._
    // 8 distinct scores over 40 docs per query force tie-breaks by id
    val rows = for {
      q <- 0L until 7L
      d <- 0L until 40L
    } yield (q, d, ((d * 2654435761L + q * 40503L) % 8L).toDouble / 4.0)
    val df = rows.toDF("query_id", "doc_id", "score").repartition(3)
    assert(df.rdd.getNumPartitions == 3)
    val (viaHeaps, viaWindow) = both(df, 10)
    assert(viaHeaps.size == 70)
    assert(viaHeaps == viaWindow)
  }

  test("groups smaller than k return every row, still ranked") {
    import spark.implicits._
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (2L, 20L, 0.1))
      .toDF("query_id", "doc_id", "score")
    val (viaHeaps, viaWindow) = both(df, 10)
    assert(viaHeaps == Set[Ranked]((1L, Some(11L), "0.9", 1L),
      (1L, Some(10L), "0.5", 2L), (2L, Some(20L), "0.1", 1L)))
    assert(viaHeaps == viaWindow)
  }

  test("a partition holding more than 65536 groups flushes and stays exact") {
    // 70000 groups of 3 rows in one partition: the partial map fills and
    // emits mid-partition, so some groups reach the window split in two
    val df = spark.range(0, 210000, 1, 1)
      .select((col("id") % 70000).as("query_id"), col("id").as("doc_id"),
        ((col("id") * 7919) % 13).cast("double").as("score"))
    assert(df.rdd.getNumPartitions == 1)
    val (viaHeaps, viaWindow) = both(df, 2)
    assert(viaHeaps.size == 140000)
    assert(viaHeaps == viaWindow)
  }

  test("null and NaN rows rank as the window ranks them: NaN first, nulls last") {
    import spark.implicits._
    val df = Seq[(Long, java.lang.Long, java.lang.Double)](
        (1L, 10L, 0.5), (1L, 11L, Double.NaN), (1L, 12L, null),
        (1L, 13L, 0.9), (1L, null, 2.0), (1L, 14L, 0.5),
        (2L, 20L, Double.NaN), (2L, 21L, null))
      .toDF("query_id", "doc_id", "score")
    val (viaHeaps, viaWindow) = both(df, 10)
    assert(viaHeaps == viaWindow)
    assert(viaHeaps.toSeq.sortBy(r => (r._1, r._4)) == Seq[Ranked](
      (1L, Some(11L), "NaN", 1L), (1L, None, "2.0", 2L),
      (1L, Some(13L), "0.9", 3L), (1L, Some(10L), "0.5", 4L),
      (1L, Some(14L), "0.5", 5L), (1L, Some(12L), null, 6L),
      (2L, Some(20L), "NaN", 1L), (2L, Some(21L), null, 2L)))
  }

  test("bulkSearch past 128 query ids per task takes no sort-based fallback") {
    import spark.implicits._
    val docs = spark.range(0, 60).select(col("id").as("doc_id"),
      concat_ws(" ", lit("alpha"), concat(lit("w"), (col("id") % 5).cast("string")),
        concat(lit("v"), (col("id") % 3).cast("string"))).as("text"))
    val postings = graft.operators.Indexer.postings(docs)
      .select("term", "doc_id", "tf")
    val requests = (0L until 600L).map(q => (q, s"alpha w${q % 5} v${q % 3}"))
      .toDF("query_id", "query_text")
    val out = graft.operators.Search.bulkSearch(requests, postings,
      graft.operators.Indexer.termDf(postings),
      graft.operators.Indexer.docInfo(docs), k = 10)
    // collect runs this Dataset's own plan, so its metrics fill in (a
    // write would plan and run a new one)
    assert(out.collect().length == 600 * 10)
    def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
      case a: AdaptiveSparkPlanExec => Iterator(a.executedPlan)
      case q: QueryStageExec => Iterator(q.plan)
      case other => other.children.iterator
    }).flatMap(nodes)
    val fallbacks = nodes(out.queryExecution.executedPlan)
      .flatMap(n => n.metrics.get("numTasksFallBacked").map(m => n.nodeName -> m.value))
      .toSeq
    assert(fallbacks.forall(_._2 == 0),
      s"sort-based fallback taken: $fallbacks")
  }
}
