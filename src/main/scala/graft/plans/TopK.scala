package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded top-k buffer: the best `k` (score, id) pairs under the total
  * order (score DESC, id ASC), kept as parallel arrays sorted best-first.
  * Insertion is O(k) worst case but O(1) in the common case (reject a row
  * that cannot beat the current k-th), and the buffer never holds more
  * than k entries.
  */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0

  /** (s1, i1) strictly better than (s2, i2) under (score DESC, id ASC). */
  @inline private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(s: Double, id: Long): Unit = {
    if (n == k && !better(s, id, scores(n - 1), ids(n - 1))) return
    // find insertion point from the end (new entries are usually worse)
    var pos = if (n == k) n - 1 else n
    while (pos > 0 && better(s, id, scores(pos - 1), ids(pos - 1))) pos -= 1
    // shift the tail down one slot (dropping the old k-th when full)
    var j = if (n == k) n - 1 else n
    while (j > pos) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(pos) = s
    ids(pos) = id
    if (n < k) n += 1
  }
}

/** Exact per-group top-k under (score DESC, id ASC): the reference's
  * `takeOrdered(k)` (each partition keeps its own k best, a final merge
  * picks the overall k), once per group.
  */
object TopK {

  /** Groups one partial pass holds before it emits every buffer. A buffer
    * holds k entries, so the map stays near 20 MB at k = 10.
    */
  private val FlushGroups = 65536

  /** `row_number() over (partition by group order by score desc, id asc)
    * <= k`, numbered in a long `rank` column. Spark pushes the limit into
    * the window's sort (WindowGroupLimit), so each upstream partition
    * forwards at most k rows per group to the group exchange.
    */
  def rank(df: DataFrame, group: String, id: String, score: String,
           k: Int): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col(score).desc, col(id).asc)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[rank]] behind a partial pass that keeps a [[TopKBuffer]] per group
    * in each partition, so the window's sort sees at most k rows per group
    * per partition (more only where a flush split a group), whatever the
    * group count. Returns (group, id: long, score: double, rank: long).
    *
    * Exact for any input: the pass only drops a row that k rows of its own
    * group and partition beat, and the window picks the final k. Rows the
    * buffer cannot order (null id, null or NaN score) pass through to the
    * window, which ranks NaN first and nulls last.
    */
  def perGroup(df: DataFrame, group: String, id: String, score: String,
               k: Int): DataFrame = {
    val narrow = df.select(col(group), col(id).cast("long").as(id),
      col(score).cast("double").as(score))
    val partial = narrow.mapPartitions(keepTopK(_, k))(Encoders.row(narrow.schema))
    rank(partial, group, id, score, k)
  }

  /** (group, id, score) rows in, each group's k best out. */
  private def keepTopK(rows: Iterator[Row], k: Int): Iterator[Row] = {
    var heaps = new java.util.HashMap[Any, TopKBuffer]()
    def emit(): Iterator[Row] = {
      val full = heaps
      heaps = new java.util.HashMap[Any, TopKBuffer]()
      full.entrySet().iterator().asScala.flatMap { e =>
        val b = e.getValue
        Iterator.range(0, b.n).map(j => Row(e.getKey, b.ids(j), b.scores(j)))
      }
    }
    rows.flatMap { r =>
      if (r.isNullAt(1) || r.isNullAt(2) || r.getDouble(2).isNaN) Iterator.single(r)
      else {
        heaps.computeIfAbsent(r.get(0), _ => new TopKBuffer(k))
          .insert(r.getDouble(2), r.getLong(1))
        if (heaps.size >= FlushGroups) emit() else Iterator.empty
      }
    } ++ emit()
  }
}
