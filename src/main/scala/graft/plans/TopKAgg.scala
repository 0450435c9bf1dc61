package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k buffer: the best `k` (score, id) pairs under the total
  * order (score DESC, id ASC), kept as parallel arrays sorted best-first.
  * Insertion is O(k) worst case but O(1) in the common case (reject a row
  * that cannot beat the current k-th) — exactly the property that makes a
  * top-k AGGREGATE cheaper than a rank window: the window must SORT every
  * group in full before its row_number filter throws all but k rows away,
  * while this buffer never holds more than k.
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

/** Exact per-group top-k by (score DESC, id ASC) as a
  * TypedImperativeAggregate — the aggregation form of
  * `row_number().over(Window.partitionBy(g).orderBy(score.desc, id)) <= k`.
  *
  * Returns array<struct<doc_id: long, score: double>> sorted best-first, so
  * `posexplode` reconstructs (rank = pos + 1, doc_id, score) EXACTLY as the
  * window form emits them: the buffer's comparator is the same total order
  * the window's sort used, and both forms keep precisely the k best rows.
  *
  * Why it exists (optimization round r16, guide §1.2 "per-task work" after
  * the §2 shape is right): in the bulk search plan the rank window ran over
  * the full (query, doc) aggregate — tens of millions of rows at the bench
  * fixture, corpus-bound at scale — so the plan SORTED all of them by
  * (query_id, score, doc_id), kept k per query per partition
  * (WindowGroupLimit), exchanged, and sorted again, all to discard
  * everything but k rows per query. The aggregate form never materializes
  * or sorts the non-winners: partial buffers cap at k entries per (group,
  * partition), the exchange carries only those buffers, and no sort runs
  * at any point.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression] {

  require(k > 0, "top-k aggregate needs k > 0")

  override def left: Expression = score
  override def right: Expression = id

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    // Null score/id rows cannot be ranked; the window form would sort them
    // last (nulls-last ordering) and they never beat a real row — skip.
    // NaN scores are skipped too: every comparison with NaN is false, so
    // the buffer could not place one. (The window form would sort NaN
    // first, as Spark orders NaN above every double.) The bulk BM25 plan
    // never feeds either: its inner joins drop rows without a df or
    // length, and each summed term score is finite and >= 0 — idf is
    // ln(max(1, N / max(1, df))) with N >= 1, and the denominator
    // tf + k1 * (1 - b + b * dl / avgdl) is >= tf >= 1 with avgdl > 0.
    if (s != null && i != null) {
      val d = s.asInstanceOf[Double]
      if (!d.isNaN) buffer.insert(d, i.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var j = 0
    while (j < other.n) { buffer.insert(other.scores(j), other.ids(j)); j += 1 }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val out = new Array[Any](buffer.n)
    var j = 0
    while (j < buffer.n) {
      out(j) = InternalRow(buffer.ids(j), buffer.scores(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buffer.n * 16)
    bb.putInt(buffer.n)
    var j = 0
    while (j < buffer.n) {
      bb.putDouble(buffer.scores(j))
      bb.putLong(buffer.ids(j))
      j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKBuffer(k)
    var j = 0
    // entries arrive best-first (serialize preserves buffer order), so
    // each insert lands at the tail: O(k) total
    while (j < n) { buf.insert(bb.getDouble(), bb.getLong()); j += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by_score"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByScore =
    copy(score = newLeft, id = newRight)
}

object TopKAgg {
  /** `topK(score, id, k)` — aggregate column producing the k best
    * (doc_id, score) structs under (score DESC, id ASC), best-first.
    */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByScore(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())
}
