package perfbench

/** Plain-Scala reference rankers the engine's answers are checked against.
  * They share no code with the engine.
  */
object Bm25Ref {
  val K1 = 1.0
  val B = 0.75

  private val NonWord = java.util.regex.Pattern.compile("(?U)[^\\w\\s]")

  /** Lowercase, replace `(?U)[^\w\s]` with spaces, split on whitespace. */
  def tokenize(s: String): Seq[String] =
    NonWord.matcher(s.toLowerCase(java.util.Locale.ROOT)).replaceAll(" ")
      .split("\\s+").toSeq.filter(_.nonEmpty)

  def idf(n: Double, df: Double): Double =
    math.log(math.max(1.0, n / math.max(1.0, df)))

  def termScore(tf: Double, idf: Double, len: Double, avgLen: Double): Double =
    idf * tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + B * len / avgLen))

  /** Ranked (doc_id, score) list, best first, ties by ascending doc_id. */
  type Ranking = IndexedSeq[(Long, Double)]

  def rank(scores: Map[Long, Double]): Ranking =
    scores.toIndexedSeq.sortBy { case (id, s) => (-s, id) }

  /** Scores within this distance are treated as tied, since the engine may
    * sum a query's terms in another order and shows scores on a 1e-6 grid.
    */
  val ScoreTolerance = 2e-6

  /** Checks an engine top-k against a reference ranking, position by
    * position: the length must match, and the document at each position
    * must have the reference score of that position (so tied documents
    * may trade places). Returns the first mismatch, if any.
    */
  def checkTopK(engine: Seq[(Long, Double)], ref: Ranking, k: Int,
                refScore: Long => Option[Double]): Option[String] = {
    val want = ref.take(k)
    if (engine.size != want.size)
      Some(s"returned ${engine.size} rows, reference has ${want.size}")
    else if (engine.map(_._1).distinct.size != engine.size)
      Some("duplicate doc_id in the top-k")
    else engine.zip(want).zipWithIndex.collectFirst {
      case (((id, shown), (_, expected)), i)
          if refScore(id).forall(s => math.abs(s - expected) > ScoreTolerance) ||
            math.abs(shown - expected) > ScoreTolerance =>
        s"rank ${i + 1}: doc $id shown ${shown}, reference ${refScore(id).getOrElse("absent")}, " +
          s"expected score $expected"
    }
  }
}

/** BM25 over an in-memory corpus, with the engine's constants and the
  * reference's idf, ln(max(1, N / max(1, df))).
  */
final class Bm25Ref(docs: Seq[Gen.Doc]) {
  import Bm25Ref._

  private val lengths: Map[Long, Int] =
    docs.map(d => d.id -> tokenize(d.text).size).toMap
  private val n = docs.size.toDouble
  private val avgLen = lengths.values.map(_.toLong).sum.toDouble / n
  private val postings: Map[String, Seq[(Long, Int)]] =
    docs.flatMap { d =>
      tokenize(d.text).groupBy(identity).map { case (t, o) => (t, (d.id, o.size)) }
    }.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2) }

  /** Every matching document's score for the query's distinct terms. */
  def scores(query: String): Map[Long, Double] = {
    val acc = scala.collection.mutable.Map[Long, Double]()
    tokenize(query).distinct.foreach { t =>
      postings.get(t).foreach { ps =>
        val w = idf(n, ps.size.toDouble)
        ps.foreach { case (id, tf) =>
          acc(id) = acc.getOrElse(id, 0.0) + termScore(tf, w, lengths(id), avgLen)
        }
      }
    }
    acc.toMap
  }
}

/** Exact cosine top-k, the ground truth for the ANN arm's recall. */
final class CosineRef(vectors: Seq[(Long, Array[Float])]) {
  private val ids = vectors.map(_._1).toArray
  private val unit: Array[Array[Double]] = vectors.map { case (_, v) =>
    val d = v.map(_.toDouble)
    val nrm = math.sqrt(d.map(x => x * x).sum)
    d.map(_ / nrm)
  }.toArray
  private val index = ids.zipWithIndex.toMap

  /** The k nearest other vectors of the stored vector `id`. */
  def topK(id: Long, k: Int): Seq[Long] = {
    val p = unit(index(id))
    ids.indices.iterator.filter(i => ids(i) != id).map { i =>
      val c = unit(i); var s = 0.0; var j = 0
      while (j < c.length) { s += p(j) * c(j); j += 1 }
      (ids(i), s)
    }.toSeq.sortBy { case (i, s) => (-s, i) }.take(k).map(_._1)
  }
}
