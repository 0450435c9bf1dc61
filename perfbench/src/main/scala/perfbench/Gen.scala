package perfbench

/** Seeded input generator. Everything the engine receives is derived here
  * from the `--seed` argument alone, so the same seed yields byte-identical
  * inputs ([[Gen.Inputs.canonicalBytes]]) on every machine.
  */
object Gen {

  /** SplitMix64: a fixed, fully specified generator, so inputs do not depend
    * on the JDK's choice of algorithm.
    */
  final class Rng(seed: Long) {
    private var state = seed
    def nextLong(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** Uniform in [0, 1). */
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = (nextDouble() * n).toInt
    def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
    /** Standard normal (Box-Muller). */
    def nextGaussian(): Double = {
      val u = math.max(nextDouble(), 1e-300)
      math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
    }
    /** An independent stream, so adding draws to one input never shifts
      * another.
      */
    def fork(tag: Long): Rng = new Rng(nextLong() ^ (tag * 0x2545F4914F6CDD1DL))
  }

  // Vocabulary words are built from consonant-vowel syllables that never
  // use 'q'; out-of-vocabulary query terms start with "q", so they can
  // never collide with a corpus term.
  private val Consonants = "bcdfghjklmnprstvwxz"
  private val Vowels = "aeiou"
  private val Syllables: IndexedSeq[String] =
    for (c <- Consonants; v <- Vowels) yield s"$c$v"

  /** The word of Zipf rank `r` (0 = most frequent). Every 97th word carries
    * a non-ASCII letter, so the Unicode branch of the tokenizer is used.
    */
  def word(r: Int): String = {
    val sb = new StringBuilder
    var n = r + Syllables.size
    while (n > 0) { sb.append(Syllables(n % Syllables.size)); n /= Syllables.size }
    val w = sb.toString
    if (r % 97 == 96) w.replaceFirst("e", "é") else w
  }

  def oovWord(rng: Rng): String =
    "q" + (0 until 3).map(_ => Syllables(rng.nextInt(Syllables.size))).mkString

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: Rng): Int = quantile(rng.nextDouble())
    /** The rank at cumulative probability `u`. */
    def quantile(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  final case class Doc(id: Long, text: String)
  final case class Request(queryId: Long, text: String)

  /** Sizes of one workload's inputs. */
  final case class Shape(
    docs: Int,            // documents indexed in set-up
    stagedFiles: Int,     // files streamed in by `singest`
    stagedDocsPerFile: Int,
    queries: Int,         // distinct point-query strings drawn
    requests: Int,        // rows of the `hbulk` request table
    embeddings: Boolean)

  val Vocabulary = 20000
  val ZipfExponent = 1.05
  val HeadRanks = 100      // a term of rank < 100 counts as a head term
  val TailRank = 5000      // a term of rank >= 5000 counts as a tail term
  val OovShare = 0.05
  val Dim = 64
  val GroupSize = 11
  /** Zipf strata that query terms cycle through (see [[generate]]). */
  val Strata = 16

  final case class Inputs(
    seed: Long,
    docs: IndexedSeq[Doc],
    staged: IndexedSeq[IndexedSeq[Doc]],
    queries: IndexedSeq[String],
    requests: IndexedSeq[Request],
    embeddings: IndexedSeq[(Long, Array[Float])]) {

    /** One canonical serialization of every generated input. */
    def canonicalBytes: Array[Byte] = {
      val sb = new StringBuilder
      docs.foreach(d => sb.append("D\t").append(d.id).append('\t').append(d.text).append('\n'))
      staged.zipWithIndex.foreach { case (f, i) =>
        f.foreach(d => sb.append("S").append(i).append('\t').append(d.id)
          .append('\t').append(d.text).append('\n'))
      }
      queries.foreach(q => sb.append("Q\t").append(q).append('\n'))
      requests.foreach(r => sb.append("R\t").append(r.queryId).append('\t')
        .append(r.text).append('\n'))
      embeddings.foreach { case (id, v) =>
        sb.append("E\t").append(id)
        v.foreach(x => sb.append('\t').append(java.lang.Float.floatToIntBits(x)))
        sb.append('\n')
      }
      sb.toString.getBytes("UTF-8")
    }

    def sha256: String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(canonicalBytes).map("%02x".format(_)).mkString

    def allDocs: IndexedSeq[Doc] = docs ++ staged.flatten
  }

  def generate(seed: Long, shape: Shape): Inputs = {
    val root = new Rng(seed)
    val docRng = root.fork(1)
    val stagedRng = root.fork(2)
    val queryRng = root.fork(3)
    val reqRng = root.fork(4)
    val embRng = root.fork(5)
    val zipf = new Zipf(Vocabulary, ZipfExponent)

    def text(rng: Rng): String = {
      val n = rng.between(30, 150)
      val sb = new StringBuilder
      (0 until n).foreach { i =>
        val w = word(zipf.sample(rng))
        if (i > 0) sb.append(if (i % 13 == 0) ". " else if (i % 7 == 0) ", " else " ")
        sb.append(if (i == 0 || i % 13 == 0) w.capitalize else w)
      }
      sb.append('.').toString
    }
    val docs = (0 until shape.docs).map(i => Doc(i.toLong, text(docRng)))
    val staged = (0 until shape.stagedFiles).map { f =>
      (0 until shape.stagedDocsPerFile).map { j =>
        Doc(shape.docs.toLong + f * shape.stagedDocsPerFile + j, text(stagedRng))
      }
    }
    // Point queries: 1-4 Zipf terms. So that every seed issues queries of
    // the same make-up (and runs compare across seeds), lengths cycle
    // 1, 2, 3, 4, the k-th term overall is drawn from Zipf stratum
    // (7k mod Strata), and every 20th term is out of vocabulary; the seed
    // picks the terms within those constraints.
    var slot = 0
    def term(rng: Rng): String = {
      val k = slot
      slot += 1
      if (k % 20 == 19) oovWord(rng)
      else word(zipf.quantile(((7 * k) % Strata + rng.nextDouble()) / Strata))
    }
    val queries = (0 until shape.queries).map { i =>
      (0 to i % 4).map(_ => term(queryRng)).mkString(" ")
    }
    // bulk requests: unique query ids that all have a stored vector, texts
    // of 1-3 terms, three in five from the head so requests share terms
    val ids = {
      val a = Array.tabulate(shape.docs)(_.toLong)
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = reqRng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(math.min(shape.requests, shape.docs)).toIndexedSeq
    }
    slot = 0
    var head = 0
    val requests = ids.zipWithIndex.map { case (id, i) =>
      val t = (0 to i % 3).map { _ =>
        head += 1
        if (head % 5 < 3) word(reqRng.nextInt(HeadRanks)) else term(reqRng)
      }
      Request(id, t.mkString(" "))
    }
    val embeddings =
      if (!shape.embeddings) IndexedSeq.empty
      else {
        // groups of GroupSize near neighbours around random directions, so
        // a vector's exact top-10 is the rest of its group
        var group: Array[Double] = null
        docs.map { d =>
          if (d.id % GroupSize == 0) group = unit(Array.fill(Dim)(embRng.nextGaussian()))
          val v = unit(Array.tabulate(Dim)(k => group(k) + 0.02 * embRng.nextGaussian()))
          d.id -> v.map(_.toFloat)
        }
      }
    Inputs(seed, docs, staged, queries, requests, embeddings)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Measured properties of the generated inputs (recorded per run). */
  def properties(in: Inputs): Seq[(String, Double)] = {
    val rankOf: Map[String, Int] =
      (0 until Vocabulary).map(r => word(r) -> r).toMap
    val corpus = in.allDocs
    val vocab = corpus.iterator.flatMap(d => Bm25Ref.tokenize(d.text)).toSet
    def shares(terms: Seq[String]): Seq[Double] = {
      val n = math.max(1, terms.size).toDouble
      val ranks = terms.map(rankOf.get)
      Seq(ranks.count(_.exists(_ < HeadRanks)) / n,
        ranks.count(_.exists(_ >= TailRank)) / n,
        ranks.count(_.isEmpty) / n)
    }
    val qTerms = in.queries.flatMap(Bm25Ref.tokenize)
    val Seq(qHead, qTail, qOov) = shares(qTerms)
    val rTermSets = in.requests.map(r => Bm25Ref.tokenize(r.text).distinct)
    val rTermReqs = rTermSets.flatten.groupBy(identity).map { case (t, o) => t -> o.size }
    val rShared =
      if (rTermSets.isEmpty) 0.0
      else rTermSets.flatten.count(t => rTermReqs(t) > 1).toDouble /
        rTermSets.flatten.size
    Seq(
      "corpus_docs" -> corpus.size.toDouble,
      "corpus_bytes" -> corpus.map(_.text.getBytes("UTF-8").length.toLong).sum.toDouble,
      "distinct_terms" -> vocab.size.toDouble,
      "query_head_share" -> qHead,
      "query_tail_share" -> qTail,
      "query_oov_share" -> qOov,
      "query_repeat_share" ->
        (if (in.queries.isEmpty) 0.0
         else 1.0 - in.queries.distinct.size.toDouble / in.queries.size),
      "request_term_shared_share" -> rShared)
  }
}
