package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheRegistry.RegisteredCache
import graft.Tables
import graft.functions.{TextHash, Tokenizer}
import graft.operators.{Dedup, Passages, SignatureIndex}

/** Deduplication query inventory over `documents` (and `embeddings` for the
  * cosine variant). Every oracle implements the identical algorithm in
  * DuckDB SQL — possible because all hashing is md5-based (OracleSql.hash64).
  *
  * Subset filters (doc_id % k) bound candidate volume: the synthetic corpus
  * draws from a small shared vocabulary, so unigram jaccard between random
  * docs averages 0.61 — adversarially dense for LSH. Real corpora are
  * sparser; the operators themselves are linear + collision-bounded.
  */
object DedupQueries {

  private val P = TextHash.P
  private val NumHashes = 8
  private val RowsPerBand = 2
  // The DuckDB band CTEs in this file (and the streaming keyed-state
  // schema's h1/h2 columns) emit exactly TWO hash columns per band. If
  // RowsPerBand ever changes, those oracles would silently compare only
  // 2 of the rows per band and candidate sets would diverge — fail loudly
  // instead of letting the hazard replicate.
  require(RowsPerBand == 2,
    "SQL band builders + streaming h1/h2 schema hardcode 2 rows/band")
  private val MaxShingleDf = 20

  /** (a_i, b_i) for the i-th minhash — must mirror TextHash.minHash. */
  private def mhParams(i: Int): (Long, Long) =
    (2L * i + 1, 1099511628211L % P * (i + 1) % P)

  // ---- Exact dedup ------------------------------------------------------------
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("digest"),
        col("group_size"), col("keep"))
      .orderBy("doc_id")

  val dedupExactSql: String =
    """WITH d AS (
      |  SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS digest
      |  FROM documents)
      |SELECT doc_id, digest,
      |  CAST(count(*) OVER (PARTITION BY digest) AS BIGINT) AS group_size,
      |  doc_id = min(doc_id) OVER (PARTITION BY digest) AS keep
      |FROM d ORDER BY doc_id""".stripMargin

  // ---- Incremental-ingest dedup: bloom pre-filter + exact anti-join ----------
  // Existing corpus = doc_id % 4 != 0; incoming batch = doc_id % 4 == 0.
  // The bloom is a performance device (prunes the anti-join to the
  // maybe-dup set); the RESULT is exact, so the oracle is a plain
  // NOT EXISTS over the digest sets.
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    Dedup.incrementalNew(
        d.filter(col("doc_id") % 4 =!= 0), d.filter(col("doc_id") % 4 === 0),
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("digest"))
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String =
    """WITH d AS (
      |  SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS digest
      |  FROM documents),
      |ex AS (SELECT digest FROM d WHERE doc_id % 4 <> 0),
      |inc AS (SELECT doc_id, digest FROM d WHERE doc_id % 4 = 0)
      |SELECT i.doc_id, i.digest FROM inc i
      |WHERE NOT EXISTS (SELECT 1 FROM ex e WHERE e.digest = i.digest)
      |ORDER BY doc_id""".stripMargin

  // ---- Incremental NEAR-dup: new batch vs existing corpus signatures ---------
  // The ingest-time form of MinHash LSH: the corpus is never self-paired —
  // only (new x existing) band collisions generate candidates, and the
  // batch-side band table broadcasts so the corpus bands stream through
  // unshuffled. Within the %5 vocabulary subset: new = doc_id%10==0,
  // existing = doc_id%10==5.
  /** Hashed distinct token sets of the %5 subset — shared by the LSH
    * pair-gen, both incremental-near variants, and the signature-index
    * build (identical plan to minhashPairs' sets, so the cache is one).
    */
  private def hashedSets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"),
        array_distinct(transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hashMod(t))).as("toks"))
      .filter(size(col("toks")) > 0)
      .registeredCache()

  def dedupIncrementalNear(s: SparkSession, dir: String): DataFrame = {
    val sets = hashedSets(s, dir)
    def sigsOf(df: DataFrame) = df.select(
      col("id") +: Dedup.minHashSignaturesHashed(col("toks"), NumHashes): _*)
    val cands = Dedup.lshCandidatesBetween(
      sigsOf(sets.filter(col("id") % 10 === 0)),
      sigsOf(sets.filter(col("id") % 10 === 5)), NumHashes, RowsPerBand)
    cands
      .join(sets.select(col("id").as("id_new"), col("toks").as("toks_n")), "id_new")
      .join(sets.select(col("id").as("id_old"), col("toks").as("toks_o")), "id_old")
      .withColumn("jaccard",
        graft.plans.ArrayJaccard.jaccardLong(col("toks_n"), col("toks_o")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_new").as("doc_id_new"), col("id_old").as("doc_id_old"),
        col("jaccard").cast("double").as("jaccard"))
      .orderBy("doc_id_new", "doc_id_old")
  }

  val dedupIncrementalNearSql: String = {
    val mhExprs = (0 until NumHashes).map { i =>
      val (a, b) = mhParams(i)
      s"list_min(list_transform(toks, x -> (x * $a + $b) % $P)) AS mh$i"
    }.mkString(",\n    ")
    val bandArms = (0 until NumHashes / RowsPerBand).map { bnd =>
      val h1 = s"mh${bnd * RowsPerBand}"
      val h2 = s"mh${bnd * RowsPerBand + 1}"
      s"SELECT id, $bnd AS band, $h1 AS h1, $h2 AS h2 FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sets AS (
       |  SELECT doc_id AS id, list_distinct(list_transform(
       |    list_filter(string_split_regex(
       |      regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
       |      x -> x <> ''),
       |    x -> ${OracleSql.hashMod("x")})) AS toks
       |  FROM documents WHERE doc_id % 5 = 0),
       |nonempty AS (SELECT * FROM sets WHERE len(toks) > 0),
       |sigs AS (
       |  SELECT id, toks,
       |    $mhExprs
       |  FROM nonempty),
       |bands AS (
       |  $bandArms),
       |newb AS (SELECT * FROM bands WHERE id % 10 = 0),
       |oldb AS (SELECT * FROM bands WHERE id % 10 = 5),
       |cands AS (
       |  SELECT DISTINCT n.id AS id_new, o.id AS id_old
       |  FROM newb n JOIN oldb o
       |    ON n.band = o.band AND n.h1 = o.h1 AND n.h2 = o.h2)
       |SELECT c.id_new AS doc_id_new, c.id_old AS doc_id_old,
       |  CAST(len(list_intersect(sn.toks, so.toks)) AS DOUBLE) /
       |    len(list_distinct(sn.toks || so.toks)) AS jaccard
       |FROM cands c
       |JOIN nonempty sn ON c.id_new = sn.id
       |JOIN nonempty so ON c.id_old = so.id
       |WHERE CAST(len(list_intersect(sn.toks, so.toks)) AS DOUBLE) /
       |    len(list_distinct(sn.toks || so.toks)) >= 0.8
       |ORDER BY doc_id_new, doc_id_old""".stripMargin
  }

  // ---- MinHash + LSH near-dup -------------------------------------------------
  // Subset doc_id % 5 = 0; distinct unigram token sets; 8 hashes, 4 bands of 2;
  // band-collision candidates verified with exact jaccard >= 0.8.
  /** Verified near-dup pairs, unordered — shared by the user-facing query
    * (which adds the presentation sort) and dedupClusters (whose edge input
    * needs no order; sorting 100 TB of pairs before clustering would be a
    * wasted global exchange). The result is cached: verified pairs are the
    * natural materialization point of a dedup pipeline (tiny relative to
    * the corpus — collision-bounded), and both downstream consumers reuse
    * one candidate-gen + verify pass instead of re-running it.
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    // Tokens hashed to long once; both the signatures and the jaccard
    // verify run on the long sets (same md5 hash in the oracle).
    val sets = hashedSets(s, dir)
    val sigs = sets.select(
      col("id") +: Dedup.minHashSignaturesHashed(col("toks"), NumHashes): _*)
    val cands = Dedup.lshCandidates(sigs, NumHashes, RowsPerBand)
    val sa = sets.select(col("id").as("id_a"), col("toks").as("toks_a"))
    val sb = sets.select(col("id").as("id_b"), col("toks").as("toks_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.plans.ArrayJaccard.jaccardLong(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        col("jaccard").cast("double").as("jaccard"))
      .registeredCache()
  }

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir).orderBy("doc_id_a", "doc_id_b")

  // ---- MinHash + LSH near-dup over SHINGLE sets (the production form) ---------
  // The unigram form above is the oracle-stable baseline; its signature
  // entropy is bounded by the corpus VOCABULARY, not the corpus size —
  // the x100 probe measured the testdata's ~31-word base vocabulary
  // putting ~60% of all docs into one modal band bucket (7.2e9 candidate
  // pairs; widening bands to 8 rows still left 1.2e9, because with
  // random-pair unigram jaccard ~0.63 the corpus genuinely contains
  // billions of moderate pairs). Positional 3-shingles multiply the
  // effective vocabulary combinatorially (130 -> 83k distinct values on
  // the same corpus; max bucket 62766 -> 200; pair volume 7.2e9 -> 18e6,
  // ~400x) — which is why the ingest_pipeline near gate was built on
  // shingles from the start. This query is that gate's standalone twin:
  // same 8x2 banding, exact SHINGLE-set jaccard >= 0.8, and — unlike the
  // unigram baseline, which needs its %5 cost-subset — run over the FULL
  // corpus: shingle selectivity is precisely what makes that affordable
  // (sf0.01: 29 candidates corpus-wide, 25 verified pairs).
  private def shingledSets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").as("id"),
        array_distinct(TextHash.hashedShingles(
          transform(Tokenizer.tokenize(col("text")),
            t => TextHash.hashMod(t)), 3)).as("toks"))
      .filter(size(col("toks")) > 0)
      .registeredCache()

  /** Verified SHINGLED near-dup pairs, unordered + cached — the production
    * pair source (SCALE_r7: completes at x100 where the unigram form DNFs),
    * shared by the user-facing query and every cluster/centrality consumer
    * (componentLabels, graph_pagerank) so no internal plan stacks on an
    * x100-fatal candidate generator.
    */
  private[queries] def shingledPairs(s: SparkSession, dir: String): DataFrame = {
    val sets = shingledSets(s, dir)
    val sigs = sets.select(
      col("id") +: Dedup.minHashSignaturesHashed(col("toks"), NumHashes): _*)
    val cands = Dedup.lshCandidates(sigs, NumHashes, RowsPerBand)
    val sa = sets.select(col("id").as("id_a"), col("toks").as("toks_a"))
    val sb = sets.select(col("id").as("id_b"), col("toks").as("toks_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.plans.ArrayJaccard.jaccardLong(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        col("jaccard").cast("double").as("jaccard"))
      .registeredCache()
  }

  def dedupMinhashShingled(s: SparkSession, dir: String): DataFrame =
    shingledPairs(s, dir).orderBy("doc_id_a", "doc_id_b")

  val dedupMinhashShingledSql: String = {
    val mhExprs = (0 until NumHashes).map { i =>
      val (a, b) = mhParams(i)
      s"list_min(list_transform(toks, x -> (x * $a + $b) % $P)) AS mh$i"
    }.mkString(",\n    ")
    val bandArms = (0 until NumHashes / RowsPerBand).map { bnd =>
      val h1 = s"mh${bnd * RowsPerBand}"
      val h2 = s"mh${bnd * RowsPerBand + 1}"
      s"SELECT id, $bnd AS band, $h1 AS h1, $h2 AS h2 FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val shingle3 =
      s"(((t1.h * 1000003 + t2.h) % $P) * 1000003 + t3.h) % $P"
    val hashedToks =
      s"""SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM (
         |    SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos
         |    FROM lx)""".stripMargin
    s"""WITH lx AS (
       |  SELECT doc_id, list_filter(string_split_regex(
       |      regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
       |      x -> x <> '') AS l
       |  FROM documents),
       |tok AS (
       |  SELECT t1.doc_id AS id, list_distinct(list($shingle3)) AS toks
       |  FROM ($hashedToks) t1
       |  JOIN ($hashedToks) t2
       |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN ($hashedToks) t3
       |    ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
       |  GROUP BY t1.doc_id),
       |nonempty AS (SELECT * FROM tok WHERE len(toks) > 0),
       |sigs AS (
       |  SELECT id, toks,
       |    $mhExprs
       |  FROM nonempty),
       |bands AS (
       |  $bandArms),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.id < b.id)
       |SELECT c.id_a AS doc_id_a, c.id_b AS doc_id_b,
       |  CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |    len(list_distinct(sa.toks || sb.toks)) AS jaccard
       |FROM cands c
       |JOIN nonempty sa ON c.id_a = sa.id
       |JOIN nonempty sb ON c.id_b = sb.id
       |WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |    len(list_distinct(sa.toks || sb.toks)) >= 0.8
       |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }

  /** One label-propagation run per (JVM, sfDir), shared by the three views
    * of the same cluster structure (dedup_clusters, dedup_keeper_quality,
    * dedup_splits). The loop is imperative — it runs jobs — so plan-level
    * cache dedup can't collapse repeated calls the way it does for
    * minhashPairs; an explicit memo does, and the release hook clears it
    * when the sweep's caches go away.
    */
  private val componentLabelCache = {
    val m = new graft.Memo[DataFrame]
    graft.CacheRegistry.onRelease(() => m.clear())
    m
  }

  private def componentLabels(s: SparkSession, dir: String): DataFrame =
    componentLabelCache(dir) {
      import graft.CacheRegistry.RegisteredCache
      // shingled pairs, not unigram: the cluster family is a PRODUCTION
      // consumer, so its edge input must be the form that survives x100
      // (full-corpus coverage is a bonus — splits leak-proofing now sees
      // every near-dup edge, not just the %5 cost-subset's)
      val pairs = shingledPairs(s, dir)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      // checkEvery=2, not 4: ProfileCC (r16) measured this graph's loop
      // converging in ONE propagation round at every SF probed — shingled
      // near-dup clusters are dense and shallow, and the fused round-1
      // seeding already lands most labels — so checkEvery=4 computed 3
      // provably-idle extra rounds per run (1.4-1.9 s vs 0.8-1.1 s). At 2
      // the wasted work is bounded by one idle round, and a deeper graph
      // pays one extra counting job per 2 rounds instead of none per 4 —
      // the phash rep graph's loop (measured diameter 8, rounds
      // data-inherent) keeps checkEvery=4 where it is optimal.
      graft.operators.Components
        .connectedComponents(pairs, checkEvery = 2, pointerJump = false)
        .registeredCache()
    }

  // ---- STREAMING near-dup: stateful bucket collisions + batch verify ----------
  // The same LSH pipeline run BY THE STREAMING ENGINE: the corpus arrives
  // as three micro-batches (staged file splits), per-bucket keyed state
  // accumulates members, and every arriving doc emits candidate pairs
  // against the bucket's existing members — the emitted set equals the
  // batch self-join's candidates under ANY arrival interleaving
  // (DocStreams.bucketCollisions). The tiny candidate set then pays the
  // exact jaccard verify in batch, so the final rows hash-match the SAME
  // DuckDB oracle as dedup_minhash_lsh. This is the ingest-time shape: a
  // live corpus stream surfaces near-dup pairs as documents arrive, state
  // bounded by bucket occupancy.
  /** Staged multi-file copy of the %5 subset, built once per (JVM, dir):
    * the arriving-corpus fixture is an INPUT (like the persisted index
    * builds), so repeat runs measure the streaming detection itself, not
    * re-staging; only the subset the stream consumes is staged.
    */
  private val stagedNearSrc = new graft.Memo[String]

  private def stagedNearDir(s: SparkSession, dir: String): String =
    stagedNearSrc(dir)(graft.streaming.DocStreams
      .stagedDocSplits(Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")), nFiles = 3))

  def streamDedupNear(s: SparkSession, dir: String): DataFrame = {
    val src = graft.streaming.DocStreams
      .docsFileStream(s, stagedNearDir(s, dir))
    val sets = src.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"),
        array_distinct(transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hashMod(t))).as("toks"))
      .filter(size(col("toks")) > 0)
    val sigs = sets.select(
      col("id") +: Dedup.minHashSignaturesHashed(col("toks"), NumHashes): _*)
    val bandRows = Dedup.banded(sigs, NumHashes, RowsPerBand)
      .select(col("band"), col("h.r0").as("h1"), col("h.r1").as("h2"), col("id"))
    val cands = graft.streaming.DocStreams
      .nearDupCandidates(s, bandRows, "dedup_near")
      .select(col("id_a"), col("id_b"))
    val bsets = hashedSets(s, dir)
    cands
      .join(bsets.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(bsets.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jaccard",
        graft.plans.ArrayJaccard.jaccardLong(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        col("jaccard").cast("double").as("jaccard"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  // ---- End-to-end ingest pipeline: the corpus-refresh composition ------------
  // What actually runs when a crawl batch arrives at a training corpus:
  //   exact-dup gate (vs the existing corpus AND within the batch — a
  //   crawl batch carries its own duplicates) -> near-dup gate (vs the
  //   existing corpus signatures AND within the batch) -> PII scrub ->
  //   quality gate -> accepted-docs manifest (doc_id, n_tokens, quality,
  //   scrubbed digest). One lazy plan; each gate reuses the standalone
  //   operator (Dedup.incrementalNew, lshCandidates/Between, Scrub,
  //   Curation.qualityOf), and the oracle replays the full composition.
  // Batch = doc_id % 4 == 0, existing = the rest (the dedup_incremental
  // convention). Keeper conventions match the dedup family: first
  // occurrence (min doc_id) wins exact groups; a doc is near-removed when
  // ANY lower-id near-dup exists (semantic_dedup's rule).
  private val IngestMinQuality = 0.4

  def ingestPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    graft.operators.Ingest.pipeline(s,
      existing = d.filter(col("doc_id") % 4 =!= 0),
      batch = d.filter(col("doc_id") % 4 === 0),
      NumHashes, RowsPerBand, IngestMinQuality)
  }

  // ---- STREAMING ingest: duplicate state maintained as the batch arrives -----
  // The same corpus-refresh gates, with BOTH intra-batch duplicate
  // detections computed by the streaming engine's keyed state while the
  // batch streams in as three micro-batches: same-digest pairs from
  // per-digest bucket state, near-dup candidate pairs from shingle-band
  // bucket state (the stream_dedup_near machinery). The emitted pair sets
  // equal the batch formulations under any arrival interleaving, so the
  // final manifest hash-matches the SAME oracle as ingest_pipeline.
  private val stagedIngestSrc = new graft.Memo[String]

  private def stagedIngestDir(s: SparkSession, dir: String): String =
    stagedIngestSrc(dir)(graft.streaming.DocStreams
      .stagedDocSplits(Tables.documents(s, dir)
        .filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text")), nFiles = 3))

  def streamIngestPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val src = graft.streaming.DocStreams
      .docsFileStream(s, stagedIngestDir(s, dir))
    // exact: per-digest keyed state emits same-digest candidate pairs as
    // arrivals collide (digest folded to a 120-bit bucket key; Ingest
    // re-verifies true digest equality, so a key collision cannot drop a
    // non-duplicate). band = -1 routes these buckets through channel 0 of
    // the SAME keyed state as the near-dup bands — one streaming query,
    // one stateful pass, instead of two full AvailableNow runs.
    val dg = md5(Tokenizer.normalizeWhitespace(col("text")))
    val digRows = src.select(
      lit(-1).cast("int").as("band"),
      TextHash.hash64(dg).as("h1"),
      TextHash.hash64(concat(dg, lit("#2"))).as("h2"),
      col("doc_id").as("id"))
    // near: shingle-minhash band rows through the same keyed-bucket state
    val sets = src.select(col("doc_id").as("id"),
        array_distinct(TextHash.hashedShingles(
          transform(Tokenizer.tokenize(col("text")),
            t => TextHash.hashMod(t)), 3)).as("toks"))
      .filter(size(col("toks")) > 0)
    val sigs = sets.select(
      col("id") +: Dedup.minHashSignaturesHashed(col("toks"), NumHashes): _*)
    val bandRows = Dedup.banded(sigs, NumHashes, RowsPerBand)
      .select(col("band"), col("h.r0").as("h1"), col("h.r1").as("h2"), col("id"))
    val pairs = graft.streaming.DocStreams
      .nearDupCandidates(s, digRows.unionByName(bandRows), "ingest_pairs")
    val exactPairs = pairs.filter(col("ch") === 0).select(col("id_a"), col("id_b"))
    val withinCands = pairs.filter(col("ch") === 1).select(col("id_a"), col("id_b"))
    graft.operators.Ingest.pipelineWithStreamedPairs(s,
      existing = d.filter(col("doc_id") % 4 =!= 0),
      batch = d.filter(col("doc_id") % 4 === 0),
      exactPairs, withinCands, NumHashes, RowsPerBand, IngestMinQuality)
  }

  val ingestPipelineSql: String = {
    val mhExprs = (0 until NumHashes).map { i =>
      val (a, b) = mhParams(i)
      s"list_min(list_transform(toks, x -> (x * $a + $b) % $P)) AS mh$i"
    }.mkString(",\n    ")
    def bandArmsOver(src: String) =
      (0 until NumHashes / RowsPerBand).map { bnd =>
        val h1 = s"mh${bnd * RowsPerBand}"
        val h2 = s"mh${bnd * RowsPerBand + 1}"
        s"SELECT id, $bnd AS band, $h1 AS h1, $h2 AS h2 FROM $src"
      }.mkString("\n  UNION ALL\n  ")
    val tokList = s"""list_filter(string_split_regex(
       |      regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
       |      x -> x <> '')""".stripMargin
    val shingle3 =
      s"(((t1.h * 1000003 + t2.h) % $P) * 1000003 + t3.h) % $P"
    def shingleSets(tokSrc: String) =
      s"""SELECT t1.doc_id AS id, list(DISTINCT $shingle3) AS toks
         |  FROM (SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM (
         |    SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos
         |    FROM $tokSrc)) t1
         |  JOIN (SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM (
         |    SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos
         |    FROM $tokSrc)) t2
         |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
         |  JOIN (SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM (
         |    SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos
         |    FROM $tokSrc)) t3
         |    ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
         |  GROUP BY t1.doc_id""".stripMargin
    val em = graft.operators.Scrub.EmailPattern
    val ph = graft.operators.Scrub.PhonePattern
    val ip = graft.operators.Scrub.Ipv4Pattern
    val sec = graft.operators.Scrub.SecretPattern
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS digest
       |  FROM documents),
       |ex AS (SELECT digest FROM d WHERE doc_id % 4 <> 0),
       |inc AS (SELECT doc_id, text, digest FROM d WHERE doc_id % 4 = 0),
       |exact_new0 AS (
       |  SELECT i.doc_id, i.text, i.digest FROM inc i
       |  WHERE NOT EXISTS (SELECT 1 FROM ex e WHERE e.digest = i.digest)),
       |exact_new AS (
       |  SELECT doc_id, text FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY digest) AS keeper
       |    FROM exact_new0) t
       |  WHERE doc_id = keeper),
       |lx AS (SELECT doc_id, $tokList AS l FROM documents WHERE doc_id % 4 <> 0),
       |ln AS (SELECT doc_id, $tokList AS l FROM exact_new),
       |tok_ex AS (
       |  ${shingleSets("lx")}),
       |tok_new AS (
       |  ${shingleSets("ln")}),
       |ne_ex AS (SELECT * FROM tok_ex WHERE len(toks) > 0),
       |ne_new AS (SELECT * FROM tok_new WHERE len(toks) > 0),
       |sigs_ex AS (SELECT id, $mhExprs FROM ne_ex),
       |sigs_new AS (SELECT id, $mhExprs FROM ne_new),
       |bands_ex AS (
       |  ${bandArmsOver("sigs_ex")}),
       |bands_new AS (
       |  ${bandArmsOver("sigs_new")}),
       |cands AS (
       |  SELECT DISTINCT n.id AS id_new, o.id AS id_old
       |  FROM bands_new n JOIN bands_ex o
       |    ON n.band = o.band AND n.h1 = o.h1 AND n.h2 = o.h2),
       |near_matched AS (
       |  SELECT DISTINCT c.id_new FROM cands c
       |  JOIN ne_new sn ON c.id_new = sn.id
       |  JOIN ne_ex so ON c.id_old = so.id
       |  WHERE CAST(len(list_intersect(sn.toks, so.toks)) AS DOUBLE) /
       |    len(list_distinct(sn.toks || so.toks)) >= 0.8),
       |wcands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands_new a JOIN bands_new b
       |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.id < b.id),
       |within_matched AS (
       |  SELECT DISTINCT w.id_b FROM wcands w
       |  JOIN ne_new sa ON w.id_a = sa.id
       |  JOIN ne_new sb ON w.id_b = sb.id
       |  WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |    len(list_distinct(sa.toks || sb.toks)) >= 0.8),
       |surv AS (
       |  SELECT doc_id, text FROM exact_new
       |  WHERE doc_id NOT IN (SELECT id_new FROM near_matched)
       |    AND doc_id NOT IN (SELECT id_b FROM within_matched)),
       |lq AS (SELECT doc_id, text, $tokList AS l FROM surv),
       |q AS (
       |  SELECT doc_id, text, CAST(len(l) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(l) = 0 THEN 0.0 ELSE
       |      least(1.0, (length(array_to_string(l, '')) * 1.0 / len(l)) / 8.0) *
       |      (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |        (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text) END) *
       |      (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |        (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text) END)
       |    END AS quality
       |  FROM lq)
       |SELECT doc_id, n_tokens, CAST(quality AS DOUBLE) AS quality,
       |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    text, '$em', '<EMAIL>', 'g'), '$sec', '<SECRET>', 'g'),
       |    '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')) AS scrub_digest
       |FROM q WHERE quality >= $IngestMinQuality ORDER BY doc_id""".stripMargin
  }

  val dedupMinhashLshSql: String = {
    val mhExprs = (0 until NumHashes).map { i =>
      val (a, b) = mhParams(i)
      s"list_min(list_transform(toks, x -> (x * $a + $b) % $P)) AS mh$i"
    }.mkString(",\n    ")
    val bandArms = (0 until NumHashes / RowsPerBand).map { bnd =>
      val h1 = s"mh${bnd * RowsPerBand}"
      val h2 = s"mh${bnd * RowsPerBand + 1}"
      s"SELECT id, $bnd AS band, $h1 AS h1, $h2 AS h2 FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sets AS (
       |  SELECT doc_id AS id, list_distinct(list_transform(
       |    list_filter(string_split_regex(
       |      regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
       |      x -> x <> ''),
       |    x -> ${OracleSql.hashMod("x")})) AS toks
       |  FROM documents WHERE doc_id % 5 = 0),
       |nonempty AS (SELECT * FROM sets WHERE len(toks) > 0),
       |sigs AS (
       |  SELECT id, toks,
       |    $mhExprs
       |  FROM nonempty),
       |bands AS (
       |  $bandArms),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.id < b.id)
       |SELECT c.id_a AS doc_id_a, c.id_b AS doc_id_b,
       |  CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |    len(list_distinct(sa.toks || sb.toks)) AS jaccard
       |FROM cands c
       |JOIN nonempty sa ON c.id_a = sa.id
       |JOIN nonempty sb ON c.id_b = sb.id
       |WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |    len(list_distinct(sa.toks || sb.toks)) >= 0.8
       |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }

  // ---- MinHash estimator quality audit ----------------------------------------
  // The tuning report behind the LSH dedup: over the SAME banded candidate
  // set dedup_minhash_lsh prunes to, compare the signature-agreement
  // estimate (matching minhashes / NumHashes — the estimator whose
  // expectation IS the jaccard) against the exact set jaccard, and count
  // the confusion at the 0.8 keep threshold. One row: candidate volume,
  // true/false positives, and the mean |estimate − exact| (integer-micro
  // error sum, so the aggregate is order-free). This is how band geometry
  // (bands × rows) gets validated on real data before a 100 TB run —
  // candidates only, so the cost is the LSH join's, never all-pairs.
  def minhashEval(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    val sets = hashedSets(s, dir)
    // ONE (id, toks, mh0..mh7) table feeds signature derivation, banding
    // and BOTH sides of the candidate join — cached, two id-keyed joins
    // total (the first cut joined sigs and sets separately per side: four
    // shuffles of wide rows, 4x the probe volume for the same answer)
    val full = sets.select(
      col("id") +: col("toks") +:
        Dedup.minHashSignaturesHashed(col("toks"), NumHashes): _*)
      .registeredCache()
    val cands = Dedup.lshCandidates(full, NumHashes, RowsPerBand)
    val agree = (0 until NumHashes).map(i =>
      when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val sideA = full.select(col("id").as("id_a") +: col("toks").as("toks_a") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"mh${i}_a")): _*)
    val sideB = full.select(col("id").as("id_b") +: col("toks").as("toks_b") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"mh${i}_b")): _*)
    cands
      .join(sideA, "id_a").join(sideB, "id_b")
      .select(
        (agree.cast("double") / lit(NumHashes.toDouble)).as("est"),
        graft.plans.ArrayJaccard.jaccardLong(col("toks_a"), col("toks_b"))
          .as("exact"))
      .select(col("est"), col("exact"),
        abs(round(col("est") * 1000000.0).cast("long") -
          round(col("exact") * 1000000.0).cast("long")).as("err_micro"))
      .agg(count(lit(1)).cast("long").as("n_candidates"),
        sum(when(col("exact") >= 0.8, 1L).otherwise(0L)).cast("long").as("n_tp"),
        sum(when(col("exact") < 0.8, 1L).otherwise(0L)).cast("long").as("n_fp"),
        (sum(col("err_micro")).cast("double") / 1000000.0 /
          count(lit(1)).cast("double")).as("mean_abs_err"))
  }

  val minhashEvalSql: String = {
    val mhExprs = (0 until NumHashes).map { i =>
      val (a, b) = mhParams(i)
      s"list_min(list_transform(toks, x -> (x * $a + $b) % $P)) AS mh$i"
    }.mkString(",\n    ")
    val bandArms = (0 until NumHashes / RowsPerBand).map { bnd =>
      val h1 = s"mh${bnd * RowsPerBand}"
      val h2 = s"mh${bnd * RowsPerBand + 1}"
      s"SELECT id, $bnd AS band, $h1 AS h1, $h2 AS h2 FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val agreeSql = (0 until NumHashes)
      .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sets AS (
       |  SELECT doc_id AS id, list_distinct(list_transform(
       |    list_filter(string_split_regex(
       |      regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
       |      x -> x <> ''),
       |    x -> ${OracleSql.hashMod("x")})) AS toks
       |  FROM documents WHERE doc_id % 5 = 0),
       |nonempty AS (SELECT * FROM sets WHERE len(toks) > 0),
       |sigs AS (
       |  SELECT id, toks,
       |    $mhExprs
       |  FROM nonempty),
       |bands AS (
       |  $bandArms),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.id < b.id),
       |scored AS (
       |  SELECT
       |    CAST($agreeSql AS DOUBLE) / $NumHashes.0 AS est,
       |    CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |      len(list_distinct(sa.toks || sb.toks)) AS exact
       |  FROM cands c
       |  JOIN sigs sa ON c.id_a = sa.id
       |  JOIN sigs sb ON c.id_b = sb.id)
       |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       |  CAST(sum(CASE WHEN exact >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
       |  CAST(sum(CASE WHEN exact < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       |  CAST(sum(abs(CAST(round(est * 1000000.0) AS BIGINT)
       |    - CAST(round(exact * 1000000.0) AS BIGINT))) AS DOUBLE) / 1000000.0
       |    / CAST(count(*) AS DOUBLE) AS mean_abs_err
       |FROM scored""".stripMargin
  }

  // ---- SimHash near-dup -------------------------------------------------------
  // 32-bit simhash; candidate pairs share a 16-bit half (pigeonhole blocking);
  // verified hamming <= 6. Subset doc_id % 3 = 0.
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
    val tokens = docs.select(col("doc_id").as("id"),
        explode(Tokenizer.tokenize(col("text"))).as("term"))
    // cached: the signature table feeds both half-joins and the verify
    val sigs = Dedup.simHashSignatures(tokens)
      .withColumn("lo", col("simhash") % 65536)
      .withColumn("hi", (col("simhash") / 65536).cast("long"))
      .registeredCache()
    val a = sigs.select(col("id").as("id_a"), col("simhash").as("sh_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = sigs.select(col("id").as("id_b"), col("simhash").as("sh_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    // OR of two equalities would plan as a nested-loop cross join; a union
    // of two hash joins + pair distinct is the scalable equivalent.
    val byLo = a.join(b, col("lo_a") === col("lo_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
    val byHi = a.join(b, col("hi_a") === col("hi_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
    byLo.union(byHi).distinct()
      .withColumn("hamming", Dedup.hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= 6)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        col("sh_a").as("simhash_a"), col("sh_b").as("simhash_b"), col("hamming"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  val dedupSimhashSql: String = {
    val votes = (0 until 32).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n    ")
    val pack = (0 until 32).map { j =>
      s"CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH ${OracleSql.TokCte},
       |hashed AS (
       |  SELECT doc_id AS id, ${OracleSql.hash64("term")} AS h
       |  FROM toks WHERE doc_id % 3 = 0),
       |votes AS (
       |  SELECT id,
       |    $votes
       |  FROM hashed GROUP BY id),
       |sigs AS (
       |  SELECT id, $pack AS simhash FROM votes),
       |halved AS (
       |  SELECT id, simhash, simhash % 65536 AS lo,
       |    CAST(simhash // 65536 AS BIGINT) AS hi
       |  FROM sigs)
       |SELECT a.id AS doc_id_a, b.id AS doc_id_b,
       |  a.simhash AS simhash_a, b.simhash AS simhash_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM halved a JOIN halved b
       |  ON a.id < b.id AND (a.lo = b.lo OR a.hi = b.hi)
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }

  // ---- n-gram (3-shingle) jaccard near-dup ------------------------------------
  // Candidate generation via the inverted shingle index (pairs that share a
  // shingle), verified with exact shingle-set jaccard.
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
    // Tokens md5-hashed once, 3-shingle hashes built by polynomial combine
    // of token hashes: the inverted index, the pair join and the jaccard
    // verify all run on longs, with no per-shingle md5 or string concat
    // (identical combine in the oracle, so results match exactly).
    // The cache() is a materialization barrier: without it, Catalyst's
    // project-collapse inlines the md5 transform into each of the n shifted
    // slice() references and the hashing runs n+2 times per doc.
    val hashedToks = docs.select(col("doc_id").as("id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hashMod(t)).as("th"))
      .registeredCache()
    // sets feeds the inverted index AND both sides of the verify join —
    // cache so the shingle build runs once, not three times
    val sets = hashedToks.select(col("id"),
        array_distinct(TextHash.hashedShingles(col("th"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
      .registeredCache()
    val inv = sets.select(col("id"), explode(col("sh")).as("shingle"))
    // Stop-shingle cap: shingles present in more than max(MaxShingleDf,
    // ceil(N/1000)) docs are discriminating nothing and would expand the
    // pair join quadratically. The cap DERIVES from the subset count:
    // boilerplate is a corpus FRACTION, not an absolute df — a fixed 20
    // dropped every replica-shared shingle at the x100 probe (df ~ 100
    // under dup-factor 100) and the query silently returned zero rows.
    // Integer ceil-div in both engines; at the test SFs the derived cap
    // equals the floor, so gate results are unchanged.
    val maxDf = math.max(MaxShingleDf.toLong, (docs.count() + 999L) / 1000L)
    val rare = inv.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    val invRare = inv.join(rare, "shingle")
    val a = invRare.alias("a")
    val b = invRare.alias("b")
    val cands = a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    val sa = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val sb = sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.plans.ArrayJaccard.jaccardLong(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.02)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        col("shared").cast("long").as("shared_shingles"),
        col("jaccard").cast("double").as("jaccard"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  val dedupNgramJaccardSql: String =
    s"""WITH ${OracleSql.TokCte},
       |th AS (
       |  SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h
       |  FROM toks WHERE doc_id % 2 = 0),
       |sh3 AS (
       |  SELECT t1.doc_id AS id,
       |    (((t1.h * 1000003 + t2.h) % 1000000007) * 1000003 + t3.h) % 1000000007 AS shingle
       |  FROM th t1
       |  JOIN th t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN th t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2),
       |sets AS (
       |  SELECT id, list_distinct(list(shingle)) AS sh FROM sh3 GROUP BY id),
       |inv AS (SELECT id, unnest(sh) AS shingle FROM sets),
       |rare AS (
       |  SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= (
       |    SELECT greatest($MaxShingleDf, (count(*) + 999) // 1000)
       |    FROM documents WHERE doc_id % 2 = 0)),
       |inv_rare AS (SELECT inv.id, inv.shingle FROM inv JOIN rare USING (shingle)),
       |cands AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
       |  FROM inv_rare a JOIN inv_rare b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY a.id, b.id HAVING count(*) >= 2)
       |SELECT c.id_a AS doc_id_a, c.id_b AS doc_id_b,
       |  CAST(c.shared AS BIGINT) AS shared_shingles,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    len(list_distinct(sa.sh || sb.sh)) AS jaccard
       |FROM cands c
       |JOIN sets sa ON c.id_a = sa.id
       |JOIN sets sb ON c.id_b = sb.id
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    len(list_distinct(sa.sh || sb.sh)) >= 0.02
       |ORDER BY doc_id_a, doc_id_b""".stripMargin

  // ---- Cluster the near-dup graph: pairs -> components -> keeper --------------
  // Verified pairs alone don't answer "which copy do we keep": transitive
  // groups do. Min-label-propagation connected components over the MinHash
  // pair graph; keeper = the min doc_id of each cluster. The DuckDB oracle
  // computes the same components via a recursive transitive closure.
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    // Near-dup clusters are dense and shallow (diameter 2-3, see the
    // Components scaladoc), so plain propagation converges in a handful of
    // rounds — pointer jumping would add a self-join per round for nothing,
    // and checkEvery=4 usually lands the whole loop in one counting job.
    val labels = componentLabels(s, dir)
    // cluster_size over a window: one exchange on component, vs the
    // groupBy + join-back shape which pays the aggregation exchange AND a
    // second pass over labels.
    val byComponent = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
    labels
      .withColumn("cluster_size", count(lit(1)).over(byComponent).cast("long"))
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("component"),
        col("cluster_size"),
        (col("id") === col("component")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** The recursive-closure CTE chain up to `comp`/`sizes` — shared by the
    * clusters oracle and the quality-keeper oracle.
    */
  private val dedupClusterCtes: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_id_a AS a, doc_id_b AS b FROM (
       |$dedupMinhashShingledSql
       |  ) mh),
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |comp AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS component
       |  FROM reach GROUP BY a),
       |sizes AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY component)""".stripMargin

  val dedupClustersSql: String =
    s"""$dedupClusterCtes
       |SELECT c.doc_id, c.component, s.cluster_size,
       |  c.doc_id = c.component AS is_keeper
       |FROM comp c JOIN sizes s USING (component)
       |ORDER BY doc_id""".stripMargin

  // ---- Quality-aware keeper selection per near-dup cluster -------------------
  // dedup_clusters keeps the LOWEST id per cluster — deterministic but
  // arbitrary. Production dedup keeps the BEST member: per cluster, the
  // doc with the highest quality score (ties to the smallest id). Quality
  // quantizes to integer micro-units before the argmax, so keeper choice
  // is bit-stable cross-engine; the argmax itself is one partial-
  // aggregating max(struct) — no window over the (possibly huge) cluster.
  def dedupKeeperQuality(s: SparkSession, dir: String): DataFrame = {
    val labels = componentLabels(s, dir)
    val qm = Tables.documents(s, dir)
      .select(col("doc_id").as("id"),
        round(graft.operators.Curation.qualityExpr(col("text"))
          * lit(1000000.0)).cast("long").as("qm"))
    labels.join(qm, "id")
      .groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("cluster_size"),
        max(struct(col("qm"), (-col("id")).as("negid"))).as("best"))
      .select(col("component").cast("long").as("component"),
        (-col("best.negid")).cast("long").as("keeper"),
        (col("best.qm").cast("double") / lit(1000000.0)).as("keeper_quality"),
        col("cluster_size"))
      .orderBy("component")
  }

  val dedupKeeperQualitySql: String =
    s"""$dedupClusterCtes,
       |${OracleSql.TokCte},
       |qm AS (
       |  SELECT d.doc_id AS id,
       |    CAST(round((CASE WHEN len(l) = 0 THEN 0.0 ELSE
       |      least(1.0, (length(array_to_string(l, '')) * 1.0 / len(l)) / 8.0) *
       |      (1.0 - CASE WHEN length(d.text) = 0 THEN 0.0 ELSE
       |        (length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(d.text) END) *
       |      (1.0 - CASE WHEN length(d.text) = 0 THEN 0.0 ELSE
       |        (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g'))) * 1.0 / length(d.text) END)
       |    END) * 1000000) AS BIGINT) AS qm
       |  FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id),
       |ranked AS (
       |  SELECT c.component, c.doc_id, q.qm, s.cluster_size,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY q.qm DESC, c.doc_id ASC) AS rn
       |  FROM comp c JOIN qm q ON c.doc_id = q.id
       |  JOIN sizes s USING (component))
       |SELECT component, doc_id AS keeper,
       |  CAST(qm AS DOUBLE) / 1000000.0 AS keeper_quality, cluster_size
       |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin

  // ---- Leak-proof train/validation/test splits --------------------------------
  // Assigning splits per DOCUMENT leaks: a near-duplicate pair straddling
  // train and validation puts (almost) the eval text in the training set.
  // Split must be assigned per near-dup CLUSTER — every member inherits the
  // deterministic md5 gate of its cluster's component id (singletons: the
  // doc's own id). 80/10/10 on the hash bucket; no RNG, reproducible across
  // engines and re-runs, stable under corpus growth that doesn't touch the
  // cluster. Doc subset doc_id % 5 = 0 (fixture cost bound); the clusters
  // protecting it come from the FULL-corpus shingled graph, so an edge to
  // an out-of-subset near-dup still pins both ends to one split bucket.
  def dedupSplits(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % 5 === 0).select(col("doc_id"))
    val labels = componentLabels(s, dir)
      .select(col("id").as("doc_id"), col("component"))
    val withComp = docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    withComp
      .withColumn("bucket",
        (TextHash.hash64(col("component").cast("string")) % 1000).cast("long"))
      .withColumn("split",
        when(col("bucket") < 800, "train")
          .when(col("bucket") < 900, "validation").otherwise("test"))
      .select(col("doc_id"), col("component").cast("long").as("component"),
        col("split"))
      .orderBy("doc_id")
  }

  val dedupSplitsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_id_a AS a, doc_id_b AS b FROM (
       |$dedupMinhashShingledSql
       |  ) mh),
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |comp AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS component
       |  FROM reach GROUP BY a),
       |docs0 AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
       |wc AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |  FROM docs0 d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |b AS (
       |  SELECT doc_id, component,
       |    ${OracleSql.hash64("CAST(component AS VARCHAR)")} % 1000 AS bucket
       |  FROM wc)
       |SELECT doc_id, CAST(component AS BIGINT) AS component,
       |  CASE WHEN bucket < 800 THEN 'train'
       |       WHEN bucket < 900 THEN 'validation' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  // ---- Span-level cross-doc duplication ---------------------------------------
  // The substring-granular duplication metric (the "dedup at the span
  // level, not the document level" insight of training-data dedup): for
  // every 10-token span (polynomial hash over md5 token hashes — no
  // string re-concat), how much of each document consists of spans that
  // also appear in ANOTHER document. Complements doc_repetition
  // (within-doc) and decontaminate (vs a held-out set): this is the
  // corpus-internal cross-doc boilerplate signal. Two shuffles: the span
  // df count and the per-doc rollup — both partial-aggregated; the span
  // table is linear in corpus tokens.
  private val SpanN = 10

  def dedupSpans(s: SparkSession, dir: String): DataFrame = {
    // cache is the HOF materialization barrier (see dedupNgramJaccard)
    val hashedToks = Tables.documents(s, dir).select(col("doc_id").as("id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hashMod(t)).as("th"))
      .registeredCache()
    // two consumers (the df count and the join side) with different
    // downstream exchanges — cache so the span build runs once
    val spans = hashedToks.select(col("id"),
      explode(array_distinct(TextHash.hashedShingles(col("th"), SpanN)))
        .as("span"))
      .registeredCache()
    val spanDf = spans.groupBy("span")
      .agg(count(lit(1)).cast("long").as("docs"))
    spans.join(spanDf, "span")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(when(col("docs") >= 2, 1L).otherwise(0L)).cast("long")
          .as("shared_spans"))
      .withColumn("dup_fraction",
        col("shared_spans").cast("double") / col("n_spans").cast("double"))
      .orderBy("doc_id")
  }

  val dedupSpansSql: String = {
    val w = SpanN - 1
    s"""WITH ${OracleSql.TokCte},
       |th AS (
       |  SELECT doc_id, list_transform(l, x -> ${OracleSql.hashMod("x")}) AS hs
       |  FROM docs_l WHERE len(l) >= $SpanN),
       |sp AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i:i+$w]),
       |      (a, b) -> (a * 1000003 + b) % $P) AS span
       |  FROM (
       |    SELECT doc_id, hs,
       |      unnest(generate_series(1, len(hs) - $w)) AS i
       |    FROM th) t),
       |c AS (SELECT span, CAST(count(*) AS BIGINT) AS docs FROM sp GROUP BY span)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS shared_spans,
       |  CAST(sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS dup_fraction
       |FROM sp s JOIN c USING (span)
       |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- Persisted signature index (ingest lifecycle) ---------------------------
  // The 100 TB form of incremental near-dup: corpus signatures computed
  // ONCE into persisted tables (build from one half, APPEND the other —
  // exercising the append path), then the arriving batch probes them.
  // Must produce exactly the pairs of the recompute-everything oracle
  // (same corpus/batch subsets as dedup_incremental_near).
  private def ensureSigIndex(s: SparkSession, dir: String): String =
    Fixtures.persisted("graft_sigidx_", dir) { prefix =>
      // the near-dup oracle's EXISTING corpus is the id%10==5 subset —
      // build from one half of it, append the other
      val sets = hashedSets(s, dir)
      SignatureIndex.build(s, sets.filter(col("id") % 20 === 5), prefix,
        NumHashes, RowsPerBand)
      SignatureIndex.append(s, sets.filter(col("id") % 20 === 15), prefix,
        NumHashes, RowsPerBand)
    }

  def dedupIncrementalPersisted(s: SparkSession, dir: String): DataFrame = {
    val prefix = ensureSigIndex(s, dir)
    val batch = hashedSets(s, dir).filter(col("id") % 10 === 0)
    SignatureIndex.probe(s, batch, prefix, NumHashes, RowsPerBand, 0.8)
      .select(col("id_new").as("doc_id_new"),
        col("id_old").as("doc_id_old"), col("jaccard"))
      .orderBy("doc_id_new", "doc_id_old")
  }

  /** Identical answer contract to the recompute-everything variant. */
  val dedupIncrementalPersistedSql: String = dedupIncrementalNearSql

  // ---- Contrastive triplet generation -----------------------------------------
  // Training-pair synthesis for embedding models: each verified near-dup
  // pair becomes (anchor, positive); the negative is drawn
  // DETERMINISTICALLY from the dense doc-id space by hashing the pair key
  // (no RNG — reproducible across engines/runs, and a corpus re-run
  // regenerates identical triplets). Collisions with the pair's own ids
  // bump to the next id (two bumps suffice — only two ids can collide).
  // Narrow over the shared cached pair table + one broadcast count;
  // at 100 TB the negative draw stays a per-row expression (the dense-id
  // assumption holds for any corpus with a stable ordinal index; a
  // non-dense corpus would join against an id-rank table instead).
  def contrastiveTriplets(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(s, dir)
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val h = TextHash.hash64(concat(col("doc_id_a").cast("string"), lit("_"),
      col("doc_id_b").cast("string"), lit("_neg")))
    pairs.crossJoin(broadcast(n))
      .withColumn("n0", h % col("n"))
      .withColumn("n1",
        when(col("n0") === col("doc_id_a") || col("n0") === col("doc_id_b"),
          (col("n0") + 1) % col("n")).otherwise(col("n0")))
      .withColumn("negative",
        when(col("n1") === col("doc_id_a") || col("n1") === col("doc_id_b"),
          (col("n1") + 1) % col("n")).otherwise(col("n1")).cast("long"))
      .select(col("doc_id_a").as("anchor"), col("doc_id_b").as("positive"),
        col("negative"), col("jaccard"))
      .orderBy("anchor", "positive")
  }

  val contrastiveTripletsSql: String = {
    val h = OracleSql.hash64(
      "CAST(doc_id_a AS VARCHAR) || '_' || CAST(doc_id_b AS VARCHAR) || '_neg'")
    s"""WITH mh AS (
       |$dedupMinhashLshSql
       |),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |t0 AS (
       |  SELECT doc_id_a, doc_id_b, jaccard, n, $h % n AS n0
       |  FROM mh CROSS JOIN nn),
       |t1 AS (
       |  SELECT *, CASE WHEN n0 = doc_id_a OR n0 = doc_id_b
       |    THEN (n0 + 1) % n ELSE n0 END AS n1
       |  FROM t0)
       |SELECT doc_id_a AS anchor, doc_id_b AS positive,
       |  CAST(CASE WHEN n1 = doc_id_a OR n1 = doc_id_b
       |    THEN (n1 + 1) % n ELSE n1 END AS BIGINT) AS negative, jaccard
       |FROM t1 ORDER BY anchor, positive""".stripMargin
  }

  // ---- Passage-level dedup with text reconstruction ---------------------------
  // dedup_spans MEASURES cross-doc duplication; this REMOVES it: fixed
  // 16-token passages, global first-occurrence keeps, surviving passages
  // re-joined into the cleaned document. The RefinedWeb/C4-style "excise
  // the boilerplate, keep the novel remainder" step. The keep decision is
  // a partial-aggregating groupBy(min) on the passage hash — skew-safe
  // where a row_number window over the hash partition is not (a passage
  // repeated 1M times would sort in one reducer). See operators/Passages.
  private val PassageN = 16

  def dedupPassages(s: SparkSession, dir: String): DataFrame =
    Passages
      .removeDuplicatePassages(Tables.documents(s, dir), "doc_id", "text", PassageN)
      .select(col("id").as("doc_id"), col("n_chunks"), col("kept_chunks"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  val dedupPassagesSql: String =
    s"""WITH ${OracleSql.TokCte},
       |ch AS (
       |  SELECT doc_id, CAST(ceil(len(l) / $PassageN.0) AS BIGINT) AS n_chunks,
       |    i AS idx, l[i*$PassageN+1 : i*$PassageN+$PassageN] AS ptoks
       |  FROM (
       |    SELECT doc_id, l,
       |      unnest(generate_series(0,
       |        CAST(ceil(len(l) / $PassageN.0) AS BIGINT) - 1)) AS i
       |    FROM docs_l WHERE len(l) > 0) t),
       |h AS (
       |  SELECT doc_id, n_chunks, idx, ptoks,
       |    ${OracleSql.fingerprint("ptoks")} AS h
       |  FROM ch),
       |k AS (
       |  SELECT * FROM (
       |    SELECT *, row_number()
       |      OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
       |    FROM h) t WHERE rn = 1)
       |SELECT doc_id, n_chunks, CAST(count(*) AS BIGINT) AS kept_chunks,
       |  md5(array_to_string(flatten(list(ptoks ORDER BY idx)), ' '))
       |    AS clean_md5
       |FROM k GROUP BY doc_id, n_chunks ORDER BY doc_id""".stripMargin

  // ---- Exact-substring dedup (Lee et al. 2022) --------------------------------
  // The suffix-array method at gram granularity: every MAXIMAL cross-doc
  // exact token repeat >= SubMinLen tokens (ExactSubstrings scaladoc has
  // the run/island equivalence argument and the 100 TB shape). Fully
  // deterministic — integer hashes and positions, no floats anywhere, so
  // the DuckDB oracle reproduces the output bit-for-bit: same rolling
  // polynomial grams (list_reduce over the hashMod slice = hashedShingles'
  // fold), same corpus-derived occurrence cap, same diagonal islands.
  private val SubMinLen = graft.operators.ExactSubstrings.DefaultMinLen

  def dedupSubstrings(s: SparkSession, dir: String): DataFrame =
    graft.operators.ExactSubstrings
      .matches(Tables.documents(s, dir).select(col("doc_id"), col("text")),
        SubMinLen)
      .orderBy("doc_id_a", "doc_id_b", "start_a", "start_b")

  val dedupSubstringsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |hl AS (
       |  SELECT doc_id,
       |    list_transform(l, x -> ${OracleSql.hashMod("x")}) AS hl,
       |    len(l) AS n
       |  FROM docs_l),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT), hl[i : i + ${SubMinLen - 1}]),
       |      (a, b) -> (a * 1000003 + b) % 1000000007) AS g
       |  FROM (
       |    SELECT doc_id, hl,
       |      unnest(generate_series(1, n - ${SubMinLen - 1})) AS i
       |    FROM hl WHERE n >= $SubMinLen)),
       |shared AS (
       |  SELECT g FROM grams GROUP BY g
       |  HAVING count(*) <= (
       |      SELECT greatest(${graft.operators.ExactSubstrings.DfFloor},
       |        (count(*) + 999) // 1000) FROM documents)
       |    AND min(doc_id) <> max(doc_id)),
       |occ AS (SELECT grams.* FROM grams JOIN shared USING (g)),
       |prs AS (
       |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |    a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
       |  FROM occ a JOIN occ b USING (g) WHERE a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT doc_id_a, doc_id_b, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY doc_id_a, doc_id_b, diag
       |      ORDER BY pa) AS run
       |  FROM prs)
       |SELECT doc_id_a, doc_id_b,
       |  CAST(min(pa) AS BIGINT) AS start_a,
       |  CAST(min(pb) AS BIGINT) AS start_b,
       |  CAST(count(*) + ${SubMinLen - 1} AS BIGINT) AS match_len
       |FROM runs GROUP BY doc_id_a, doc_id_b, diag, run
       |ORDER BY doc_id_a, doc_id_b, start_a, start_b""".stripMargin

  // The production twin: per-document maximal duplicated spans (the
  // object a span-remover deletes) — no pair join, so work and output
  // stay LINEAR at any duplication factor where the pair list above is
  // quadratic by definition (ExactSubstrings.duplicatedSpans scaladoc).
  def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.ExactSubstrings
      .duplicatedSpans(Tables.documents(s, dir)
        .select(col("doc_id"), col("text")), SubMinLen)
      .orderBy("doc_id", "span_start")

  val dedupSubstringSpansSql: String =
    s"""WITH ${OracleSql.TokCte},
       |hl AS (
       |  SELECT doc_id,
       |    list_transform(l, x -> ${OracleSql.hashMod("x")}) AS hl,
       |    len(l) AS n
       |  FROM docs_l),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT), hl[i : i + ${SubMinLen - 1}]),
       |      (a, b) -> (a * 1000003 + b) % 1000000007) AS g
       |  FROM (
       |    SELECT doc_id, hl,
       |      unnest(generate_series(1, n - ${SubMinLen - 1})) AS i
       |    FROM hl WHERE n >= $SubMinLen)),
       |shared AS (
       |  SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)),
       |marked AS (SELECT doc_id, pos FROM grams JOIN shared USING (g)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |      > $SubMinLen THEN 1 ELSE 0 END AS brk
       |  FROM marked),
       |runs AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl)
       |SELECT doc_id,
       |  CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + $SubMinLen - min(pos) AS BIGINT) AS span_len
       |FROM runs GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  // ---- PageRank over the near-dup graph ---------------------------------------
  // Components answers "which docs are one duplicate group"; PageRank ranks
  // how CENTRAL each doc is in that graph — template/boilerplate hubs that
  // near-duplicate many documents float to the top. Fixed 10 iterations of
  // the damping-0.85 update in integer micro-rank units (PageRank scaladoc):
  // integer sums are reduction-order-free, so the oracle unrolls the same
  // recurrence as chained CTEs and the result matches bit-for-bit.
  private val PrIterations = 10

  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    // production pair source (shingled) — the unigram graph this used to
    // read is an x100-DNF plan AND a K-clique data shape that makes the
    // all-pairs list itself quadratic (SCALE_r7's adjudication)
    val edges = shingledPairs(s, dir)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    // iteration shuffle width pinned to the graph volume (120k pairs at
    // sf0.1), decoupled from the session's batch-analytics width — the
    // loop pays its stage width x10 (PageRank scaladoc has the A/B)
    graft.operators.PageRank.pagerank(edges, PrIterations, partitions = Some(4))
      .select(col("id").cast("long").as("doc_id"), col("deg"),
        (col("r").cast("double") / lit(1000000.0)).as("rank"))
      .orderBy("doc_id")
  }

  // ---- Triangle counts over the kNN relatedness graph -------------------------
  // Per-node triangle participation — the local-density companion to
  // PageRank's centrality (triangle-rich docs sit in tightly-knit
  // neighborhoods; pairwise-only hubs are stars). Canonical a<b<c
  // enumeration: pairs are least/greatest-normalized, so each triangle
  // matches exactly one (ab ⋈ bc ⋈ ac) path — two hash joins, never a
  // cartesian. Per-node counts explode the three corners and aggregate.
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    // graph input: the corpus-derived kNN relatedness graph, whose degree
    // is <= 2k BY CONSTRUCTION — wedge volume Θ(N·k²), linear in the
    // corpus. NOT the near-dup pair graph: 0.8-jaccard components are
    // replica cliques, so triangle volume there is CUBIC in the
    // duplication factor (x100 probe: the enumeration was pure output
    // cost) — clique triangle counts come combinatorially from
    // dedup_clusters sizes (C(size-1, 2) per member), never enumeration.
    val knn = graft.queries.SimilarityQueries.knnAutoEdges(s, dir)
    val e = knn.select(
        least(col("src_id"), col("nbr_id")).as("a"),
        greatest(col("src_id"), col("nbr_id")).as("b"))
      .distinct()
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ab.a") === col("ac.a") && col("bc.b") === col("ac.b"))
      .select(col("ab.a").as("a"), col("ab.b").as("b"), col("bc.b").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
      .orderBy("doc_id")
  }

  val graphTrianglesSql: String =
    s"""WITH ${graft.queries.SimilarityQueries.knnAutoPairCtes},
       |tri AS (
       |  SELECT ab.a, ab.b, bc.b AS c
       |  FROM pairs ab
       |  JOIN pairs bc ON ab.b = bc.a
       |  JOIN pairs ac ON ac.a = ab.a AND ac.b = bc.b),
       |corners AS (
       |  SELECT unnest([a, b, c]) AS doc_id FROM tri)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM corners GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Multi-source BFS: blast radius over the near-dup graph -----------------
  // How far does contamination spread? Seeds are every 11th doc present
  // in the near-dup graph (id % 11 == 0 — 5 of the 59 graph nodes at
  // sf0.01, so the result exercises real multi-hop spread; the
  // decontaminate convention id % 97 == 0 hits zero graph nodes here);
  // BFS walks the symmetrized pair edges up to 4 hops, reporting each
  // reached doc's exact hop distance. One frontier join per hop,
  // anti-join keeps first discovery (Bfs scaladoc); the oracle unrolls
  // the same rounds with min-dist folding.
  private val BfsMaxHops = 4

  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    // production pair source (shingled), as in pagerank/triangles
    val pairs = shingledPairs(s, dir)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val sym = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b")))
    val seeds = sym.select(col("a").as("id")).distinct()
      .filter(col("id") % 11 === 0)
    graft.operators.Bfs.multiSource(sym, seeds, BfsMaxHops)
      .select(col("id").cast("long").as("doc_id"),
        col("dist").cast("long").as("dist"))
      .orderBy("doc_id")
  }

  val graphBfsSql: String = {
    val rounds = (1 to BfsMaxHops).map { k =>
      s"""d$k AS (
         |  SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT id, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.b AS id, $k AS dist
         |    FROM sym e JOIN d${k - 1} p ON e.a = p.id AND p.dist = ${k - 1}
         |  ) t GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT doc_id_a AS a, doc_id_b AS b FROM (
       |$dedupMinhashShingledSql
       |  ) mh),
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |d0 AS (
       |  SELECT DISTINCT a AS id, CAST(0 AS BIGINT) AS dist FROM sym
       |  WHERE a % 11 = 0),
       |$rounds
       |SELECT id AS doc_id, dist FROM d$BfsMaxHops ORDER BY doc_id""".stripMargin
  }

  val graphPagerankSql: String = {
    val rounds = (1 to PrIterations).map { k =>
      s"""pr$k AS (
         |  SELECT d.id, d.deg,
         |    CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM deg d LEFT JOIN (
         |    SELECT e.b AS id, sum(p.r // p.deg) AS c
         |    FROM sym e JOIN pr${k - 1} p ON e.a = p.id
         |    GROUP BY e.b) s ON d.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT doc_id_a AS a, doc_id_b AS b FROM (
       |$dedupMinhashShingledSql
       |  ) mh),
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a),
       |pr0 AS (SELECT id, deg, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$rounds
       |SELECT id AS doc_id, deg, CAST(r AS DOUBLE) / 1000000.0 AS rank
       |FROM pr$PrIterations ORDER BY doc_id""".stripMargin
  }

  // ---- Embedding-cosine near-dup ----------------------------------------------
  // Candidate-gen + verify, never all-pairs: every vector gets an 8-bit
  // random-hyperplane signature (one narrow pass, Similarity.lshBuckets),
  // split into EmbBands bands of EmbBandBits sign bits. Candidate pairs
  // collide on at least one (band, sig) bucket; only candidates pay the
  // exact double-precision cosine. Candidate volume scales with bucket
  // occupancy (sum of per-bucket C(n,2)), not corpus^2 — at 100 TB you
  // raise EmbBandBits so buckets stay small; more bands buys back recall.
  // Threshold calibrated to the synthetic distribution (max cosine ~0.46);
  // banded recall at 0.35 with 4x2 bits is ~0.85 — deterministic md5
  // planes, so the oracle reproduces the identical candidate set.
  private val EmbPlanes = 8
  private val EmbDim = 64
  private val EmbBands = 4
  private val EmbBandBits = 2

  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame = {
    // NOT cached, though three subtrees consume it: the vectorized parquet
    // decode fuses into each consumer's codegen stage and measures faster
    // than an InMemoryTableScan barrier (re-measured this round)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val bands = graft.operators.Similarity
      .lshBands(s, emb, EmbPlanes, EmbDim, EmbBandBits)
    val cands = bands.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(bands.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(emb.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(emb.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine",
        graft.operators.Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= 0.35)
      .select(col("id_a").as("vec_id_a"), col("id_b").as("vec_id_b"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("vec_id_a", "vec_id_b")
  }

  val dedupEmbeddingCosineSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${OracleSql.planesCte(EmbPlanes, EmbDim)},
       |buckets AS (
       |  SELECT e.id,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, pl.parr) > 0
       |      THEN (CAST(1 AS BIGINT) << CAST(pl.j AS INT)) ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM emb e CROSS JOIN planes pl GROUP BY e.id),
       |bands AS (
       |  SELECT id, band, (bucket >> (CAST(band AS INT) * $EmbBandBits))
       |    % ${1 << EmbBandBits} AS sig
       |  FROM buckets, range($EmbBands) t(band)),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    list_dot_product(ea.v, eb.v) /
       |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine
       |  FROM cands c
       |  JOIN emb ea ON ea.id = c.id_a
       |  JOIN emb eb ON eb.id = c.id_b)
       |SELECT id_a AS vec_id_a, id_b AS vec_id_b, CAST(cosine AS DOUBLE) AS cosine
       |FROM pairs WHERE cosine >= 0.35
       |ORDER BY vec_id_a, vec_id_b""".stripMargin

  // ---- Link prediction over the kNN relatedness graph -------------------------
  // Which non-adjacent items LOOK like they should be related? Common-
  // neighbor candidates come from one self-join of the symmetrized
  // (small, cached) edge table — length-2 paths, canonical a<b, adjacent
  // pairs anti-joined away — scored by Adamic-Adar (1/ln degree of each
  // shared neighbor; every shared neighbor has degree >= 2 by construction,
  // so the log never vanishes). Common neighbors with deg > HubDegreeCap
  // are SKIPPED before the wedge join: a node of degree d fans out d²
  // wedges, so one boilerplate hub at web scale is non-terminating, while
  // its AA weight 1/ln(d) is noise by construction — capping bounds wedge
  // volume per neighbor at HubDegreeCap² and keeps the join cluster-local
  // at 100 TB. All candidates returned in (a, b) order — no score-ordered
  // cut, so float ulps can't flip which rows the oracle sees.
  private val HubDegreeCap = 64

  def graphLinkPrediction(s: SparkSession, dir: String): DataFrame = {
    // graph input: the corpus-derived kNN relatedness graph, undirected
    // and deduped. NOT the near-dup pair graph — 0.8-jaccard near-dup
    // components are transitively-closed cliques at every probed SF, so
    // Adamic-Adar has nothing to predict there; the kNN relation is
    // non-transitive and hub-y, which is the link-prediction shape.
    val knn = graft.queries.SimilarityQueries.knnAutoEdges(s, dir)
    val pairs = knn.select(
        least(col("src_id"), col("nbr_id")).as("a"),
        greatest(col("src_id"), col("nbr_id")).as("b"))
      .distinct()
    val und = pairs.unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("w")).agg(count(lit(1)).as("deg"))
    // edges whose far end is an allowed (non-hub) common neighbor, with the
    // neighbor's degree attached here — no post-wedge deg join needed
    val uw = und.join(deg.filter(col("deg") <= HubDegreeCap),
        col("b") === col("w"))
      .select(col("a").as("u"), col("w"), col("deg"))
    val wv = und.select(col("a").as("w2"), col("b").as("v"))
    uw.join(wv, col("w") === col("w2"))
      .select(col("u").as("a"), col("v").as("b"), col("deg"))
      .filter(col("a") < col("b"))
      .join(pairs.select(col("a").as("ea"), col("b").as("eb")),
        col("a") === col("ea") && col("b") === col("eb"), "left_anti")
      .groupBy(col("a"), col("b"))
      // AA score as an order-free integer-micro sum (the tfidf/importance
      // house grid): per-neighbor round(1e6/ln deg) is one IEEE op both
      // engines compute bit-identically, long addition is exact in any
      // shuffle order — a raw double sum here drifts a ulp per cpu-count
      // change (measured at 8 vs 32 threads)
      .agg(count(lit(1)).cast("long").as("common_cnt"),
        (sum(round(lit(1e6) / log(col("deg").cast("double"))).cast("long"))
          .cast("double") / 1e6).as("score_aa"))
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
        col("common_cnt"), col("score_aa"))
      .orderBy("a", "b")
  }

  val graphLinkPredictionSql: String =
    s"""WITH ${graft.queries.SimilarityQueries.knnAutoPairCtes},
       |und AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
       |deg AS (SELECT a AS w, count(*) AS deg FROM und GROUP BY a),
       |cand AS (
       |  SELECT uw.a AS a, wv.b AS b, d.deg AS deg
       |  FROM und uw
       |  JOIN deg d ON d.w = uw.b AND d.deg <= $HubDegreeCap
       |  JOIN und wv ON uw.b = wv.a
       |  WHERE uw.a < wv.b
       |    AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.a = uw.a AND p.b = wv.b))
       |SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b,
       |  CAST(count(*) AS BIGINT) AS common_cnt,
       |  CAST(sum(CAST(round(1000000.0 / ln(c.deg)) AS BIGINT)) AS DOUBLE)
       |    / 1000000.0 AS score_aa
       |FROM cand c
       |GROUP BY c.a, c.b
       |ORDER BY a, b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_near" -> (dedupIncrementalNear _),
    "dedup_incremental_persisted" -> (dedupIncrementalPersisted _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_minhash_shingled" -> (dedupMinhashShingled _),
    "minhash_eval" -> (minhashEval _),
    "stream_dedup_near" -> (streamDedupNear _),
    "ingest_pipeline" -> (ingestPipeline _),
    "stream_ingest_pipeline" -> (streamIngestPipeline _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_keeper_quality" -> (dedupKeeperQuality _),
    "dedup_splits" -> (dedupSplits _),
    "dedup_spans" -> (dedupSpans _),
    "dedup_passages" -> (dedupPassages _),
    "dedup_substrings" -> (dedupSubstrings _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "contrastive_triplets" -> (contrastiveTriplets _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "graph_bfs" -> (graphBfs _),
    "graph_link_prediction" -> (graphLinkPrediction _))

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_near" -> dedupIncrementalNearSql,
    "dedup_incremental_persisted" -> dedupIncrementalPersistedSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_minhash_shingled" -> dedupMinhashShingledSql,
    "minhash_eval" -> minhashEvalSql,
    "stream_dedup_near" -> dedupMinhashLshSql,
    "ingest_pipeline" -> ingestPipelineSql,
    "stream_ingest_pipeline" -> ingestPipelineSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_keeper_quality" -> dedupKeeperQualitySql,
    "dedup_splits" -> dedupSplitsSql,
    "dedup_spans" -> dedupSpansSql,
    "dedup_passages" -> dedupPassagesSql,
    "dedup_substrings" -> dedupSubstringsSql,
    "dedup_substring_spans" -> dedupSubstringSpansSql,
    "contrastive_triplets" -> contrastiveTripletsSql,
    "graph_pagerank" -> graphPagerankSql,
    "graph_triangles" -> graphTrianglesSql,
    "graph_bfs" -> graphBfsSql,
    "graph_link_prediction" -> graphLinkPredictionSql)
}
