package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheRegistry.RegisteredCache
import graft.Tables
import graft.operators.Similarity

/** Similarity-search inventory over `embeddings` (vec_id, embedding
  * array<float>, label): brute-force cosine top-k (baseline), random-
  * hyperplane LSH top-k (scale path), per-label norm stats.
  */
object SimilarityQueries {

  private val K = 5
  private val NumPlanes = 8
  private val Dim = 64
  private val BandBits = 2
  private val NumBands = NumPlanes / BandBits

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"), col("label"))

  private def probes(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("id") % 50 === 0)

  private val EmbCte =
    """emb AS (
      |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |         label
      |  FROM embeddings),
      |probes AS (SELECT * FROM emb WHERE id % 50 = 0)""".stripMargin

  private val PlanesCte: String = OracleSql.planesCte(NumPlanes, Dim)

  private val CosineSql =
    """list_dot_product(p.v, c.v) /
      |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v)))""".stripMargin

  // ---- Brute-force cosine top-k ----------------------------------------------
  def annBruteForce(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(probes(s, dir), emb(s, dir), K)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")

  val annBruteForceSql: String =
    s"""WITH $EmbCte,
       |scored AS (
       |  SELECT p.id AS probe_id, c.id AS cand_id,
       |    $CosineSql AS cosine
       |  FROM probes p JOIN emb c ON p.id <> c.id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  // ---- Banded-LSH top-k ------------------------------------------------------
  // Candidates collide in at least one of NumBands signature bands
  // (BandBits sign bits each). RecallSpec pins recall@5 vs brute force —
  // the single-table full-signature form measured 0.000 there, which is
  // why banding is the definition, not an option.
  def annLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(s, probes(s, dir), emb(s, dir), K, NumPlanes, Dim,
        BandBits)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")

  /** buckets + per-band signatures, the SQL mirror of Similarity.lshBands. */
  private val BandsCte: String =
    s"""buckets AS (
       |  SELECT e.id,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, pl.parr) > 0
       |      THEN (CAST(1 AS BIGINT) << CAST(pl.j AS INT)) ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM emb e CROSS JOIN planes pl GROUP BY e.id),
       |bands AS (
       |  SELECT id, t.band, (bucket >> (t.band * $BandBits)) % ${1 << BandBits} AS sig
       |  FROM buckets, range($NumBands) t(band))""".stripMargin

  val annLshSql: String = {
    s"""WITH $EmbCte,
       |$PlanesCte,
       |$BandsCte,
       |cands AS (
       |  SELECT DISTINCT pb.id AS probe_id, cb.id AS cand_id
       |  FROM (SELECT b.* FROM bands b JOIN probes p ON b.id = p.id) pb
       |  JOIN bands cb ON pb.band = cb.band AND pb.sig = cb.sig
       |    AND cb.id <> pb.id),
       |scored AS (
       |  SELECT x.probe_id, x.cand_id, $CosineSql AS cosine
       |  FROM cands x JOIN emb p ON p.id = x.probe_id
       |       JOIN emb c ON c.id = x.cand_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin
  }

  // ---- ann_lsh_auto: band geometry sized FROM the corpus count ---------------
  // The SCALE_r7 sizing rule as a query: bits-per-band derives from
  // count(*) so expected bucket occupancy stays near 64 at every SF
  // (sf0.01's 500 vectors get 3-bit bands, sf0.1's 2000 get 5-bit) —
  // the knob that keeps the bucket self-join's per-bucket volume flat as
  // the corpus grows. The count is ONE bounded driver scalar (the
  // prep_pipeline idiom; geometry is plan STRUCTURE, so it must be known
  // before the plan builds — a deployment sizes once, then serves). Both
  // engines derive bits with pure integer arithmetic
  // (autoBandGeometryExact / length(bin(cb-1))): no libm in anything
  // that gates row membership.
  private val GeoCte: String =
    """geo AS (
      |  SELECT CAST(least(15, greatest(2, length(bin(
      |      greatest(CAST(1 AS BIGINT),
      |        CAST(ceil(count(*) / 64.0) AS BIGINT)) - 1)))) AS INT) AS bits
      |  FROM emb)""".stripMargin

  /** PlanesCte/BandsCte with the plane count and band width read from geo
    * (range() takes only constants, so planes enumerate to the 4x16-bit
    * clamp ceiling and filter by the scalar).
    */
  private val AutoPlanesBandsCte: String = {
    val planeHash = OracleSql.hash64(
      "concat(CAST(j AS VARCHAR), '_', CAST(d AS VARCHAR))")
    s"""planes AS (
       |  SELECT j, list(p ORDER BY d) AS parr FROM (
       |    SELECT j, d, ($planeHash % 2001 - 1000) / 1000.0 AS p
       |    FROM range(64) t1(j), range($Dim) t2(d), geo
       |    WHERE j < 4 * geo.bits) comps
       |  GROUP BY j),
       |buckets AS (
       |  SELECT e.id,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, pl.parr) > 0
       |      THEN (CAST(1 AS BIGINT) << CAST(pl.j AS INT)) ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM emb e CROSS JOIN planes pl GROUP BY e.id),
       |bands AS (
       |  SELECT id, t.band,
       |    (bucket >> CAST(t.band * geo.bits AS INT))
       |      % (CAST(1 AS BIGINT) << geo.bits) AS sig
       |  FROM buckets, geo, range(4) t(band))""".stripMargin
  }

  // Query-side multiprobe is mandatory here, not a nicety: auto-sizing
  // holds OCCUPANCY flat by widening bands as N grows, and wider bands
  // collide with p^bits — recall decays unless probes multiply. One
  // weakest-bit flip per band (index untouched) bought sf0.1's 5-bit
  // geometry back from 0.425 to the pinned floor; production stacks more
  // flips/tables the same query-side way.
  def annLshAuto(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (planes, bits) = Similarity.autoBandGeometryExact(e.count())
    Similarity.lshTopKMultiprobe(s, probes(s, dir), e, K, planes, Dim, bits)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")
  }

  val annLshAutoSql: String =
    s"""WITH $EmbCte,
       |$GeoCte,
       |$AutoPlanesBandsCte,
       |pd AS (
       |  SELECT p.id, pl.j, list_dot_product(p.v, pl.parr) AS d
       |  FROM probes p CROSS JOIN planes pl),
       |rstar AS (
       |  SELECT id, band, rbit FROM (
       |    SELECT id, j // geo.bits AS band, j % geo.bits AS rbit,
       |      row_number() OVER (PARTITION BY id, j // geo.bits
       |        ORDER BY abs(d) ASC, j % geo.bits ASC) AS rn
       |    FROM pd, geo) t
       |  WHERE rn = 1),
       |pbands0 AS (
       |  SELECT b.id, b.band, b.sig FROM bands b JOIN probes p ON b.id = p.id),
       |pbands AS (
       |  SELECT id, band, sig FROM pbands0
       |  UNION
       |  SELECT p0.id, p0.band, xor(p0.sig, CAST(1 AS BIGINT) << r.rbit) AS sig
       |  FROM pbands0 p0 JOIN rstar r ON p0.id = r.id AND p0.band = r.band),
       |cands AS (
       |  SELECT DISTINCT pb.id AS probe_id, cb.id AS cand_id
       |  FROM pbands pb JOIN bands cb ON pb.band = cb.band AND pb.sig = cb.sig
       |    AND cb.id <> pb.id),
       |scored AS (
       |  SELECT x.probe_id, x.cand_id, $CosineSql AS cosine
       |  FROM cands x JOIN emb p ON p.id = x.probe_id
       |       JOIN emb c ON c.id = x.cand_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  // ---- kNN graph: every node's k nearest via LSH buckets ---------------------
  // The all-nodes neighbor-graph construction (clustering, agglomerative
  // dedup, label propagation all start here) — distinct from ann_lsh's
  // serving shape, where a small probe set is broadcast against the
  // corpus. Here NOTHING is broadcastable: candidates come from the
  // band-bucket self-join (collision-bounded volume), vectors attach via
  // two shuffle joins keyed on id, and the top-k cut is a per-source
  // window. Every stage shuffles on a key, none on data size² — the
  // plan survives a corpus no single executor can hold.
  /** Neighbor-side bucket occupancy cap. A band-bucket of occupancy n
    * contributes n² candidate pairs to the self-join — fixed band
    * geometry means occupancy (and so pair volume) grows quadratically
    * with the corpus (r7 ScaleProbe measured 15.3x runtime for 10x data,
    * dup-heavy worst case). Capping only the NEIGHBOR side of the join at
    * `BucketNbrCap` hash-selected members per bucket makes per-bucket
    * volume n·cap (linear) while every node still SOURCES pairs from all
    * its buckets — no node is ever isolated by the cap. The cap cannot
    * engage at the oracle gate SF (sf0.01 has 500 vectors total, so no
    * bucket can exceed 512); at larger corpora it bounds the join against
    * both growth and adversarial duplication. Production tuning note:
    * band geometry (NumPlanes/BandBits) should ALSO scale with corpus
    * size — the cap is the safety bound, not the recall knob (SCALE_r7.md).
    */
  private val BucketNbrCap = 512

  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphWith(s, dir, NumPlanes, BandBits)

  /** knn_graph with the band geometry derived from count(*) — the 100x
    * survival path. The fixed 4x2-bit geometry has 16 buckets TOTAL, so
    * occupancy grows linearly with the corpus and the capped self-join's
    * candidate volume approaches BucketNbrCap x bands x N (the x100 probe
    * measured the fixed form spilling ~80 GB at 200k vectors before
    * dying); sizing bits from the count holds occupancy near 64, so
    * candidates stay ~64 x bands x N with the cap disengaged at every SF.
    */
  def knnGraphAuto(s: SparkSession, dir: String): DataFrame = {
    val (planes, bits) =
      Similarity.autoBandGeometryExact(emb(s, dir).count())
    knnGraphWith(s, dir, planes, bits)
  }

  /** The kNN-auto EDGE table, cached once per sweep and shared by every
    * graph consumer (label_propagation, graph_link_prediction,
    * graph_triangles) — the shingledPairs pattern on the vector side.
    * All three build the identical plan, so Spark's cache manager
    * materializes the LSH + re-rank subtree once per JVM sweep instead
    * of once per query (measured ~1.3 s per avoided rebuild at sf0.1).
    */
  private[queries] def knnAutoEdges(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    knnGraphAuto(s, dir).select(col("src_id"), col("nbr_id"))
      .registeredCache()
  }

  private def knnGraphWith(s: SparkSession, dir: String, numPlanes: Int,
                           bandBits: Int): DataFrame = {
    val e = emb(s, dir).select(col("id"), col("v"))
    val bands = Similarity.lshBands(s, e, numPlanes, Dim, bandBits)
    val wcap = Window.partitionBy(col("band"), col("sig"))
      .orderBy(graft.functions.TextHash.hash64(col("id").cast("string")),
        col("id"))
    val nbrSide = bands.withColumn("bi", row_number().over(wcap))
      .filter(col("bi") <= BucketNbrCap)
      .select(col("band"), col("sig"), col("id").as("nbr_id"))
    val cands = bands.select(col("band"), col("sig"), col("id").as("src_id"))
      .join(nbrSide, Seq("band", "sig"))
      .filter(col("src_id") =!= col("nbr_id"))
      .select("src_id", "nbr_id").distinct()
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    cands
      .join(e.select(col("id").as("src_id"), col("v").as("pv")), "src_id")
      .join(e.select(col("id").as("nbr_id"), col("v").as("cv")), "nbr_id")
      .withColumn("cosine", Similarity.cosine(col("pv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("src_id"), col("rank"), col("nbr_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("src_id", "rank")
  }

  /** emb→planes→bands→candidate pairs→scored→ranked: the full kNN-graph
    * CTE chain, shared by knnGraphSql and labelPropagationSql.
    */
  private val KnnCtes: String =
    s"""$EmbCte,
       |$PlanesCte,
       |$BandsCte,
       |nbr_side AS (
       |  SELECT band, sig, id FROM (
       |    SELECT band, sig, id, row_number() OVER (PARTITION BY band, sig
       |      ORDER BY ${OracleSql.hash64("CAST(id AS VARCHAR)")}, id) AS bi
       |    FROM bands) capped
       |  WHERE bi <= $BucketNbrCap),
       |cands AS (
       |  SELECT DISTINCT a.id AS src_id, b.id AS nbr_id
       |  FROM bands a JOIN nbr_side b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id <> b.id),
       |scored AS (
       |  SELECT x.src_id, x.nbr_id, $CosineSql AS cosine
       |  FROM cands x JOIN emb p ON p.id = x.src_id
       |       JOIN emb c ON c.id = x.nbr_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id
       |    ORDER BY cosine DESC, nbr_id ASC) AS BIGINT) AS rank
       |  FROM scored)""".stripMargin

  val knnGraphSql: String =
    s"""WITH $KnnCtes
       |SELECT src_id, rank, nbr_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY src_id, rank""".stripMargin

  /** The auto-geometry kNN-graph CTE chain up to `ranked` — shared by
    * knnGraphAutoSql and labelPropagationSql (whose graph input is the
    * auto form: an internal consumer must never stack on the fixed
    * 16-bucket plan that DNFs at x100).
    */
  private val KnnAutoCtes: String =
    s"""$EmbCte,
       |$GeoCte,
       |$AutoPlanesBandsCte,
       |nbr_side AS (
       |  SELECT band, sig, id FROM (
       |    SELECT band, sig, id, row_number() OVER (PARTITION BY band, sig
       |      ORDER BY ${OracleSql.hash64("CAST(id AS VARCHAR)")}, id) AS bi
       |    FROM bands) capped
       |  WHERE bi <= $BucketNbrCap),
       |cands AS (
       |  SELECT DISTINCT a.id AS src_id, b.id AS nbr_id
       |  FROM bands a JOIN nbr_side b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id <> b.id),
       |scored AS (
       |  SELECT x.src_id, x.nbr_id, $CosineSql AS cosine
       |  FROM cands x JOIN emb p ON p.id = x.src_id
       |       JOIN emb c ON c.id = x.nbr_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id
       |    ORDER BY cosine DESC, nbr_id ASC) AS BIGINT) AS rank
       |  FROM scored)""".stripMargin

  val knnGraphAutoSql: String =
    s"""WITH $KnnAutoCtes
       |SELECT src_id, rank, nbr_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY src_id, rank""".stripMargin

  /** The auto-geometry kNN graph as an UNDIRECTED deduped pair CTE chain
    * (last CTE: `pairs(a, b)`, a < b) — the edge input for consumers that
    * want the relatedness graph rather than ranked neighbour lists
    * (graph_link_prediction reads this: the near-dup pair graph is a
    * union of jaccard-0.8 cliques, transitively closed, so Adamic-Adar
    * has nothing to predict there; the kNN relation is non-transitive
    * and hub-y — the link-prediction shape).
    */
  private[queries] def knnAutoPairCtes: String =
    s"""$KnnAutoCtes,
       |knn AS (SELECT src_id, nbr_id FROM ranked WHERE rank <= $K),
       |pairs AS (
       |  SELECT DISTINCT least(src_id, nbr_id) AS a,
       |    greatest(src_id, nbr_id) AS b
       |  FROM knn)""".stripMargin

  // ---- Label propagation over the kNN graph ----------------------------------
  // Semi-supervised classification the way a curation pipeline labels an
  // unlabeled corpus from a small seeded subset: seeds keep their label,
  // every other node takes the MAJORITY label among its k nearest
  // neighbors' current labels (ties to the smallest label — fully
  // deterministic), for a fixed number of synchronous rounds. Each round
  // is one edge join + one (node, label) count + one per-node argmax
  // window — all keyed shuffles; rounds are a fixed unrolled chain, so
  // the plan is static and AQE-optimizable end to end. Emits which round
  // labeled each node (0 = seed) — the confidence tier a consumer
  // filters on.
  private val LpSeedMod = 5
  private val LpRounds = 2

  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    // every round (and the final 3-way join) re-consumes the edge table;
    // without the cache the whole LSH+re-rank subtree executes per round
    // (measured 4.4 s uncached vs 1.3 s steady-state at sf0.1). Graph
    // input is the AUTO-geometry form — the production path at every SF.
    val edges = knnAutoEdges(s, dir)
    val l0 = emb(s, dir).select(col("id"),
      when(col("id") % LpSeedMod === 0, col("label")).as("lab"))
    def step(cur: DataFrame): DataFrame = {
      val votes = edges
        .join(cur.select(col("id").as("nbr_id"), col("lab").as("nbr_lab")),
          "nbr_id")
        .filter(col("nbr_lab").isNotNull)
        .groupBy(col("src_id"), col("nbr_lab")).agg(count(lit(1)).as("c"))
      val win = Window.partitionBy(col("src_id"))
        .orderBy(col("c").desc, col("nbr_lab").asc)
      val best = votes.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select(col("src_id").as("id"), col("nbr_lab").as("new_lab"))
      cur.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("lab"), col("new_lab")).as("lab"))
    }
    val rounds = Iterator.iterate(l0)(step).take(LpRounds + 1).toSeq
    val joined = rounds.zipWithIndex.map { case (df, i) =>
      df.select(col("id"), col("lab").as(s"lab$i"))
    }.reduce(_.join(_, "id"))
    joined
      .filter(col(s"lab$LpRounds").isNotNull)
      .select(col("id"),
        col(s"lab$LpRounds").cast("int").as("label"),
        (0 to LpRounds).foldRight(lit(null).cast("long")) { (i, acc) =>
          when(col(s"lab$i").isNotNull, lit(i.toLong)).otherwise(acc)
        }.as("round"))
      .orderBy("id")
  }

  val labelPropagationSql: String =
    s"""WITH $KnnAutoCtes,
       |knn AS (SELECT src_id, nbr_id FROM ranked WHERE rank <= $K),
       |l0 AS (
       |  SELECT id, CASE WHEN id % $LpSeedMod = 0 THEN label END AS lab
       |  FROM emb),
       |v1 AS (
       |  SELECT e.src_id, l.lab, count(*) AS c
       |  FROM knn e JOIN l0 l ON l.id = e.nbr_id
       |  WHERE l.lab IS NOT NULL GROUP BY 1, 2),
       |b1 AS (
       |  SELECT src_id AS id, lab FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src_id
       |      ORDER BY c DESC, lab ASC) AS rn FROM v1) WHERE rn = 1),
       |l1 AS (
       |  SELECT l0.id, coalesce(l0.lab, b1.lab) AS lab
       |  FROM l0 LEFT JOIN b1 ON b1.id = l0.id),
       |v2 AS (
       |  SELECT e.src_id, l.lab, count(*) AS c
       |  FROM knn e JOIN l1 l ON l.id = e.nbr_id
       |  WHERE l.lab IS NOT NULL GROUP BY 1, 2),
       |b2 AS (
       |  SELECT src_id AS id, lab FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src_id
       |      ORDER BY c DESC, lab ASC) AS rn FROM v2) WHERE rn = 1),
       |l2 AS (
       |  SELECT l1.id, coalesce(l1.lab, b2.lab) AS lab
       |  FROM l1 LEFT JOIN b2 ON b2.id = l1.id)
       |SELECT l2.id, CAST(l2.lab AS INT) AS label,
       |  CAST(CASE WHEN l0.lab IS NOT NULL THEN 0
       |       WHEN l1.lab IS NOT NULL THEN 1
       |       ELSE 2 END AS BIGINT) AS round
       |FROM l2 JOIN l1 ON l1.id = l2.id JOIN l0 ON l0.id = l2.id
       |WHERE l2.lab IS NOT NULL
       |ORDER BY l2.id""".stripMargin

  // ---- Vector-index drift report ---------------------------------------------
  // The "when to retrain the quantizer" maintenance signal that pairs with
  // the frozen-quantizer append path: per centroid, the member count under
  // the CURRENT assignment and the distance the centroid would move if one
  // more Lloyd step ran. Large drifts on heavy lists mean the stored
  // quantizer has diverged from the corpus and a rebuild is due — the
  // vector twin of the text index's compaction trigger. Both centroid
  // tables are 1e-6-grid means and the distance uses three sequential dots
  // (d^2 = <p,p> - 2<p,x> + <x,x>, clamped at 0 for float fuzz), so the
  // report is bit-stable cross-engine.
  def vectorIndexDrift(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val prev = ivfCentroids(s, dir)
      .select(col("id").as("cent_id"), col("v").as("cv0"))
    val next = Similarity.lloydStep(e, prev, Dim)
      .select(col("cent_id"), col("cv0").as("cv1"))
    val members = Similarity.ivfAssign(e, prev
        .select(col("cent_id").as("id"), col("cv0").as("v")))
      .groupBy(col("cent_id")).agg(count(lit(1)).cast("long").as("n_members"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.plans.VectorExprs.dot(a, b)
    // all three sides are <= NList (64) rows BY CONFIG at any corpus
    // scale — broadcast explicitly (r7 PlanAudit caught these riding a
    // sort-merge join: the cached/aggregated subtrees hide their true
    // size from the planner)
    prev.join(broadcast(next), "cent_id")
      .join(broadcast(members), Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        sqrt(greatest(
          dot(col("cv0"), col("cv0")) - lit(2.0) * dot(col("cv0"), col("cv1"))
            + dot(col("cv1"), col("cv1")), lit(0.0)))
          .cast("double").as("drift"))
      .orderBy("cent_id")
  }

  /** lazy: this section sits above the IVF constant declarations, and an
    * eager val would capture NList/IvfIters as their pre-init zeros
    * (Scala object vals initialize top-to-bottom).
    */
  lazy val vectorIndexDriftSql: String = {
    val h = OracleSql.hash64("CAST(id AS VARCHAR)")
    val next = IvfIters + 1
    s"""WITH $EmbCte,
       |cents0 AS (SELECT id AS cent_id, v AS cv0 FROM emb
       |  ORDER BY $h, id LIMIT $NList),
       |${ivfIterCtes(next)},
       |members AS (
       |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_members
       |  FROM asg$next GROUP BY cent_id)
       |SELECT p.cent_id,
       |  COALESCE(m.n_members, 0) AS n_members,
       |  CAST(sqrt(greatest(
       |    list_dot_product(p.cv0, p.cv0)
       |      - 2*list_dot_product(p.cv0, x.cv0)
       |      + list_dot_product(x.cv0, x.cv0), 0.0)) AS DOUBLE) AS drift
       |FROM cents$IvfIters p
       |JOIN cents$next x USING (cent_id)
       |LEFT JOIN members m USING (cent_id)
       |ORDER BY p.cent_id""".stripMargin
  }

  // ---- Multi-probe banded LSH ------------------------------------------------
  // The query-time recall knob (Lv et al. 2007): each probe also checks
  // every band's signature with its least-confident sign bit flipped (the
  // plane with the smallest |dot| — the one a near neighbor most likely
  // sits across). The corpus index is UNTOUCHED; candidates at most
  // double. RecallSpec pins multiprobe >= plain banded recall.
  def annLshMultiprobe(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopKMultiprobe(s, probes(s, dir), emb(s, dir), K,
        NumPlanes, Dim, BandBits)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")

  val annLshMultiprobeSql: String =
    s"""WITH $EmbCte,
       |$PlanesCte,
       |$BandsCte,
       |pd AS (
       |  SELECT p.id, pl.j, list_dot_product(p.v, pl.parr) AS d
       |  FROM probes p CROSS JOIN planes pl),
       |rstar AS (
       |  SELECT id, band, rbit FROM (
       |    SELECT id, j // $BandBits AS band, j % $BandBits AS rbit,
       |      row_number() OVER (PARTITION BY id, j // $BandBits
       |        ORDER BY abs(d) ASC, j % $BandBits ASC) AS rn
       |    FROM pd) t
       |  WHERE rn = 1),
       |pbands0 AS (
       |  SELECT b.id, b.band, b.sig FROM bands b JOIN probes p ON b.id = p.id),
       |pbands AS (
       |  SELECT id, band, sig FROM pbands0
       |  UNION
       |  SELECT p0.id, p0.band, xor(p0.sig, CAST(1 AS BIGINT) << r.rbit) AS sig
       |  FROM pbands0 p0 JOIN rstar r ON p0.id = r.id AND p0.band = r.band),
       |cands AS (
       |  SELECT DISTINCT pb.id AS probe_id, cb.id AS cand_id
       |  FROM pbands pb JOIN bands cb ON pb.band = cb.band AND pb.sig = cb.sig
       |    AND cb.id <> pb.id),
       |scored AS (
       |  SELECT x.probe_id, x.cand_id, $CosineSql AS cosine
       |  FROM cands x JOIN emb p ON p.id = x.probe_id
       |       JOIN emb c ON c.id = x.cand_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  // ---- IVF-bucketed top-k ----------------------------------------------------
  // nprobe=8 of 64 lists: each probe scans ~1/8 of the corpus. The
  // synthetic embeddings are near-uniform (max cosine ~0.46), the
  // adversarial case for coarse quantization; Lloyd refinement of the
  // seed centroids (IvfIters below) buys back recall without changing
  // the bounded-broadcast plan shape. RecallSpec pins the floor.
  private val NProbe = 8

  /** Fixed centroid count, independent of corpus size: the ivfAssign
    * broadcast stays NList vectors no matter how large the corpus grows
    * (a corpus-proportional centroid set would blow the broadcast at scale).
    */
  private val NList = 64

  /** Lloyd (k-means) refinement rounds applied to the seed centroids —
    * fixed iteration count, deterministic end to end: the seed is the
    * NList hash-smallest ids (a uniform sample both engines reproduce),
    * assignment ties break on cent_id, and every mean component is rounded to
    * the 1e-6 grid so the float-sum-order drift between Spark's partial
    * aggregation and DuckDB's scan-order avg can never flip a later
    * assignment (a component would have to sit within ~1 ulp of a grid
    * boundary). Empty clusters keep their previous centroid.
    */
  private val IvfIters = 2

  /** Refined centroids (Similarity.trainCentroids — hash-ordered seed +
    * IvfIters Lloyd rounds), computed once per (JVM, sfDir) and pinned as
    * a local relation — centroid TRAINING is the amortized build step of
    * an IVF index (exactly like the persisted bm25 index build); serving
    * queries broadcast the NList·Dim constant table. The collect is
    * bounded at NList rows regardless of corpus size.
    */
  private val centroidCache = new graft.Memo[Seq[(Long, Seq[Double])]]

  private def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    ivfCentroidsN(s, dir, NList)

  /** Same memoized training, parameterized list count (semantic_dedup_auto
    * sizes nlist from the corpus; the collect stays bounded by the caller's
    * clamp). Cache key carries nlist so fixed- and auto-geometry queries
    * never serve each other's centroids.
    */
  private def ivfCentroidsN(s: SparkSession, dir: String,
                            nlist: Int): DataFrame = {
    import s.implicits._
    centroidCache(s"$dir#$nlist")(
      Similarity.trainCentroids(emb(s, dir), nlist, IvfIters, Dim))
      .toDF("id", "v")
  }

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    Similarity.ivfTopK(probes(s, dir), emb(s, dir), ivfCentroids(s, dir),
        K, NProbe)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")
  }

  /** The Lloyd chain mirrored as DuckDB CTEs: asg_k (argmax assignment),
    * m_k (per-centroid rounded element-wise mean), cents_k (coalesce over
    * empty clusters).
    */
  private def ivfIterCtes(iters: Int, src: String = "emb"): String =
    (1 to iters).map { k =>
      val prev = s"cents${k - 1}"
      val avgList = (1 to Dim).map(i => s"round(avg(v[$i]), 6)")
        .mkString("[", ", ", "]")
      s"""asg$k AS (
         |  SELECT id, v, cent_id FROM (
         |    SELECT e.id, e.v, c.cent_id,
         |      row_number() OVER (PARTITION BY e.id ORDER BY
         |        list_dot_product(e.v, c.cv0) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
         |        DESC, c.cent_id ASC) AS cr
         |    FROM $src e, $prev c) t
         |  WHERE cr = 1),
         |m$k AS (
         |  SELECT cent_id, $avgList AS mv FROM asg$k GROUP BY cent_id),
         |cents$k AS (
         |  SELECT c.cent_id, coalesce(m.mv, c.cv0) AS cv0
         |  FROM $prev c LEFT JOIN m$k m USING (cent_id))""".stripMargin
    }.mkString(",\n")

  val annIvfSql: String =
    s"""WITH $EmbCte,
       |cents0 AS (SELECT id AS cent_id, v AS cv0 FROM emb
       |  ORDER BY ${OracleSql.hash64("CAST(id AS VARCHAR)")}, id LIMIT $NList),
       |${ivfIterCtes(IvfIters)},
       |cents AS (SELECT cent_id, cv0 FROM cents$IvfIters),
       |assigned AS (
       |  SELECT id AS cand_id, v AS cv, cent_id FROM (
       |    SELECT e.id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        list_dot_product(e.v, c.cv0) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |        DESC, c.cent_id ASC) AS cr
       |    FROM emb e, cents c) t
       |  WHERE cr = 1),
       |probe_cents AS (
       |  SELECT probe_id, pv, cent_id FROM (
       |    SELECT p.id AS probe_id, p.v AS pv, c.cent_id,
       |      row_number() OVER (PARTITION BY p.id ORDER BY
       |        list_dot_product(p.v, c.cv0) /
       |          (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |        DESC, c.cent_id ASC) AS pr
       |    FROM probes p, cents c) t
       |  WHERE pr <= $NProbe),
       |scored AS (
       |  SELECT pc.probe_id, a.cand_id,
       |    list_dot_product(pc.pv, a.cv) /
       |      (sqrt(list_dot_product(pc.pv, pc.pv)) * sqrt(list_dot_product(a.cv, a.cv))) AS cosine
       |  FROM probe_cents pc JOIN assigned a ON pc.cent_id = a.cent_id
       |  WHERE pc.probe_id <> a.cand_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  /** Int8 quantization of `v` into `qv` (values stored as doubles: the
    * coarse dot runs through the codegen'd DoubleArrayDot, exact for
    * integer values — |sum| <= 64*127^2 << 2^52, no float drift vs an int
    * fold). floor(x/maxabs*127 + 0.5) is exact integer arithmetic both
    * engines reproduce bit-for-bit. All-zero vectors (maxabs = 0) quantize
    * to zero — without the guard the division yields NaN components whose
    * ordering differs between engines.
    */
  private def int8Quantized(df: DataFrame): DataFrame =
    df.withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv", transform(col("v"),
        x => when(col("maxabs") === 0, lit(0.0))
          .otherwise(floor(x / col("maxabs") * 127 + 0.5)).cast("double")))

  /** The DuckDB mirror of int8Quantized's qv expression; `q` qualifies the
    * v/maxabs column references (e.g. "qm.").
    */
  private def qvSql(q: String = ""): String =
    s"list_transform(${q}v, x -> CASE WHEN ${q}maxabs = 0 THEN 0.0 " +
      s"ELSE floor(x / ${q}maxabs * 127 + 0.5) END)"

  // ---- Quantized ANN BASELINE: int8 vectors for the coarse pass, exact
  //      double cosine re-rank of the shortlist.
  //
  //      LABELED BASELINE, like ann_brute_force: the coarse pass scans
  //      every (probe, corpus) pair BY INTENT — it isolates what
  //      quantization alone buys (1 byte/dim scan bandwidth instead of 4,
  //      full precision only on candidates) and serves as the recall
  //      yardstick for the bucketed form. It is NOT the serving shape at
  //      scale: ann_lsh_quantized is the same coarse+re-rank composition
  //      with candidate-gen by bucket collision instead of a full scan.
  def annQuantized(s: SparkSession, dir: String): DataFrame = {
    val shortlist = QShortlist
    val q = int8Quantized(emb(s, dir))
    val probes = q.filter(col("id") % 50 === 0)
      .select(col("id").as("probe_id"), col("v").as("pv"), col("qv").as("pqv"))
    val cands = q.select(col("id").as("cand_id"), col("v").as("cv"), col("qv").as("cqv"))
    val qdot = graft.plans.VectorExprs.dot(col("pqv"), col("cqv")).cast("long")
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
      .orderBy(col("qscore").desc, col("cand_id").asc)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    broadcast(probes).join(cands, col("probe_id") =!= col("cand_id"))
      .withColumn("qscore", qdot)
      .withColumn("qrank", row_number().over(cw))
      .filter(col("qrank") <= shortlist)          // coarse int8 shortlist
      .withColumn("cosine", Similarity.cosine(col("pv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)                   // exact re-rank
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")
  }

  /** Shortlist size mirrored in the oracle. */
  private val QShortlist = 20

  // ---- Composed scale path: LSH bucket -> int8 coarse -> exact re-rank -------
  // The shape a 100-TB ANN serving pass actually takes: candidate-gen by
  // bucket collision (narrow signature compute + hash join, no full scan),
  // a cheap quantized dot to shortlist within the bucket, and full-precision
  // cosine only for shortlist-sized sets. Every stage is deterministic
  // (md5 planes + floor quantization), so the whole composition is
  // hash-checked against DuckDB.
  def annLshQuantized(s: SparkSession, dir: String): DataFrame = {
    val q = int8Quantized(emb(s, dir)).registeredCache()
    val cands = Similarity.bandCollisions(s,
      q.filter(col("id") % 50 === 0), q, NumPlanes, Dim, BandBits)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
      .orderBy(col("qscore").desc, col("cand_id").asc)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    cands
      .join(broadcast(q.filter(col("id") % 50 === 0)
        .select(col("id").as("probe_id"), col("v").as("pv"),
          col("qv").as("pqv"))), "probe_id")
      .join(q.select(col("id").as("cand_id"), col("v").as("cv"),
        col("qv").as("cqv")), "cand_id")
      .withColumn("qscore",
        graft.plans.VectorExprs.dot(col("pqv"), col("cqv")).cast("long"))
      .withColumn("qrank", row_number().over(cw))
      .filter(col("qrank") <= QShortlist)
      .withColumn("cosine", Similarity.cosine(col("pv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")
  }

  val annLshQuantizedSql: String =
    s"""WITH $EmbCte,
       |$PlanesCte,
       |$BandsCte,
       |bcands AS (
       |  SELECT DISTINCT pb.id AS probe_id, cb.id AS cand_id
       |  FROM (SELECT b.* FROM bands b JOIN probes p ON b.id = p.id) pb
       |  JOIN bands cb ON pb.band = cb.band AND pb.sig = cb.sig
       |    AND cb.id <> pb.id),
       |qm AS (
       |  SELECT id, v,
       |    list_aggregate(list_transform(v, y -> abs(y)), 'max') AS maxabs
       |  FROM emb),
       |qq AS (
       |  SELECT qm.id, qm.v,
       |    ${qvSql("qm.")} AS qv
       |  FROM qm),
       |cand AS (
       |  SELECT x.probe_id, p.v AS pv, x.cand_id, c.v AS cv,
       |    CAST(list_dot_product(p.qv, c.qv) AS BIGINT) AS qscore
       |  FROM bcands x JOIN qq p ON p.id = x.probe_id
       |       JOIN qq c ON c.id = x.cand_id),
       |short AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY qscore DESC, cand_id ASC) AS qrank
       |    FROM cand) t
       |  WHERE qrank <= $QShortlist),
       |ranked AS (
       |  SELECT probe_id, cand_id,
       |    list_dot_product(pv, cv) /
       |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY list_dot_product(pv, cv) /
       |        (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv)))
       |        DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM short)
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  // ---- IVF-PQ: coarse lists + product-quantized ADC + exact re-rank ----------
  // The FAISS IVF-PQ serving shape: IVF lists gate candidates (nprobe/NList
  // of the corpus), a product quantizer scores them by table lookup instead
  // of full-precision dots (Pq scaladoc — 4 subspaces x 16 codes here, ~2
  // bytes of scan payload per candidate instead of 256), and only the
  // ADC shortlist pays the exact cosine. Codebooks are Lloyd-refined from
  // the hash-ordered seed and mirrored in the oracle as CTEs; ADC sums
  // integer micro-units, so the shortlist boundary is bit-stable across
  // engines.
  private val PqM = 4
  private val PqSubDim = Dim / PqM
  private val PqKs = 16

  /** ADC shortlist depth — deeper than the full-precision paths'
    * QShortlist because 4x16 codebooks on near-uniform vectors rank
    * coarsely: recall@5 measured 0.42 at depth 20, 0.60 at depth 40
    * (exact-scored IVF reaches 0.64 — the PQ path keeps 94% of its
    * candidate generator's recall). Re-rank cost stays bounded at
    * PqShortlist exact cosines per probe.
    */
  private val PqShortlist = 40

  private val pqCache = new graft.Memo[Seq[graft.operators.Pq.Code]]

  private def pqCodes(s: SparkSession, dir: String): Seq[graft.operators.Pq.Code] =
    pqCache(dir)(graft.operators.Pq.train(
      emb(s, dir).select(col("id"), col("v")), PqM, PqSubDim, PqKs))

  /** Centroids and codebooks trained on the id % 2 == 0 half of the
    * corpus, once per (JVM, dir): the quantizers the appended, streamed,
    * compacted and merged lifecycles build from, and the stale ones the
    * retrain lifecycle starts with.
    */
  private val halfQuantizerCache =
    new graft.Memo[(Seq[(Long, Seq[Double])], Seq[graft.operators.Pq.Code])]

  private def halfQuantizers(s: SparkSession, dir: String)
      : (DataFrame, Seq[graft.operators.Pq.Code]) = {
    import s.implicits._
    val (cents, codes) = halfQuantizerCache(dir) {
      val half = emb(s, dir).filter(col("id") % 2 === 0)
      (Similarity.trainCentroids(half, NList, IvfIters, Dim),
        graft.operators.Pq.train(half.select(col("id"), col("v")),
          PqM, PqSubDim, PqKs))
    }
    (cents.toDF("id", "v"), codes)
  }

  /** The standard probes served from a persisted vector index, in the
    * oracle's shape.
    */
  private def servePersisted(s: SparkSession, dir: String,
                             prefix: String): DataFrame =
    graft.operators.VectorIndex.searchPrebuilt(s, prefix, probes(s, dir), K,
        NProbe, PqShortlist)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")

  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = pqCodes(s, dir)
    val cents = ivfCentroids(s, dir)
    val e = emb(s, dir)
    // cached: the assigned+encoded corpus IS the in-memory index (the
    // persisted twin materializes exactly this as the _vectors table);
    // repeat queries pay the assignment+encode once
    val assigned = Similarity.ivfAssign(e, cents)
      .select(col("id").as("cand_id"), col("v").as("cv"), col("cent_id"))
      .withColumn("codes",
        graft.operators.Pq.encodeCol(col("cv"), codes, PqM, PqSubDim))
      .registeredCache()
    val c = cents.select(col("id").as("cent_id"), col("v").as("cv0"))
    val pw = Window.partitionBy(col("probe_id"))
      .orderBy(col("psim").desc, col("cent_id").asc)
    val probeCents = probes(s, dir)
      .select(col("id").as("probe_id"), col("v").as("pv"))
      .crossJoin(broadcast(c))
      .withColumn("psim", Similarity.cosine(col("pv"), col("cv0")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= NProbe)
      .select(col("probe_id"), col("pv"),
        graft.operators.Pq.lutCol(col("pv"), codes, PqM, PqSubDim).as("lut"),
        col("cent_id"))
    val cw = Window.partitionBy(col("probe_id"))
      .orderBy(col("qscore").desc, col("cand_id").asc)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    broadcast(probeCents).join(assigned, Seq("cent_id"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("qscore",
        graft.operators.Pq.adcScore(col("lut"), col("codes"), PqM))
      .withColumn("qrank", row_number().over(cw))
      .filter(col("qrank") <= PqShortlist)
      .withColumn("cosine", Similarity.cosine(col("pv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("probe_id", "rank")
  }

  // ---- IVF-PQ over the PERSISTED vector index --------------------------------
  // The same serving math as ann_ivf_pq, but from the stored layout
  // (VectorIndex: centroids + codebooks + cent_id-partitioned encoded
  // vectors — the on-disk inverted-file form). Built once per (JVM, dir)
  // like the text-index variants; results are bit-identical to the
  // in-memory plan, so the oracle is shared.
  private def ensureVectorIndex(s: SparkSession, dir: String): String =
    Fixtures.persisted("graft_vecidx_", dir) { prefix =>
      graft.operators.VectorIndex.build(s, emb(s, dir), prefix,
        ivfCentroids(s, dir), pqCodes(s, dir), PqM, PqSubDim)
    }

  def annIvfPqPrebuilt(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, ensureVectorIndex(s, dir))

  /** Cross-family composition hooks (hybrid retrieval serves its vector
    * arm from this family's persisted IVF-PQ index): the built index's
    * prefix and the family's serving parameters.
    */
  private[queries] def persistedVectorIndexPrefix(s: SparkSession,
                                                  dir: String): String =
    ensureVectorIndex(s, dir)

  private[queries] def ivfNProbe: Int = NProbe
  private[queries] def ivfShortlist: Int = PqShortlist

  /** The IVF-PQ `ranked` CTE chain restricted to probe id 0 — the oracle
    * counterpart of [[persistedIvfPqTopK]] for the hybrid-retrieval SQL.
    */
  private[queries] def ivfPqProbeZeroCtes: String =
    annIvfPqRankedCtes("emb",
      probeSrc = "(SELECT * FROM probes WHERE id = 0)")

  /** The same chain restricted to a literal probe-id set — the oracle
    * counterpart of the batch serving forms (hybrid_rrf_batch_prebuilt /
    * mmr_rerank_batch_prebuilt). Ids must be multiples of 50 (the shared
    * `probes` CTE's membership rule).
    */
  private[queries] def ivfPqProbeSetCtes(ids: Seq[Long]): String =
    annIvfPqRankedCtes("emb",
      probeSrc = s"(SELECT * FROM probes WHERE id IN (${ids.mkString(", ")}))")

  /** The same chain over an ARBITRARY probe subquery (any SELECT yielding
    * emb-shaped rows) — the oracle counterpart of the bulk serving form,
    * whose probe set is a TABLE rather than a literal id list.
    */
  private[queries] def ivfPqProbeSrcCtes(probeSrc: String): String =
    annIvfPqRankedCtes("emb", probeSrc = probeSrc)

  // ---- MMR-diversified rerank (Carbonell & Goldstein, SIGIR'98) --------------
  // The diversity pass a retrieval stack runs AFTER candidate generation:
  // a shortlist of the MmrN nearest candidates to probe id 0, then greedy
  // maximal-marginal-relevance selection of MmrK — each pick maximizes
  // lambda*relevance - beta*(max cosine to anything already picked), so a
  // redundant near-duplicate of an earlier pick loses to a fresh-angle
  // candidate even at lower raw relevance. Two forms, one per candidate
  // generator: the brute-force baseline (oracle-stable, linear scan) and
  // the serving twin over the persisted IVF-PQ index (DPP-pruned probed
  // lists, ADC shortlist, exact-cosine rerank — the hybrid_rrf_prebuilt
  // pattern). The greedy tail itself is corpus-independent: O(k*n)
  // cosines over n = MmrN rows, whatever the corpus size.
  //
  // Oracle: the same greedy loop as a DuckDB RECURSIVE CTE — each
  // recursive step picks its argmax via ORDER BY ... LIMIT 1 over the
  // not-yet-chosen candidates (chosen carried as a list column). Both
  // engines compare raw doubles built from identical sequential dot
  // products with cand_id tiebreak, so the picks are deterministic.
  private val MmrN = 20
  private val MmrK = 10
  private val MmrLambda = 0.7
  // literal, NOT computed as 1 - MmrLambda: 1.0 - 0.7 is
  // 0.30000000000000004 in IEEE and the oracle writes the literal 0.3
  private val MmrBeta = 0.3

  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("id"), col("v"))
    val cands = Similarity
      .bruteForceTopK(e.filter(col("id") === 0), e, MmrN)
      .select(col("cand_id"), col("cosine").as("rel"))
      .join(e.select(col("id").as("cand_id"), col("v")), "cand_id")
    Similarity.mmrRerank(cands, MmrLambda, MmrBeta, MmrK).orderBy("rank")
  }

  def mmrRerankPrebuilt(s: SparkSession, dir: String): DataFrame = {
    val prefix = ensureVectorIndex(s, dir)
    // probe served from the index's bucket-pruned forward store (point
    // fetch by id), candidate vectors carried through searchPrebuilt's
    // exact-rerank stage (withVector) — the whole query touches the
    // probed lists plus one forward bucket, never the corpus
    val probe = s.table(s"${prefix}_forward")
      .filter(col("id") === 0L).select(col("id"), col("v"))
    val cands = graft.operators.VectorIndex
      .searchPrebuilt(s, prefix, probe, MmrN, NProbe, PqShortlist,
        withVector = true)
      .select(col("cand_id"), col("cosine").as("rel"), col("v"))
    Similarity.mmrRerank(cands, MmrLambda, MmrBeta, MmrK).orderBy("rank")
  }

  /** The batch serving form: one DPP-pruned candidate pass for the whole
    * probe SET (VectorIndex.searchPrebuilt is natively multi-probe; the
    * probe vectors come from the literal-id bucket-pruned forward fetch),
    * then one greedy MMR tail PER probe, run in parallel across executors
    * (Similarity.mmrRerankBatch). Cost ∝ probes, never the corpus — the
    * request-batch generalization the text side's
    * bm25_batch_search_prebuilt established.
    */
  private[queries] val MmrBatchIds = Seq(0L, 50L, 100L)

  def mmrRerankBatchPrebuilt(s: SparkSession, dir: String): DataFrame = {
    val prefix = ensureVectorIndex(s, dir)
    val probes = s.table(s"${prefix}_forward")
      .filter(col("id").isin(MmrBatchIds: _*)).select(col("id"), col("v"))
    val cands = graft.operators.VectorIndex
      .searchPrebuilt(s, prefix, probes, MmrN, NProbe, PqShortlist,
        withVector = true)
      .select(col("probe_id"), col("cand_id"), col("cosine").as("rel"),
        col("v"))
    Similarity.mmrRerankBatch(cands, MmrLambda, MmrBeta, MmrK)
      .orderBy("probe_id", "rank")
  }

  /** Greedy MMR selection over a `cand(id, v, rel)` CTE, shared by both
    * oracle forms. Requires WITH RECURSIVE on the enclosing chain.
    */
  private def mmrSelCtes: String =
    s"""pair AS (
       |  SELECT a.id AS a, b.id AS b,
       |    list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
       |  FROM cand a JOIN cand b ON a.id <> b.id),
       |sel AS (
       |  (SELECT CAST(1 AS BIGINT) AS rank, id, rel, $MmrLambda * rel AS mmr,
       |     [id] AS chosen
       |   FROM cand ORDER BY rel DESC, id LIMIT 1)
       |  UNION ALL
       |  (SELECT s.rank + 1, n.id, n.rel, n.mmr, list_append(s.chosen, n.id)
       |   FROM sel s, LATERAL (
       |     SELECT c.id, c.rel,
       |       $MmrLambda * c.rel - $MmrBeta * (SELECT max(p.sim) FROM pair p
       |         WHERE p.a = c.id AND list_contains(s.chosen, p.b)) AS mmr
       |     FROM cand c WHERE NOT list_contains(s.chosen, c.id)
       |     ORDER BY mmr DESC, c.id LIMIT 1) n
       |   WHERE s.rank < $MmrK))""".stripMargin

  private val mmrSelFinal: String =
    """SELECT rank, id AS doc_id, CAST(rel AS DOUBLE) AS relevance,
      |  CAST(mmr AS DOUBLE) AS mmr
      |FROM sel ORDER BY rank""".stripMargin

  val mmrRerankSql: String =
    s"""WITH RECURSIVE $EmbCte,
       |scored AS (
       |  SELECT c.id, c.v, $CosineSql AS rel
       |  FROM (SELECT * FROM emb WHERE id = 0) p
       |  JOIN emb c ON c.id <> p.id),
       |cand AS (SELECT * FROM scored ORDER BY rel DESC, id LIMIT $MmrN),
       |$mmrSelCtes
       |$mmrSelFinal""".stripMargin

  val mmrRerankPrebuiltSql: String =
    s"""WITH RECURSIVE $ivfPqProbeZeroCtes,
       |cand AS (
       |  SELECT r.cand_id AS id, e.v, r.cosine AS rel
       |  FROM ranked r JOIN emb e ON e.id = r.cand_id
       |  WHERE r.rank <= $MmrN),
       |$mmrSelCtes
       |$mmrSelFinal""".stripMargin

  /** [[mmrSelCtes]] with every CTE carrying probe_id: the recursion's
    * UNION ALL advances each probe's chain independently (one seed row
    * per probe, each recursive step LATERAL-picks that probe's next
    * argmax over its own not-yet-chosen candidates).
    */
  private def mmrSelBatchCtes: String =
    s"""pair AS (
       |  SELECT a.probe_id, a.id AS a, b.id AS b,
       |    list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
       |  FROM cand a JOIN cand b ON a.probe_id = b.probe_id AND a.id <> b.id),
       |sel AS (
       |  (SELECT probe_id, CAST(1 AS BIGINT) AS rank, id, rel,
       |     $MmrLambda * rel AS mmr, [id] AS chosen
       |   FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |           ORDER BY rel DESC, id) AS rn
       |         FROM cand) t
       |   WHERE rn = 1)
       |  UNION ALL
       |  (SELECT s.probe_id, s.rank + 1, n.id, n.rel, n.mmr,
       |     list_append(s.chosen, n.id)
       |   FROM sel s, LATERAL (
       |     SELECT c.id, c.rel,
       |       $MmrLambda * c.rel - $MmrBeta * (SELECT max(p.sim) FROM pair p
       |         WHERE p.probe_id = s.probe_id AND p.a = c.id
       |           AND list_contains(s.chosen, p.b)) AS mmr
       |     FROM cand c
       |     WHERE c.probe_id = s.probe_id AND NOT list_contains(s.chosen, c.id)
       |     ORDER BY mmr DESC, c.id LIMIT 1) n
       |   WHERE s.rank < $MmrK))""".stripMargin

  val mmrRerankBatchPrebuiltSql: String =
    s"""WITH RECURSIVE ${ivfPqProbeSetCtes(MmrBatchIds)},
       |cand AS (
       |  SELECT r.probe_id, r.cand_id AS id, e.v, r.cosine AS rel
       |  FROM ranked r JOIN emb e ON e.id = r.cand_id
       |  WHERE r.rank <= $MmrN),
       |$mmrSelBatchCtes
       |SELECT probe_id, rank, id AS doc_id, CAST(rel AS DOUBLE) AS relevance,
       |  CAST(mmr AS DOUBLE) AS mmr
       |FROM sel ORDER BY probe_id, rank""".stripMargin

  // ---- Vector-index DELETE lifecycle -----------------------------------------
  // Build the full persisted index, then FORGET every id % 7 == 0
  // (VectorIndex.delete — anti-join rewrite of only the touched coarse
  // lists). Serving must rank over exactly the surviving vectors with the
  // ORIGINAL quantizers (a delete never retrains); the oracle keeps
  // training on the full corpus and restricts candidates to the kept set.
  private val VecDelMod = 7
  def annIvfPqDeleted(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, Fixtures.persisted("graft_vecidxd_", dir) { prefix =>
      graft.operators.VectorIndex.build(s, emb(s, dir), prefix,
        ivfCentroids(s, dir), pqCodes(s, dir), PqM, PqSubDim)
      graft.operators.VectorIndex.delete(s,
        emb(s, dir).filter(col("id") % VecDelMod === 0).select(col("id")),
        prefix)
    })

  // ---- Vector-index APPEND lifecycle -----------------------------------------
  // Build the persisted index from half the corpus, append the other half
  // encoded with the FROZEN centroids/codebooks (VectorIndex.append — the
  // standard IVF-PQ growth path), then serve the full corpus. The oracle
  // trains on the built half and encodes everything, so the appended index
  // must be indistinguishable from that split — the vector twin of
  // index_append_persisted.
  /** Build from the id % 2 == 0 half with [[halfQuantizers]]. */
  private def buildHalf(s: SparkSession, dir: String, prefix: String): Unit = {
    val (cents, codes) = halfQuantizers(s, dir)
    graft.operators.VectorIndex.build(s, emb(s, dir).filter(col("id") % 2 === 0),
      prefix, cents, codes, PqM, PqSubDim)
  }

  def annIvfPqAppended(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, Fixtures.persisted("graft_vecidxa_", dir) { prefix =>
      buildHalf(s, dir, prefix)
      graft.operators.VectorIndex.append(s,
        emb(s, dir).filter(col("id") % 2 =!= 0), prefix)
    })

  // ---- STREAMING vector ingest: the arriving half grows the index live -------
  // Build the persisted index from half the corpus, then STREAM the other
  // half one micro-batch per staged file, each batch encoded with the
  // frozen quantizers and appended by the streaming engine (foreachBatch →
  // VectorIndex.append — the vector twin of stream_index_ingest). Append
  // order is immaterial (per-row assignment with frozen quantizers), so
  // serving the result hash-matches the SAME oracle as ann_ivf_pq_appended.
  /** The id % 2 == 1 half staged as three stream source files. */
  private def stagedOddHalf(s: SparkSession, dir: String): String =
    graft.streaming.DocStreams.stagedEmbSplits(
      emb(s, dir).filter(col("id") % 2 =!= 0).select(col("id"), col("v")),
      nFiles = 3)

  def streamVectorIngest(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, Fixtures.persisted("graft_vecidxs_", dir) { prefix =>
      buildHalf(s, dir, prefix)
      // maintenance policy ON at the production threshold (no-op for 3
      // staged files; StreamingSpec drives it past the threshold)
      graft.streaming.DocStreams.vectorIngestAppend(s, stagedOddHalf(s, dir),
        prefix, maxFilesPerUnit = Some(8))
    })

  // ---- Vector ingest stream + drift-triggered RETRAIN POLICY -----------------
  // The automation half of the maintenance loop (r11 wired compaction into
  // the streams; this wires retrain): the same build-half / stream-half
  // ingest, with the policy set to check at the final batch and fire
  // unconditionally (threshold 0 — the deterministic setting; the
  // drift-SIGNAL behavior is pinned by StreamingSpec's drifted fixture,
  // which needs a distribution shift sf-corpus data doesn't have). A
  // policy retrain re-Lloyds from the forward store, which then holds the
  // FULL corpus — so the served result must hash-match the from-scratch
  // build oracle (annIvfPqSql trains on all of emb), exactly like
  // vindex_retrained. Pins end-to-end: stream appends grow the forward
  // store correctly, the in-stream policy fires through the snapshot
  // fence and the maintenance lease, and retrain-in-stream equals
  // build-fresh.
  def streamVectorIngestRetrain(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, Fixtures.persisted("graft_vecidxsr_", dir) { prefix =>
      buildHalf(s, dir, prefix)
      val fired = graft.streaming.DocStreams.vectorIngestAppend(s,
        stagedOddHalf(s, dir), prefix, maxFilesPerUnit = None,
        retrainPolicy = Some(graft.streaming.DocStreams.RetrainPolicy(
          everyNBatches = 3, skewThreshold = 0.0, iters = IvfIters)))
        .retrains
      if (fired != 1)
        sys.error(s"retrain policy fired $fired times, fixture expects " +
          "exactly 1 (at the final micro-batch)")
    })

  // ---- Vector-index COMPACTION lifecycle --------------------------------------
  // Build from half the corpus, append the other half in TWO batches
  // (each append adds one file per touched coarse list and forward
  // bucket — the continuous-ingest growth VectorIndex.append documents),
  // then COMPACT both stores down to one file per unit. Serving must be
  // byte-identical to the uncompacted appended index — the oracle is the
  // append lifecycle's SQL (train on the built half, encode everything).
  // Completes the vector-index lifecycle: build / append / delete /
  // snapshot / rollback / compact — the text index's full operation set.
  def annIvfPqCompacted(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, Fixtures.persisted("graft_vecidxc_", dir) { prefix =>
      val e = emb(s, dir)
      buildHalf(s, dir, prefix)
      graft.operators.VectorIndex.append(s, e.filter(col("id") % 4 === 1),
        prefix)
      graft.operators.VectorIndex.append(s, e.filter(col("id") % 4 === 3),
        prefix)
      if (!graft.operators.VectorIndex.compact(s, prefix,
          maxFilesPerUnit = 1))
        sys.error("vector compaction unexpectedly skipped " +
          "(files under threshold)")
    })

  // ---- Vector-index MERGE lifecycle -------------------------------------------
  // Distributed index construction, the text index's indexMerged on the
  // vector store: each half of the corpus indexed independently (its own
  // quantizers, as it would be where the data lives), then merged —
  // `out` adopts shard A's quantizers, A's lists copy byte-compatible,
  // B's vectors re-encode from its raw forward store. The result must be
  // indistinguishable from build(A) + append(B), so the oracle is the
  // append lifecycle's SQL (train on A's half, encode everything).
  def annIvfPqMerged(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, Fixtures.persisted("graft_vecidxm_", dir) { prefix =>
      buildHalf(s, dir, s"${prefix}_sa")
      // shard B trains its OWN quantizers — discarded by the merge,
      // exactly the production situation (the surviving shard's
      // geometry wins)
      graft.operators.VectorIndex.trainAndBuild(s,
        emb(s, dir).filter(col("id") % 2 =!= 0), s"${prefix}_sb",
        nlist = NList, iters = IvfIters, pqM = PqM, pqKs = PqKs)
      graft.operators.VectorIndex.merge(s, s"${prefix}_sa",
        s"${prefix}_sb", prefix)
    })

  // ---- Vector-index RETRAIN lifecycle -----------------------------------------
  // The drift remedy: build the full corpus under STALE quantizers (trained
  // on the id%2==0 half — exactly the state continuous ingest leaves, the
  // appended lifecycle's oracle would match it), then RETRAIN from the
  // forward store. The retrained index must be indistinguishable from a
  // from-scratch build over today's corpus, so the oracle is the standard
  // full-training IVF-PQ SQL (annIvfPqSql) — the retrain visibly MOVES the
  // index from the appended oracle's answer to this one. RecallSpec pins
  // the recall recovery on a drifted fixture; the fuzzer mixes retrain
  // into random op sequences.
  def annIvfPqRetrained(s: SparkSession, dir: String): DataFrame =
    servePersisted(s, dir, Fixtures.persisted("graft_vecidxr_", dir) { prefix =>
      val (staleCents, staleCodes) = halfQuantizers(s, dir)
      graft.operators.VectorIndex.build(s, emb(s, dir), prefix, staleCents,
        staleCodes, PqM, PqSubDim)
      graft.operators.VectorIndex.retrain(s, prefix, iters = IvfIters)
    })

  // ---- Vector-index DESCRIBE ---------------------------------------------------
  // The maintainer's one-row report over the standard persisted index:
  // corpus size, list count, occupancy skew (max/p50/p99), forward-store
  // row count (must equal n_vectors). Oracle re-derives the occupancy
  // distribution from the shared assignment CTEs; quantile_cont matches
  // the engine's range-partitioned exact quantiles by construction.
  def vindexStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.VectorIndex.describe(s, ensureVectorIndex(s, dir))

  val vindexStatsSql: String =
    s"""WITH ${annIvfPqRankedCtes("emb")},
       |occ AS (
       |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n
       |  FROM assigned GROUP BY cent_id),
       |base AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
       |    CAST(count(*) AS BIGINT) AS n_lists,
       |    CAST(max(n) AS BIGINT) AS max_occ,
       |    CAST(quantile_cont(CAST(n AS DOUBLE), 0.5) AS DOUBLE) AS p50_occ,
       |    CAST(quantile_cont(CAST(n AS DOUBLE), 0.99) AS DOUBLE) AS p99_occ
       |  FROM occ),
       |fwd AS (SELECT CAST(count(*) AS BIGINT) AS n_forward FROM emb)
       |SELECT base.n_vectors, base.n_lists, fwd.n_forward, base.max_occ,
       |  base.p50_occ, base.p99_occ,
       |  CAST(base.max_occ AS DOUBLE) * CAST(base.n_lists AS DOUBLE)
       |    / CAST(base.n_vectors AS DOUBLE) AS occ_skew
       |FROM base, fwd""".stripMargin

  val annIvfPqSql: String = annIvfPqSqlOver("emb")

  /** The append lifecycle's oracle: train on the built half (id % 2 = 0),
    * encode and serve the full corpus — what the persisted index contains
    * after build(half) + append(other half) with frozen quantizers.
    */
  val annIvfPqAppendedSql: String = annIvfPqSqlOver("embh")

  /** The delete lifecycle's oracle: quantizers from the FULL corpus (a
    * delete never retrains), candidates restricted to the kept vectors.
    */
  val annIvfPqDeletedSql: String =
    annIvfPqSqlOver("emb", candWhere = Some(s"NOT (id % $VecDelMod = 0)"))

  /** The IVF-PQ oracle body parameterized by the TRAINING relation:
    * centroid seed + Lloyd rounds + PQ codebook seed/means all derive from
    * `trainSrc`, while assignment, encoding and serving always run over
    * the full `emb` — exactly the split the persisted index's append path
    * creates (train on the built half, encode everything).
    */
  /** @param trainSrc CTE the quantizers train on (frozen-quantizer
    *   variants train on a subset or a pre-delete corpus)
    * @param candWhere optional candidate filter — rows failing it are NOT
    *   in the index (the delete lifecycle), though still train the
    *   quantizers and may still probe
    */
  /** The IVF-PQ serving math as a reusable CTE chain ending in `ranked`
    * (probe_id, cand_id, cosine, rank) — the final SELECT stays with the
    * callers so the hybrid-retrieval oracle can fuse `ranked` with the
    * BM25 arm instead of duplicating ~90 lines of quantizer SQL.
    * @param probeSrc relation (or parenthesized subquery) providing the
    *                 probe set; defaults to the shared `probes` CTE.
    */
  private[queries] def annIvfPqRankedCtes(trainSrc: String,
                                          candWhere: Option[String] = None,
                                          probeSrc: String = "probes"): String = {
    val h = OracleSql.hash64("CAST(id AS VARCHAR)")
    val avgList = (1 to PqSubDim).map(i => s"round(avg(sub[$i]), 6)")
      .mkString("[", ", ", "]")
    val candSrc = candWhere.fold("emb")(_ => "kept")
    val candCte = candWhere.fold("")(w =>
      s"\nkept AS (SELECT * FROM emb WHERE $w),")
    val trainCte =
      if (trainSrc == "emb") ""
      else s"\n|$trainSrc AS (SELECT * FROM emb WHERE id % 2 = 0),".stripMargin
    s"""$EmbCte,$trainCte$candCte
       |cents0 AS (SELECT id AS cent_id, v AS cv0 FROM $trainSrc
       |  ORDER BY $h, id LIMIT $NList),
       |${ivfIterCtes(IvfIters, trainSrc)},
       |cents AS (SELECT cent_id, cv0 FROM cents$IvfIters),
       |assigned AS (
       |  SELECT id AS cand_id, v AS cv, cent_id FROM (
       |    SELECT e.id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        list_dot_product(e.v, c.cv0) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |        DESC, c.cent_id ASC) AS cr
       |    FROM $candSrc e, cents c) t
       |  WHERE cr = 1),
       |probe_cents AS (
       |  SELECT probe_id, pv, cent_id FROM (
       |    SELECT p.id AS probe_id, p.v AS pv, c.cent_id,
       |      row_number() OVER (PARTITION BY p.id ORDER BY
       |        list_dot_product(p.v, c.cv0) /
       |          (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |        DESC, c.cent_id ASC) AS pr
       |    FROM $probeSrc p, cents c) t
       |  WHERE pr <= $NProbe),
       |seedpq AS (
       |  SELECT row_number() OVER (ORDER BY $h, id) - 1 AS k, v
       |  FROM $trainSrc ORDER BY $h, id LIMIT $PqKs),
       |codespq0 AS (
       |  SELECT t.m, s.k, s.v[(t.m*$PqSubDim+1):(t.m*$PqSubDim+$PqSubDim)] AS carr
       |  FROM seedpq s, range($PqM) t(m)),
       |subs_t AS (
       |  SELECT e.id, t.m, e.v[(t.m*$PqSubDim+1):(t.m*$PqSubDim+$PqSubDim)] AS sub
       |  FROM $trainSrc e, range($PqM) t(m)),
       |subs AS (
       |  SELECT e.id, t.m, e.v[(t.m*$PqSubDim+1):(t.m*$PqSubDim+$PqSubDim)] AS sub
       |  FROM $candSrc e, range($PqM) t(m)),
       |pqasg AS (
       |  SELECT m, k, sub FROM (
       |    SELECT s.m, c.k, s.sub,
       |      row_number() OVER (PARTITION BY s.id, s.m ORDER BY
       |        list_dot_product(c.carr, c.carr) - 2*list_dot_product(s.sub, c.carr)
       |        ASC, c.k ASC) AS rn
       |    FROM subs_t s JOIN codespq0 c ON s.m = c.m) t
       |  WHERE rn = 1),
       |pqmeans AS (
       |  SELECT m, k, $avgList AS mcarr FROM pqasg GROUP BY m, k),
       |codespq AS (
       |  SELECT c.m, c.k, coalesce(p.mcarr, c.carr) AS carr
       |  FROM codespq0 c LEFT JOIN pqmeans p ON c.m = p.m AND c.k = p.k),
       |ccodes AS (
       |  SELECT id, m, k FROM (
       |    SELECT s.id, s.m, c.k,
       |      row_number() OVER (PARTITION BY s.id, s.m ORDER BY
       |        list_dot_product(c.carr, c.carr) - 2*list_dot_product(s.sub, c.carr)
       |        ASC, c.k ASC) AS rn
       |    FROM subs s JOIN codespq c ON s.m = c.m) t
       |  WHERE rn = 1),
       |plut AS (
       |  SELECT p.id AS probe_id, c.m, c.k,
       |    CAST(round(list_dot_product(
       |      p.v[(c.m*$PqSubDim+1):(c.m*$PqSubDim+$PqSubDim)], c.carr)
       |      * 1000000) AS BIGINT) AS micro
       |  FROM $probeSrc p CROSS JOIN codespq c),
       |qsc AS (
       |  SELECT pc.probe_id, a.cand_id, CAST(sum(l.micro) AS BIGINT) AS qscore
       |  FROM probe_cents pc
       |  JOIN assigned a ON pc.cent_id = a.cent_id AND pc.probe_id <> a.cand_id
       |  JOIN ccodes cc ON cc.id = a.cand_id
       |  JOIN plut l ON l.probe_id = pc.probe_id AND l.m = cc.m AND l.k = cc.k
       |  GROUP BY pc.probe_id, a.cand_id),
       |short AS (
       |  SELECT probe_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY qscore DESC, cand_id ASC) AS qrank
       |    FROM qsc) t
       |  WHERE qrank <= $PqShortlist),
       |ranked AS (
       |  SELECT x.probe_id, x.cand_id,
       |    list_dot_product(p.v, c.v) /
       |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY x.probe_id
       |      ORDER BY list_dot_product(p.v, c.v) /
       |        (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v)))
       |        DESC, x.cand_id ASC) AS BIGINT) AS rank
       |  FROM short x JOIN emb p ON p.id = x.probe_id
       |       JOIN emb c ON c.id = x.cand_id)""".stripMargin
  }

  private def annIvfPqSqlOver(trainSrc: String,
                              candWhere: Option[String] = None): String =
    s"""WITH ${annIvfPqRankedCtes(trainSrc, candWhere)}
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  val annQuantizedSql: String =
    s"""WITH $EmbCte,
       |qm AS (
       |  SELECT id, v,
       |    list_aggregate(list_transform(v, y -> abs(y)), 'max') AS maxabs
       |  FROM emb),
       |q AS (
       |  SELECT id, v,
       |    ${qvSql()} AS qv
       |  FROM qm),
       |qprobes AS (SELECT * FROM q WHERE id % 50 = 0),
       |cand AS (
       |  SELECT p.id AS probe_id, p.v AS pv, c.id AS cand_id, c.v AS cv,
       |    CAST(list_dot_product(p.qv, c.qv) AS BIGINT) AS qscore
       |  FROM qprobes p JOIN q c ON p.id <> c.id),
       |short AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY qscore DESC, cand_id ASC) AS qrank
       |    FROM cand) t
       |  WHERE qrank <= $QShortlist),
       |ranked AS (
       |  SELECT probe_id, cand_id,
       |    list_dot_product(pv, cv) /
       |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY list_dot_product(pv, cv) /
       |        (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv)))
       |        DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM short)
       |SELECT probe_id, rank, cand_id, CAST(cosine AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  // ---- Deterministic random projection ---------------------------------------
  // Every vector projected onto the 8 md5-derived hyperplanes the LSH
  // family already defines — dimensionality reduction for visualization /
  // coarse indexing with NO trained components and NO RNG: the planes are
  // pure hash arithmetic, so any engine (and any rerun) produces the
  // identical 8-d sketch. Entirely narrow; coordinates on the 1e-6 grid.
  private val NProj = 8

  def embeddingProject(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(
      col("id") +: (0 until NProj).map(j =>
        round(graft.plans.VectorExprs.dot(col("v"),
          Similarity.planeArray(j, Dim)), 6).cast("double").as(s"p$j")): _*)
      .orderBy("id")

  val embeddingProjectSql: String = {
    val cols = (0 until NProj).map(j =>
      s"""  CAST(round(list_dot_product(v,
         |    (SELECT parr FROM planes WHERE j = $j)), 6) AS DOUBLE) AS p$j""".stripMargin)
      .mkString(",\n")
    s"""WITH $EmbCte,
       |${OracleSql.planesCte(NProj, Dim)}
       |SELECT id,
       |$cols
       |FROM emb
       |ORDER BY id""".stripMargin
  }

  // ---- Per-label embedding norm stats ----------------------------------------
  def embeddingNorms(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("norm", sqrt(graft.plans.VectorExprs.dot(col("v"), col("v"))))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n"),
        avg(col("norm")).cast("double").as("avg_norm"),
        min(col("norm")).cast("double").as("min_norm"),
        max(col("norm")).cast("double").as("max_norm"))
      .orderBy("label")

  val embeddingNormsSql: String =
    s"""WITH $EmbCte,
       |norms AS (SELECT label, sqrt(list_dot_product(v, v)) AS norm FROM emb)
       |SELECT label, CAST(count(*) AS BIGINT) AS n,
       |  CAST(avg(norm) AS DOUBLE) AS avg_norm,
       |  CAST(min(norm) AS DOUBLE) AS min_norm,
       |  CAST(max(norm) AS DOUBLE) AS max_norm
       |FROM norms GROUP BY label ORDER BY label""".stripMargin

  // ---- Embedding covariance matrix (the PCA prep pass) -----------------------
  // The d×d second-moment matrix in ONE corpus pass: each row explodes its
  // upper-triangle outer product (d(d+1)/2 structs, built by in-row array
  // arithmetic — no self-join of the exploded component table, which
  // would shuffle n·d rows against n·d rows), and hash aggregation with
  // map-side combine collapses the explosion to d(d+1)/2 rows PER
  // PARTITION before any exchange. Per-row products are quantized to
  // integer micros, so the moment sums are reduction-order-free; the
  // centered covariance forms from exact integer sums with one fixed
  // expression both engines evaluate identically. Mean vector (d rows)
  // broadcasts back twice for the centering terms. At 100 TB the shuffle
  // is d² rows per partition regardless of n — the classic distributed
  // PCA first step (eigendecomposition of the 64×64 result is a driver
  // triviality, out of engine scope).
  def embeddingCovariance(s: SparkSession, dir: String): DataFrame = {
    // Map-side gram accumulation (the MLlib computeCovariance shape, and
    // the sanctioned mapPartitions case: genuinely imperative per-partition
    // state). The first cut exploded d(d+1)/2 = 2080 structs per row —
    // 4.2M rows through a shuffle at sf0.1, 6 s of Generate/shuffle
    // overhead for 4.2M multiplies of actual work. Here each partition
    // folds its rows into ONE long[2080] upper-triangle accumulator (plus
    // per-dimension sums and a count), so the shuffle carries
    // numPartitions × d² longs — independent of corpus size. rnd()
    // replicates Spark round's HALF_UP on our magnitudes (ties away from
    // zero; see scaladoc) so the per-element sums stay bit-identical to
    // the exploded formulation the DuckDB oracle mirrors.
    import s.implicits._
    val d = Dim
    val tri = d * (d + 1) / 2
    // HALF_UP at |x| <= ~4e6: (x+0.5) truncated toward zero for x>=0 and
    // mirrored for x<0 equals BigDecimal HALF_UP everywhere except exact
    // binary .5 ties (where both round away from zero) — and the add is
    // exact at micro scale, far below 2^52.
    def rnd(x: Double): Long =
      if (x >= 0) (x + 0.5).toLong else (x - 0.5).toLong
    val parts = emb(s, dir).select(col("v").cast("array<double>"))
      .as[Seq[Double]]
      .mapPartitions { it =>
        val acc = new Array[Long](tri)
        val sums = new Array[Long](d)
        var n = 0L
        it.foreach { sv =>
          val v = sv.toArray
          var k = 0
          var i = 0
          while (i < d) {
            sums(i) += rnd(v(i) * 1000000.0)
            var j = i
            while (j < d) {
              acc(k) += rnd(v(i) * v(j) * 1000000.0)
              k += 1
              j += 1
            }
            i += 1
          }
          n += 1
        }
        if (n == 0L) Iterator.empty
        else Iterator((n, acc.toSeq, sums.toSeq))
      }
      .toDF("pn", "tri_acc", "dim_sums")
      .registeredCache()
    // merge the <= numPartitions partials distributively (no driver path)
    val kmap = broadcast(s.createDataFrame(
      for (i <- 0 until d; j <- i until d)
        yield (i * (2 * d - i + 1) / 2 + (j - i), i, j)).toDF("k", "i", "j"))
    val sxy = parts
      .select(col("pn"), posexplode(col("tri_acc")).as(Seq("k", "xy")))
      .groupBy("k")
      .agg(sum(col("xy")).as("s_xy_micro"), sum(col("pn")).cast("long").as("n"))
      .join(kmap, "k")
    val means = parts
      .select(posexplode(col("dim_sums")).as(Seq("pos", "ps")))
      .groupBy("pos").agg(sum(col("ps")).as("s"))
    sxy
      .join(broadcast(means.select(col("pos").as("i"), col("s").as("si"))), "i")
      .join(broadcast(means.select(col("pos").as("j"), col("s").as("sj"))), "j")
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        col("s_xy_micro"),
        (col("s_xy_micro").cast("double") / lit(1000000.0) /
          col("n").cast("double") -
          (col("si").cast("double") / lit(1000000.0) / col("n").cast("double")) *
          (col("sj").cast("double") / lit(1000000.0) / col("n").cast("double")))
          .as("cov"))
      .orderBy("i", "j")
  }

  val embeddingCovarianceSql: String =
    s"""WITH $EmbCte,
       |x AS (
       |  SELECT id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS xv
       |  FROM emb),
       |sxy AS (
       |  SELECT a.i AS i, b.i AS j,
       |    sum(CAST(round(a.xv * b.xv * 1000000.0) AS BIGINT)) AS s_xy_micro,
       |    count(*) AS n
       |  FROM x a JOIN x b ON a.id = b.id AND a.i <= b.i
       |  GROUP BY a.i, b.i),
       |sx AS (
       |  SELECT i, sum(CAST(round(xv * 1000000.0) AS BIGINT)) AS s
       |  FROM x GROUP BY i)
       |SELECT CAST(sxy.i AS INTEGER) AS i, CAST(sxy.j AS INTEGER) AS j,
       |  CAST(sxy.s_xy_micro AS BIGINT) AS s_xy_micro,
       |  CAST(sxy.s_xy_micro AS DOUBLE) / 1000000.0 / CAST(sxy.n AS DOUBLE)
       |    - (CAST(si.s AS DOUBLE) / 1000000.0 / CAST(sxy.n AS DOUBLE))
       |    * (CAST(sj.s AS DOUBLE) / 1000000.0 / CAST(sxy.n AS DOUBLE)) AS cov
       |FROM sxy JOIN sx si ON sxy.i = si.i JOIN sx sj ON sxy.j = sj.i
       |ORDER BY i, j""".stripMargin

  // ---- K-means cluster profiles ----------------------------------------------
  // The IVF centroid training exposed as a first-class clustering result:
  // every vector assigned to its Lloyd-refined centroid (ivfAssign — ONE
  // source of truth for argmax tie-breaks), profiled per cluster. The
  // member→centroid cosine is re-computed via one broadcast join against
  // the NList-row centroid table and quantized to integer micro-units
  // before aggregation, so count/avg/min/max are all reduction-order-free
  // (the avg is an exact integer sum divided once at the end).
  def embeddingClusters(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfCentroids(s, dir)
    val assigned = Similarity.ivfAssign(emb(s, dir), cents)
    assigned
      .join(broadcast(cents.select(col("id").as("cent_id"), col("v").as("cv"))),
        "cent_id")
      .withColumn("cm",
        round(Similarity.cosine(col("v"), col("cv")) * lit(1000000.0))
          .cast("long"))
      .groupBy("cent_id")
      .agg(count(lit(1)).cast("long").as("n_members"),
        sum(col("cm")).as("sum_micro"),
        min(col("cm")).as("min_micro"), max(col("cm")).as("max_micro"))
      .select(col("cent_id"), col("n_members"),
        (col("sum_micro").cast("double") / lit(1000000.0) /
          col("n_members").cast("double")).as("avg_cos"),
        (col("min_micro").cast("double") / lit(1000000.0)).as("min_cos"),
        (col("max_micro").cast("double") / lit(1000000.0)).as("max_cos"))
      .orderBy("cent_id")
  }

  val embeddingClustersSql: String =
    s"""WITH $EmbCte,
       |cents0 AS (SELECT id AS cent_id, v AS cv0 FROM emb
       |  ORDER BY ${OracleSql.hash64("CAST(id AS VARCHAR)")}, id LIMIT $NList),
       |${ivfIterCtes(IvfIters)},
       |cents AS (SELECT cent_id, cv0 FROM cents$IvfIters),
       |assigned AS (
       |  SELECT id, v, cent_id FROM (
       |    SELECT e.id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        list_dot_product(e.v, c.cv0) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |        DESC, c.cent_id ASC) AS cr
       |    FROM emb e, cents c) t
       |  WHERE cr = 1),
       |m AS (
       |  SELECT a.cent_id,
       |    CAST(round(list_dot_product(a.v, c.cv0) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |      * 1000000.0) AS BIGINT) AS cm
       |  FROM assigned a JOIN cents c USING (cent_id))
       |SELECT cent_id, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(CAST(sum(cm) AS BIGINT) AS DOUBLE) / 1000000.0
       |    / CAST(count(*) AS DOUBLE) AS avg_cos,
       |  CAST(min(cm) AS DOUBLE) / 1000000.0 AS min_cos,
       |  CAST(max(cm) AS DOUBLE) / 1000000.0 AS max_cos
       |FROM m GROUP BY cent_id ORDER BY cent_id""".stripMargin

  // ---- SemDeDup-style semantic dedup -------------------------------------------
  // Within-cluster pairwise pruning (Abbas et al. 2023, "SemDeDup"): every
  // vector is assigned to its Lloyd-refined centroid, pairs are formed ONLY
  // inside a cluster, and a vector is removed when a lower-id cluster-mate
  // sits above the cosine threshold (first-occurrence keeps, same
  // convention as the text dedup family). Output is the removal manifest:
  // (vec_id, cent_id, dup_of, cosine-to-keeper).
  //
  // Scale shape vs dedup_embedding_cosine (LSH buckets): the quadratic
  // term is bounded by cluster occupancy, sum of per-cluster C(n,2). NList
  // is fixed here for the bounded broadcast; at corpus scale NList grows
  // ~sqrt(N) (SemDeDup uses ~sqrt) so both the centroid broadcast and the
  // within-cluster blowup stay sublinear. Near-identical vectors share an
  // argmax centroid almost surely, which is what the recall spec pins.
  private val SemThreshold = 0.35

  /** Multi-probe width: each vector is posted to its 2 nearest centroids,
    * and a pair is a candidate when the lists intersect. Single-assignment
    * measured 0.43 strong-pair recall on the near-uniform synthetic
    * vectors (cluster boundaries split moderate-cosine neighbors);
    * multi-probe is the standard recall knob and keeps the quadratic term
    * cluster-occupancy-bounded.
    */
  private val SemNProbe = 2

  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val asg = Similarity.ivfAssignN(e, ivfCentroids(s, dir), SemNProbe)
      .select(col("id"), col("cent_id"))
    // candidate ids first, vectors joined after the distinct — a pair
    // meeting in both shared lists must not pay two cosines
    val cands = asg.select(col("cent_id"), col("id").as("id_a"))
      .join(asg.select(col("cent_id"), col("id").as("id_b")), Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val pairs = cands
      .join(e.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= SemThreshold)
    // keeper = the smallest qualifying lower id; min(struct) partial-aggregates,
    // so a vector duplicated across a huge cluster combines map-side
    pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min(struct(col("id_a"), col("cosine"))).as("f"))
      .select(col("vec_id"), col("f.id_a").as("dup_of"),
        col("f.cosine").cast("double").as("cosine"))
      .orderBy("vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH $EmbCte,
       |cents0 AS (SELECT id AS cent_id, v AS cv0 FROM emb
       |  ORDER BY ${OracleSql.hash64("CAST(id AS VARCHAR)")}, id LIMIT $NList),
       |${ivfIterCtes(IvfIters)},
       |cents AS (SELECT cent_id, cv0 FROM cents$IvfIters),
       |assigned AS (
       |  SELECT id, cent_id FROM (
       |    SELECT e.id, c.cent_id,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        list_dot_product(e.v, c.cv0) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |        DESC, c.cent_id ASC) AS cr
       |    FROM emb e, cents c) t
       |  WHERE cr <= $SemNProbe),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM assigned a JOIN assigned b
       |    ON a.cent_id = b.cent_id AND a.id < b.id),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT x.id_a, x.id_b,
       |      list_dot_product(ea.v, eb.v) /
       |        (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
       |        AS cosine
       |    FROM cands x JOIN emb ea ON x.id_a = ea.id
       |         JOIN emb eb ON x.id_b = eb.id) t
       |  WHERE cosine >= $SemThreshold),
       |sel AS (
       |  SELECT id_a, id_b, cosine,
       |    row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
       |  FROM pairs)
       |SELECT id_b AS vec_id, id_a AS dup_of,
       |  CAST(cosine AS DOUBLE) AS cosine
       |FROM sel WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---- Corpus-sized production variants of the embedding-dedup gates ----------
  // dedup_embedding_cosine and semantic_dedup both bound their quadratic
  // verify by a FIXED partition count (16 LSH buckets / 64 k-means lists),
  // so per-partition occupancy — and candidate-pair volume, which grows
  // with occupancy SQUARED — scales linearly with the corpus: the same
  // failure mode the x100 probe measured killing fixed-geometry knn_graph
  // (~80 GB of spilled shuffle at 200k vectors). These twins derive the
  // partition count from count(*) so occupancy stays flat and pair volume
  // stays ~linear in N. The fixed forms remain in the registry as the
  // oracle-stable baselines; these are the shapes a deployment runs.
  //
  // Recall under auto-sizing is similarity-dependent: a pair at cosine c
  // collides per band with (1-acos(c)/pi)^bits, so widening bands costs
  // recall on MODERATE pairs while true near-dups (c -> 1) keep collision
  // probability -> 1 at any width — exactly the selectivity a dedup gate
  // wants (RecallSpec pins subset-of-truth and strong-pair recall).

  def dedupEmbeddingAuto(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("id"), col("v"))
    // ONE bounded driver scalar sizes the geometry (the knn_graph_auto /
    // prep_pipeline idiom: plan STRUCTURE must be known before the plan
    // builds; a deployment sizes once per corpus, then serves)
    val (planes, bits) = Similarity.autoBandGeometryExact(e.count())
    val bands = Similarity.lshBands(s, e, planes, Dim, bits)
    val cands = bands.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(bands.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(e.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= SemThreshold)
      .select(col("id_a").as("vec_id_a"), col("id_b").as("vec_id_b"),
        col("cosine").cast("double").as("cosine"))
      .orderBy("vec_id_a", "vec_id_b")
  }

  val dedupEmbeddingAutoSql: String =
    s"""WITH $EmbCte,
       |$GeoCte,
       |$AutoPlanesBandsCte,
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT x.id_a, x.id_b,
       |      list_dot_product(ea.v, eb.v) /
       |        (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
       |        AS cosine
       |    FROM cands x JOIN emb ea ON x.id_a = ea.id
       |         JOIN emb eb ON x.id_b = eb.id) t
       |  WHERE cosine >= $SemThreshold)
       |SELECT id_a AS vec_id_a, id_b AS vec_id_b, CAST(cosine AS DOUBLE) AS cosine
       |FROM pairs ORDER BY vec_id_a, vec_id_b""".stripMargin

  /** Cluster-count sizing for semantic_dedup_auto: nlist = ceil(N / 128)
    * clamped to [16, 4096]. Each vector posts to SemNProbe lists, so
    * expected list occupancy holds near 256 at any corpus size and the
    * within-list pair volume stays ~linear in N (nlist x C(occ, 2)) —
    * vs the fixed-64-list form whose occupancy, and quadratic pair term,
    * grow with the corpus. 128 is a power of two, so DuckDB's
    * ceil(count / 128.0) is float-exact at any count below 2^53 and both
    * engines derive the identical nlist. The 4096 cap bounds the centroid
    * broadcast (4096 x 64 doubles = 2 MB) and the trainCentroids driver
    * collect; past it (N > 512k here) occupancy grows again — that's the
    * regime where assignment becomes a shuffle join against a sharded
    * centroid table instead of a broadcast (SemDeDup at 100 TB), a plan
    * change, not a constant change.
    */
  private val SemAutoOcc = 128
  private val SemAutoMin = 16
  private val SemAutoMax = 4096

  private def semAutoNList(n: Long): Int = {
    val cb = n / SemAutoOcc + (if (n % SemAutoOcc == 0L) 0L else 1L)
    math.min(SemAutoMax.toLong, math.max(SemAutoMin.toLong, cb)).toInt
  }

  def semanticDedupAuto(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val nlist = semAutoNList(e.count())
    val asg = Similarity.ivfAssignN(e, ivfCentroidsN(s, dir, nlist), SemNProbe)
      .select(col("id"), col("cent_id"))
    val cands = asg.select(col("cent_id"), col("id").as("id_a"))
      .join(asg.select(col("cent_id"), col("id").as("id_b")), Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val pairs = cands
      .join(e.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= SemThreshold)
    pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min(struct(col("id_a"), col("cosine"))).as("f"))
      .select(col("vec_id"), col("f.id_a").as("dup_of"),
        col("f.cosine").cast("double").as("cosine"))
      .orderBy("vec_id")
  }

  /** lazy: sits above the IVF constant declarations (NList/IvfIters
    * initialize later in the object body).
    */
  lazy val semanticDedupAutoSql: String =
    s"""WITH $EmbCte,
       |nl AS (
       |  SELECT CAST(least($SemAutoMax, greatest($SemAutoMin,
       |    CAST(ceil(count(*) / $SemAutoOcc.0) AS BIGINT))) AS BIGINT) AS nlist
       |  FROM emb),
       |cents0 AS (
       |  SELECT id AS cent_id, v AS cv0 FROM (
       |    SELECT id, v, row_number() OVER (
       |      ORDER BY ${OracleSql.hash64("CAST(id AS VARCHAR)")}, id) AS rn
       |    FROM emb) t, nl
       |  WHERE t.rn <= nl.nlist),
       |${ivfIterCtes(IvfIters)},
       |cents AS (SELECT cent_id, cv0 FROM cents$IvfIters),
       |assigned AS (
       |  SELECT id, cent_id FROM (
       |    SELECT e.id, c.cent_id,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        list_dot_product(e.v, c.cv0) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv0, c.cv0)))
       |        DESC, c.cent_id ASC) AS cr
       |    FROM emb e, cents c) t
       |  WHERE cr <= $SemNProbe),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM assigned a JOIN assigned b
       |    ON a.cent_id = b.cent_id AND a.id < b.id),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT x.id_a, x.id_b,
       |      list_dot_product(ea.v, eb.v) /
       |        (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
       |        AS cosine
       |    FROM cands x JOIN emb ea ON x.id_a = ea.id
       |         JOIN emb eb ON x.id_b = eb.id) t
       |  WHERE cosine >= $SemThreshold),
       |sel AS (
       |  SELECT id_a, id_b, cosine,
       |    row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
       |  FROM pairs)
       |SELECT id_b AS vec_id, id_a AS dup_of,
       |  CAST(cosine AS DOUBLE) AS cosine
       |FROM sel WHERE rn = 1 ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "semantic_dedup" -> (semanticDedup _),
    "semantic_dedup_auto" -> (semanticDedupAuto _),
    "dedup_embedding_auto" -> (dedupEmbeddingAuto _),
    "embedding_clusters" -> (embeddingClusters _),
    "ann_brute_force" -> (annBruteForce _),
    "ann_lsh" -> (annLsh _),
    "ann_lsh_auto" -> (annLshAuto _),
    "knn_graph_auto" -> (knnGraphAuto _),
    "knn_graph" -> (knnGraph _),
    "label_propagation" -> (labelPropagation _),
    "ann_lsh_multiprobe" -> (annLshMultiprobe _),
    "ann_ivf" -> (annIvf _),
    "ann_ivf_pq" -> (annIvfPq _),
    "ann_ivf_pq_prebuilt" -> (annIvfPqPrebuilt _),
    "ann_ivf_pq_appended" -> (annIvfPqAppended _),
    "ann_ivf_pq_deleted" -> (annIvfPqDeleted _),
    "vindex_compacted" -> (annIvfPqCompacted _),
    "vindex_merged" -> (annIvfPqMerged _),
    "vindex_retrained" -> (annIvfPqRetrained _),
    "vindex_stats" -> (vindexStats _),
    "vector_index_drift" -> (vectorIndexDrift _),
    "stream_vector_ingest" -> (streamVectorIngest _),
    "stream_vector_ingest_retrain" -> (streamVectorIngestRetrain _),
    "ann_quantized" -> (annQuantized _),
    "ann_lsh_quantized" -> (annLshQuantized _),
    "mmr_rerank" -> (mmrRerank _),
    "mmr_rerank_prebuilt" -> (mmrRerankPrebuilt _),
    "mmr_rerank_batch_prebuilt" -> (mmrRerankBatchPrebuilt _),
    "embedding_norms" -> (embeddingNorms _),
    "embedding_project" -> (embeddingProject _),
    "embedding_covariance" -> (embeddingCovariance _))

  val oracles: Map[String, String] = Map(
    "embedding_covariance" -> embeddingCovarianceSql,
    "semantic_dedup" -> semanticDedupSql,
    "semantic_dedup_auto" -> semanticDedupAutoSql,
    "dedup_embedding_auto" -> dedupEmbeddingAutoSql,
    "embedding_clusters" -> embeddingClustersSql,
    "ann_brute_force" -> annBruteForceSql,
    "ann_lsh" -> annLshSql,
    "ann_lsh_auto" -> annLshAutoSql,
    "knn_graph_auto" -> knnGraphAutoSql,
    "knn_graph" -> knnGraphSql,
    "label_propagation" -> labelPropagationSql,
    "ann_lsh_multiprobe" -> annLshMultiprobeSql,
    "ann_ivf" -> annIvfSql,
    "ann_ivf_pq" -> annIvfPqSql,
    "ann_ivf_pq_prebuilt" -> annIvfPqSql,
    "ann_ivf_pq_appended" -> annIvfPqAppendedSql,
    "ann_ivf_pq_deleted" -> annIvfPqDeletedSql,
    "vindex_compacted" -> annIvfPqAppendedSql,
    "vindex_merged" -> annIvfPqAppendedSql,
    "vindex_retrained" -> annIvfPqSql,
    "vindex_stats" -> vindexStatsSql,
    "vector_index_drift" -> vectorIndexDriftSql,
    "stream_vector_ingest" -> annIvfPqAppendedSql,
    // the policy retrain at the last batch re-derives quantizers from the
    // full forward store — the from-scratch-build oracle, like
    // vindex_retrained
    "stream_vector_ingest_retrain" -> annIvfPqSql,
    "ann_quantized" -> annQuantizedSql,
    "ann_lsh_quantized" -> annLshQuantizedSql,
    "mmr_rerank" -> mmrRerankSql,
    "mmr_rerank_prebuilt" -> mmrRerankPrebuiltSql,
    "mmr_rerank_batch_prebuilt" -> mmrRerankBatchPrebuiltSql,
    "embedding_norms" -> embeddingNormsSql,
    "embedding_project" -> embeddingProjectSql)
}
