package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal plumbing as an oracle-checked query: binary payloads from
  * documents -> partition-batched stub feature extraction -> long-format
  * (media_id, feature_idx, value) rows. The oracle recomputes the byte
  * histogram relationally (ASCII corpus: byte == codepoint).
  */
object MultimodalQueries {

  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
    Multimodal.extractFeatures(s, media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("feature_idx", "value")))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("feature_idx").cast("long").as("feature_idx"),
        col("value").cast("double").as("value"))
      .orderBy("media_id", "feature_idx")
  }

  val multimodalFeaturesSql: String =
    s"""WITH chars AS (
       |  SELECT doc_id, 'text/' || lang AS kind, length(text) AS n_bytes,
       |    unicode(substring(text, CAST(i AS INT), 1)) % ${Multimodal.FeatureDim} AS bucket
       |  FROM documents, generate_series(1, 4096) t(i)
       |  WHERE i <= length(text)),
       |counts AS (
       |  SELECT doc_id, kind, n_bytes, bucket, count(*) AS c
       |  FROM chars GROUP BY doc_id, kind, n_bytes, bucket),
       |grid AS (
       |  SELECT d.doc_id, 'text/' || d.lang AS kind, length(d.text) AS n_bytes, f.feature_idx
       |  FROM documents d, (SELECT unnest(range(${Multimodal.FeatureDim})) AS feature_idx) f)
       |SELECT g.doc_id AS media_id, g.kind, CAST(g.n_bytes AS BIGINT) AS n_bytes,
       |  CAST(g.feature_idx AS BIGINT) AS feature_idx,
       |  CAST(CASE WHEN g.n_bytes = 0 THEN 0.0
       |       ELSE COALESCE(c.c, 0) * 1.0 / g.n_bytes END AS DOUBLE) AS value
       |FROM grid g LEFT JOIN counts c
       |  ON g.doc_id = c.doc_id AND g.feature_idx = c.bucket
       |ORDER BY media_id, feature_idx""".stripMargin

  // ---- Frame sampling (audio/video window pattern) ---------------------------
  // Fixed 256-byte frames every 128 bytes over the payload; geometry is
  // pure arithmetic, so the oracle recomputes it from octet_length. The
  // per-frame stub features (mean byte) stay spec-level (MultimodalSpec) —
  // byte-level access isn't relational in DuckDB.
  private val FrameBytes = 256
  private val HopBytes = 128

  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
    Multimodal.frameIndex(media, FrameBytes, HopBytes)
      .orderBy("media_id", "frame_idx")
  }

  val multimodalFramesSql: String =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       |  FROM documents),
       |f AS (
       |  SELECT media_id, n_bytes,
       |    CAST(floor((n_bytes - $FrameBytes) / $HopBytes) + 1 AS BIGINT) AS n_frames
       |  FROM m WHERE n_bytes >= $FrameBytes)
       |SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
       |  CAST(i * $HopBytes AS BIGINT) AS frame_off,
       |  CAST($FrameBytes AS BIGINT) AS frame_len, n_bytes
       |FROM (
       |  SELECT media_id, n_bytes,
       |    unnest(generate_series(0, n_frames - 1)) AS i
       |  FROM f) t
       |ORDER BY media_id, frame_idx""".stripMargin

  // ---- Resize planning (aspect-preserving fit, never upscale) ----------------
  // Synthetic (width, height) metadata derived deterministically from
  // doc_id (the testdata carries no real image dims); the fit-within-224
  // geometry is exact double arithmetic mirrored in SQL.
  def multimodalResize(s: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(s, dir).select(
      col("doc_id").as("media_id"),
      (lit(64L) + col("doc_id") % 512).cast("long").as("width"),
      (lit(64L) + (col("doc_id") * 7) % 512).cast("long").as("height"))
    Multimodal.resizePlan(media, 224, 224)
      .select(col("media_id"), col("width"), col("height"),
        col("scale").cast("double").as("scale"), col("out_w"), col("out_h"))
      .orderBy("media_id")
  }

  val multimodalResizeSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CAST(64 + doc_id % 512 AS BIGINT) AS width,
      |    CAST(64 + (doc_id * 7) % 512 AS BIGINT) AS height
      |  FROM documents),
      |r AS (
      |  SELECT *, least(1.0, 224.0 / width, 224.0 / height) AS scale FROM m)
      |SELECT media_id, width, height, CAST(scale AS DOUBLE) AS scale,
      |  greatest(CAST(1 AS BIGINT), CAST(floor(width * scale) AS BIGINT)) AS out_w,
      |  greatest(CAST(1 AS BIGINT), CAST(floor(height * scale) AS BIGINT)) AS out_h
      |FROM r ORDER BY media_id""".stripMargin

  // ---- Perceptual-hash image dedup -------------------------------------------
  // The multimodal x dedup intersection: per-document images ENCODED as
  // genuine 8x4 24-bpp BMP payloads (bmpFromLumas — luma_i = 60-bit md5
  // hash of token i mod 256, a deterministic render both engines
  // reproduce), DECODED back through the real BMP parser, 32-bit
  // average-hashed (bit j = luma_j > integer mean), then paired by the
  // SimHash banding machinery: 16-bit half-signature hash joins (a union
  // of two equi-joins, never an OR nested loop) with exact
  // bit_count-hamming verify <= 6. The encode->decode round trip runs
  // for real in the partition iterator; the oracle computes the same
  // lumas arithmetically — BMP bytes are transport, not information.
  // Scale: banding bounds candidates by 16-bit-bucket occupancy, the
  // same collision-bound as dedup_simhash; hash distribution over 2^16
  // buckets keeps occupancy ~N/65536 per band.
  /** The banded self-join + hamming verify, shared by the pair-list
    * baseline (dedup_phash) and its cluster twin (dedup_phash_clusters).
    * Columns: (id_a, id_b, ph_a, ph_b, hamming).
    */
  private def phashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.CacheRegistry.RegisteredCache
    import graft.functions.{TextHash, Tokenizer}
    val px = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 256).as("px"))
      .filter(size(col("px")) > 0)
    px.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.flatMap { case (id, p) =>
        val lumas = Array.tabulate(32)(i =>
          if (i < p.length) p(i).toInt else 0)
        // FORMAT-BLIND by construction: ids rotate across BMP, PNG and
        // GIF (all three REAL codecs — GIF's gray palette round-trips
        // losslessly, spec-pinned), and the hash reads decoded PIXELS —
        // identical in every format, so the arithmetic oracle needs no
        // format column. A near-dup pair split across formats still pairs.
        val payload = (id % 3) match {
          case 0 => Multimodal.bmpFromLumas(lumas, 8)
          case 1 => Multimodal.pngFromLumas(lumas, 8)
          case _ => Multimodal.gifFromLumas(lumas, 8)
        }
        // P5 tolerance: an undecodable payload drops its ROW, never the
        // stage (self-encoded payloads always decode; the round trip is
        // spec-pinned, and media_decode_audit counts real-world skips)
        Multimodal.decodeImage(payload)
          .map(img => (id, Multimodal.averageHash32(img)))
      }
    }.toDF("id", "phash")
      .withColumn("lo", col("phash") % 65536)
      .withColumn("hi", (col("phash") / 65536).cast("long"))
      .registeredCache()
  }

  /** Banded self-join + hamming verify over a (id, phash, lo, hi) table —
    * a union of two equi-joins, never an OR nested loop.
    */
  private def bandedPairs(sigs: DataFrame): DataFrame = {
    val a = sigs.select(col("id").as("id_a"), col("phash").as("ph_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = sigs.select(col("id").as("id_b"), col("phash").as("ph_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    val byLo = a.join(b, col("lo_a") === col("lo_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ph_a"), col("ph_b"))
    val byHi = a.join(b, col("hi_a") === col("hi_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ph_a"), col("ph_b"))
    byLo.union(byHi).distinct()
      .withColumn("hamming",
        graft.operators.Dedup.hamming(col("ph_a"), col("ph_b")))
      .filter(col("hamming") <= 6)
  }

  private def phashVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    bandedPairs(phashSigs(s, dir))

  def dedupPhash(s: SparkSession, dir: String): DataFrame =
    phashVerifiedPairs(s, dir)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        col("ph_a").as("phash_a"), col("ph_b").as("phash_b"), col("hamming"))
      .orderBy("doc_id_a", "doc_id_b")

  // ---- Production twin: phash pairs -> transitive clusters -------------------
  // The pair LIST above is the oracle-stability baseline, but its output
  // is quadratic in the duplication factor (every replica pair surfaces —
  // 44k -> 3.6M rows at x10, SCALE_r8.md), so no production consumer
  // should read it. This form collapses the same verified pair graph to
  // min-label connected components — one row per MATCHED IMAGE (linear in
  // the corpus no matter how duplicated), keeper = min doc_id — the
  // dedup_clusters contract on the image column.
  def dedupPhashClusters(s: SparkSession, dir: String): DataFrame = {
    // EXACT-SIGNATURE COLLAPSE first — the trick every production phash
    // dedup runs: replicas share an identical 32-bit hash, so band-pair
    // only ONE representative per distinct hash (min id) and expand the
    // component label back through the signature groups afterwards.
    // Semantics are EXACTLY the pair-graph components (equal phashes are
    // hamming-0 pairs, so a size->=2 group is one cluster either way, and
    // min-rep-per-group keeps component = min doc_id), but candidate
    // volume is driven by DISTINCT hashes — immune to the duplication
    // factor that makes the raw pair graph C(dup,2)-quadratic (the x100
    // probe corpus has dup factor 100: ~25M image pairs vs the same
    // few-hundred-edge rep graph the sf0.1 corpus produces).
    val sigs = phashSigs(s, dir)
    val groups = sigs.groupBy(col("phash"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("n"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"))
    val repPairs = bandedPairs(groups.select(col("rep").as("id"),
        col("phash"), col("lo"), col("hi")))
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val labels = graft.operators.Components
      .connectedComponents(repPairs, checkEvery = 4, pointerJump = false)
    // a group is MATCHED iff its rep pairs with another distinct hash OR
    // the group itself holds >= 2 images (internal hamming-0 pairs)
    val labeledGroups = groups
      .join(labels.select(col("id").as("rep"), col("component")),
        Seq("rep"), "left_outer")
      .filter(col("component").isNotNull || col("n") >= 2)
      .select(col("phash"), col("rep"), col("n"),
        coalesce(col("component"), col("rep")).as("component"))
    val compSize = labeledGroups.groupBy(col("component"))
      .agg(sum(col("n")).cast("long").as("cluster_size"))
    // no broadcast hint on compSize: it is matched-component-sized —
    // tiny here, corpus-proportional in the worst case; AQE decides
    sigs.join(labeledGroups.select(col("phash"), col("component")), "phash")
      .join(compSize, "component")
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("component"),
        col("cluster_size"),
        (col("id") === col("component")).as("is_keeper"))
      .orderBy("doc_id")
  }

  val dedupPhashSql: String =
    s"""WITH ${OracleSql.TokCte},
       |px AS (
       |  SELECT doc_id AS id, pos, ${OracleSql.hash64("term")} % 256 AS v
       |  FROM toks WHERE pos < 32),
       |m AS (SELECT id, CAST(sum(v) // 32 AS BIGINT) AS mean FROM px GROUP BY id),
       |sigs AS (
       |  SELECT px.id,
       |    CAST(sum(CASE WHEN v > mean
       |      THEN (CAST(1 AS BIGINT) << CAST(pos AS INT)) ELSE 0 END)
       |      AS BIGINT) AS phash
       |  FROM px JOIN m ON px.id = m.id GROUP BY px.id),
       |halved AS (
       |  SELECT id, phash, phash % 65536 AS lo,
       |    CAST(phash // 65536 AS BIGINT) AS hi
       |  FROM sigs)
       |SELECT a.id AS doc_id_a, b.id AS doc_id_b,
       |  a.phash AS phash_a, b.phash AS phash_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM halved a JOIN halved b
       |  ON a.id < b.id AND (a.lo = b.lo OR a.hi = b.hi)
       |WHERE bit_count(xor(a.phash, b.phash)) <= 6
       |ORDER BY doc_id_a, doc_id_b""".stripMargin

  // Recursive transitive closure over the SAME pair SQL — the
  // dedup_clusters oracle shape on the phash graph.
  val dedupPhashClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_id_a AS a, doc_id_b AS b FROM (
       |$dedupPhashSql
       |  ) ph),
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
       |  FROM comp GROUP BY component)
       |SELECT c.doc_id, c.component, s.cluster_size,
       |  c.doc_id = c.component AS is_keeper
       |FROM comp c JOIN sizes s USING (component)
       |ORDER BY doc_id""".stripMargin

  // ---- Real-decode feature extraction, oracle-gated --------------------------
  // multimodal_features gates the STUB path (text payloads); this row
  // gates the REAL one end-to-end: genuine BMP payloads (bmpFromLumas,
  // lumas = token hashes mod 256, zero-padded to 8x4) flow through
  // extractFeatures' magic-byte dispatch into the real BMP parser and
  // out as luminance histograms. Every value is count/32 — an exact
  // dyadic double — so the DuckDB oracle (which recomputes the lumas
  // arithmetically and never sees a BMP byte) matches under the strict
  // hash gate. n_bytes pins the payload length the encoder must emit
  // (54-byte headers + 4 padded 24-byte rows = 150).
  def multimodalImageStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextHash, Tokenizer}
    val px = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 256).as("px"))
      .filter(size(col("px")) > 0)
    val media = px.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.map { case (id, p) =>
        val lumas = Array.tabulate(32)(i => if (i < p.length) p(i).toInt else 0)
        Multimodal.MediaRow(id, "image/bmp", Multimodal.bmpFromLumas(lumas, 8))
      }
    }.toDF()
    Multimodal.extractFeatures(s, media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("feature_idx", "value")))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("feature_idx").cast("long").as("feature_idx"),
        col("value").cast("double").as("value"))
      .orderBy("media_id", "feature_idx")
  }

  val multimodalImageStatsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |px AS (
       |  SELECT doc_id, pos, ${OracleSql.hash64("term")} % 256 AS v
       |  FROM toks WHERE pos < 32),
       |n AS (SELECT doc_id, count(*) AS npx FROM px GROUP BY doc_id),
       |counts AS (
       |  SELECT doc_id, v // 16 AS bucket, count(*) AS c
       |  FROM px GROUP BY doc_id, v // 16),
       |grid AS (
       |  SELECT n.doc_id, n.npx, f.feature_idx
       |  FROM n, (SELECT unnest(range(${Multimodal.FeatureDim})) AS feature_idx) f)
       |SELECT g.doc_id AS media_id, 'image/bmp' AS kind,
       |  CAST(150 AS BIGINT) AS n_bytes,
       |  CAST(g.feature_idx AS BIGINT) AS feature_idx,
       |  CAST((COALESCE(c.c, 0) +
       |    CASE WHEN g.feature_idx = 0 THEN 32 - g.npx ELSE 0 END) / 32.0
       |    AS DOUBLE) AS value
       |FROM grid g LEFT JOIN counts c
       |  ON g.doc_id = c.doc_id AND g.feature_idx = c.bucket
       |ORDER BY media_id, feature_idx""".stripMargin

  // The audio sibling of multimodal_image_stats: 16-bit PCM samples
  // (token hashes mod 2^16, centered) encoded as genuine RIFF/WAVE
  // payloads, through extractFeatures' magic-byte dispatch into the
  // real WAV parser, out as amplitude histograms (16 buckets of 4096
  // across the int16 range). Zero-padding lands in bucket 8 — the
  // center bucket — which the oracle accounts for arithmetically.
  // Values are count/32, exact dyadic doubles: strict-gate safe.
  def multimodalAudioStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextHash, Tokenizer}
    val sv = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 65536).as("sv"))
      .filter(size(col("sv")) > 0)
    val media = sv.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.map { case (id, p) =>
        val samples = Array.tabulate(32)(i =>
          if (i < p.length) (p(i) - 32768L).toShort else 0.toShort)
        Multimodal.MediaRow(id, "audio/wav",
          Multimodal.wavFromSamples(samples, 8000))
      }
    }.toDF()
    Multimodal.extractFeatures(s, media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("feature_idx", "value")))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("feature_idx").cast("long").as("feature_idx"),
        col("value").cast("double").as("value"))
      .orderBy("media_id", "feature_idx")
  }

  val multimodalAudioStatsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |px AS (
       |  SELECT doc_id, pos, ${OracleSql.hash64("term")} % 65536 AS v
       |  FROM toks WHERE pos < 32),
       |n AS (SELECT doc_id, count(*) AS npx FROM px GROUP BY doc_id),
       |counts AS (
       |  SELECT doc_id, v // 4096 AS bucket, count(*) AS c
       |  FROM px GROUP BY doc_id, v // 4096),
       |grid AS (
       |  SELECT n.doc_id, n.npx, f.feature_idx
       |  FROM n, (SELECT unnest(range(${Multimodal.FeatureDim})) AS feature_idx) f)
       |SELECT g.doc_id AS media_id, 'audio/wav' AS kind,
       |  CAST(108 AS BIGINT) AS n_bytes,
       |  CAST(g.feature_idx AS BIGINT) AS feature_idx,
       |  CAST((COALESCE(c.c, 0) +
       |    CASE WHEN g.feature_idx = 8 THEN 32 - g.npx ELSE 0 END) / 32.0
       |    AS DOUBLE) AS value
       |FROM grid g LEFT JOIN counts c
       |  ON g.doc_id = c.doc_id AND g.feature_idx = c.bucket
       |ORDER BY media_id, feature_idx""".stripMargin

  // The video sibling: 96 token-hash lumas per document become THREE
  // genuine 8x4 grayscale frames inside a real AVI container
  // (aviFromLumaFrames — RIFF/hdrl/strf/movi with uncompressed
  // bottom-up DIB frame chunks), which decodeAvi parses back for real:
  // container walk, strf geometry, per-frame DIB row decode. Per-frame
  // stats come off the DECODED pixels — mean luma (sum/32, exact dyadic
  // double) and dark-pixel share (count/32) — while the oracle
  // recomputes both arithmetically from the token hashes (pads are
  // luma 0: dark, mean-neutral). n_bytes pins the exact container
  // length the encoder must emit (12 RIFF + 200 hdrl + 324 movi = 536),
  // so a header-size regression fails the gate, not just a spec.
  // Scale: encode+decode+stats is one mapPartitions pass — no shuffle;
  // the orderBy is presentation-only.
  private val VideoFrames = 3
  private val VideoFramePx = 32

  def multimodalVideoStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextHash, Tokenizer}
    val px = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 256).as("px"))
      .filter(size(col("px")) > 0)
    px.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.flatMap { case (id, p) =>
        val lumas = Array.tabulate(VideoFrames * VideoFramePx)(i =>
          if (i < p.length) p(i).toInt else 0)
        val avi = Multimodal.aviFromLumaFrames(
          lumas.grouped(VideoFramePx).toSeq, 8)
        // P5 tolerance: skip-and-continue on a corrupt container (the
        // self-encoded round trip is spec-pinned; media_decode_audit
        // carries the skip count for real-world payloads)
        Multimodal.decodeAvi(avi).iterator.flatMap { video =>
          video.frames.iterator.zipWithIndex.map { case (rgb, f) =>
            val frameLumas = Array.tabulate(VideoFramePx)(i => rgb(3 * i) & 0xff)
            (id, "video/avi", avi.length.toLong, f.toLong,
              frameLumas.sum / 32.0, frameLumas.count(_ < 128) / 32.0)
          }
        }
      }
    }.toDF("media_id", "kind", "n_bytes", "frame_idx", "mean_luma", "p_dark")
      .orderBy("media_id", "frame_idx")
  }

  val multimodalVideoStatsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |px AS (
       |  SELECT doc_id, pos, ${OracleSql.hash64("term")} % 256 AS v
       |  FROM toks WHERE pos < ${VideoFrames * VideoFramePx}),
       |f AS (
       |  SELECT doc_id, pos // $VideoFramePx AS frame_idx, count(*) AS c,
       |    sum(v) AS sv, sum(CASE WHEN v < 128 THEN 1 ELSE 0 END) AS dk
       |  FROM px GROUP BY doc_id, pos // $VideoFramePx),
       |grid AS (
       |  SELECT d.doc_id, g.frame_idx
       |  FROM (SELECT DISTINCT doc_id FROM px) d,
       |    (SELECT unnest(range($VideoFrames)) AS frame_idx) g)
       |SELECT g.doc_id AS media_id, 'video/avi' AS kind,
       |  CAST(536 AS BIGINT) AS n_bytes,
       |  CAST(g.frame_idx AS BIGINT) AS frame_idx,
       |  CAST(COALESCE(f.sv, 0) / 32.0 AS DOUBLE) AS mean_luma,
       |  CAST((COALESCE(f.dk, 0) + $VideoFramePx - COALESCE(f.c, 0)) / 32.0
       |    AS DOUBLE) AS p_dark
       |FROM grid g LEFT JOIN f
       |  ON g.doc_id = f.doc_id AND g.frame_idx = f.frame_idx
       |ORDER BY media_id, frame_idx""".stripMargin

  // Scene-cut detection over the SAME real AVI payloads: per-frame
  // 16-bucket luma histograms (raw counts) off the decoded pixels,
  // consecutive frames compared by L1 distance — a cut is a frame whose
  // histogram moved more than half the pixel mass (> 32 of 64 possible;
  // each changed pixel moves 2 counts). The canonical video-preprocess
  // op for multimodal training (scene segmentation before frame
  // sampling), all-integer so strict-exact. One mapPartitions pass, no
  // shuffle — the per-video frame sequence lives inside one row's
  // payload, so "window over frames" is a local zip, not a Window.
  private val CutThreshold = 32

  def videoSceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextHash, Tokenizer}
    val px = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 256).as("px"))
      .filter(size(col("px")) > 0)
    px.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.flatMap { case (id, p) =>
        val lumas = Array.tabulate(VideoFrames * VideoFramePx)(i =>
          if (i < p.length) p(i).toInt else 0)
        val avi = Multimodal.aviFromLumaFrames(
          lumas.grouped(VideoFramePx).toSeq, 8)
        // P5 tolerance: a corrupt container drops its rows, not the stage
        Multimodal.decodeAvi(avi).iterator.flatMap { video =>
          val hists = video.frames.map { rgb =>
            val h = new Array[Long](Multimodal.FeatureDim)
            (0 until VideoFramePx).foreach(i => h((rgb(3 * i) & 0xff) / 16) += 1)
            h
          }
          (1 until hists.length).iterator.map { f =>
            val l1 = (0 until Multimodal.FeatureDim)
              .map(b => math.abs(hists(f)(b) - hists(f - 1)(b))).sum
            (id, f.toLong, l1, l1 > CutThreshold)
          }
        }
      }
    }.toDF("media_id", "frame_idx", "l1_dist", "is_cut")
      .orderBy("media_id", "frame_idx")
  }

  val videoSceneCutsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |px AS (
       |  SELECT doc_id, pos, ${OracleSql.hash64("term")} % 256 AS v
       |  FROM toks WHERE pos < ${VideoFrames * VideoFramePx}),
       |c AS (
       |  SELECT doc_id, pos // $VideoFramePx AS fi, v // 16 AS b, count(*) AS c
       |  FROM px GROUP BY doc_id, pos // $VideoFramePx, v // 16),
       |tokc AS (
       |  SELECT doc_id, pos // $VideoFramePx AS fi, count(*) AS n
       |  FROM px GROUP BY doc_id, pos // $VideoFramePx),
       |grid AS (
       |  SELECT d.doc_id, f.fi, bk.b
       |  FROM (SELECT DISTINCT doc_id FROM px) d,
       |    (SELECT unnest(range($VideoFrames)) AS fi) f,
       |    (SELECT unnest(range(${Multimodal.FeatureDim})) AS b) bk),
       |cnt AS (
       |  SELECT g.doc_id, g.fi, g.b,
       |    COALESCE(c.c, 0) + CASE WHEN g.b = 0
       |      THEN $VideoFramePx - COALESCE(t.n, 0) ELSE 0 END AS c
       |  FROM grid g
       |  LEFT JOIN c ON g.doc_id = c.doc_id AND g.fi = c.fi AND g.b = c.b
       |  LEFT JOIN tokc t ON g.doc_id = t.doc_id AND g.fi = t.fi),
       |dist AS (
       |  SELECT a.doc_id, a.fi, sum(abs(a.c - p.c)) AS l1
       |  FROM cnt a JOIN cnt p
       |    ON a.doc_id = p.doc_id AND a.b = p.b AND p.fi = a.fi - 1
       |  WHERE a.fi >= 1 GROUP BY a.doc_id, a.fi)
       |SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
       |  CAST(l1 AS BIGINT) AS l1_dist, l1 > $CutThreshold AS is_cut
       |FROM dist ORDER BY media_id, frame_idx""".stripMargin

  // VAD-style silence segmentation, the audio sibling of the scene-cut
  // query: genuine RIFF/WAVE payloads (token-hash PCM, same synthesis as
  // multimodal_audio_stats) decoded by the real parser, then fixed
  // 8-sample windows scored by mean |amplitude| — a window is silent
  // when its integer mean-abs falls under 1/8 of full scale (4096).
  // The canonical speech-corpus preprocess (silence trimming before
  // transcription/training). sum(|s|) <= 8*32768 stays integer-exact,
  // mean_abs = sum/8.0 is dyadic: strict-safe. One mapPartitions pass;
  // the window walk is a local grouped() over one payload's samples.
  private val AudioWin = 8
  private val SilenceThreshold = 4096L

  def audioSilence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextHash, Tokenizer}
    val sv = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 65536).as("sv"))
      .filter(size(col("sv")) > 0)
    sv.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.flatMap { case (id, p) =>
        val samples = Array.tabulate(32)(i =>
          if (i < p.length) (p(i) - 32768L).toShort else 0.toShort)
        val wav = Multimodal.wavFromSamples(samples, 8000)
        // P5 tolerance: a corrupt payload drops its rows, not the stage
        Multimodal.decodeWav(wav).iterator.flatMap { au =>
          au.samples.grouped(AudioWin).zipWithIndex.map { case (w, wi) =>
            val sumAbs = w.map(x => math.abs(x.toLong)).sum
            (id, wi.toLong, sumAbs, sumAbs / (1.0 * AudioWin),
              sumAbs < SilenceThreshold * AudioWin)
          }
        }
      }
    }.toDF("media_id", "window_idx", "sum_abs", "mean_abs", "is_silent")
      .orderBy("media_id", "window_idx")
  }

  // ---- Audio metadata without sample decode -----------------------------------
  // Duration/rate statistics over a mixed audio corpus — the question a
  // training-data pipeline asks of 100 TB of audio BEFORE paying for
  // decode. Even ids carry real 16-bit-PCM WAV (fully decoded), odd ids
  // carry structurally valid MPEG-1 Layer III streams whose FRAME HEADERS
  // are genuinely walked (decodeMp3Meta — sync/bitrate/samplerate bits,
  // frame-length arithmetic, strict to-the-end validation) while the
  // samples stay undecoded, the codec boundary's honest middle tier.
  // Every field is integer-exact: the oracle re-derives frame counts and
  // durations arithmetically from the same token counts.
  def audioMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextHash, Tokenizer}
    val hs = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 65536).as("hs"))
      .filter(size(col("hs")) > 0)
    hs.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.flatMap { case (id, p) =>
        if (id % 2 == 0) {
          val ns = math.min(32, p.length)
          val samples = Array.tabulate(ns)(i => (p(i) - 32768L).toShort)
          val payload = Multimodal.wavFromSamples(samples, 8000)
          Multimodal.decodeWav(payload).map(au =>
            (id, "wav", au.sampleRate.toLong, au.samples.length.toLong))
        } else {
          val frames = (p.length % 8) + 2
          val payload = Multimodal.mp3FromParams(frames, 128, 44100)
          Multimodal.decodeMp3Meta(payload).map(m =>
            (id, "mp3", m.sampleRateHz.toLong, m.totalSamples))
        }
      }
    }.toDF("media_id", "codec", "sample_rate", "total_samples")
      .withColumn("duration_ms",
        (col("total_samples") * 1000L / col("sample_rate")).cast("long"))
      .orderBy("media_id")
  }

  val audioMetadataSql: String =
    s"""WITH ${OracleSql.TokCte},
       |n AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
       |m AS (
       |  SELECT doc_id AS media_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp3' END AS codec,
       |    CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 44100 END AS sample_rate,
       |    CASE WHEN doc_id % 2 = 0 THEN least(n_tok, 32)
       |         ELSE 1152 * ((n_tok % 8) + 2) END AS total_samples
       |  FROM n)
       |SELECT media_id, codec, CAST(sample_rate AS BIGINT) AS sample_rate,
       |  CAST(total_samples AS BIGINT) AS total_samples,
       |  CAST(total_samples * 1000 // sample_rate AS BIGINT) AS duration_ms
       |FROM m ORDER BY media_id""".stripMargin

  // ---- P5 for the media path: decode audit with COUNTED skips ----------------
  // The reference tolerates malformed rows per-record (its mapper wraps
  // each line in try/except — app/mapreduce/mapper1.py:20-25); this is
  // the media-column analog, end-to-end gated: one modality per doc
  // (doc_id % 3 -> image/audio/video, all REAL encoders), every 13th
  // payload DELIBERATELY truncated to 8 bytes, decode attempted through
  // the real magic-byte dispatch (Multimodal.decoderOf). The oracle
  // derives decode_ok arithmetically (corrupt <=> doc_id % 13 = 0), so
  // the gate fails if a corrupt blob decodes OR a good one skips —
  // proving skip-and-count, never a failed stage. Scale: one
  // mapPartitions pass + a 3-row hash agg; no shuffle beyond the agg.
  def mediaDecodeAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TextHash, Tokenizer}
    val hs = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hash64(t) % 65536).as("hs"))
      .filter(size(col("hs")) > 0)
    hs.as[(Long, Seq[Long])].mapPartitions { rows =>
      rows.map { case (id, p) =>
        val kind = id % 3 match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        val payload = kind match {
          case "image" =>
            val lumas = Array.tabulate(32)(i =>
              if (i < p.length) (p(i) % 256).toInt else 0)
            if (id % 2 == 0) Multimodal.bmpFromLumas(lumas, 8)
            else Multimodal.pngFromLumas(lumas, 8)
          case "audio" =>
            val samples = Array.tabulate(32)(i =>
              if (i < p.length) (p(i) - 32768L).toShort else 0.toShort)
            Multimodal.wavFromSamples(samples, 8000)
          case _ =>
            val lumas = Array.tabulate(VideoFrames * VideoFramePx)(i =>
              if (i < p.length) (p(i) % 256).toInt else 0)
            Multimodal.aviFromLumaFrames(lumas.grouped(VideoFramePx).toSeq, 8)
        }
        val shipped = if (id % 13 == 0) payload.take(8) else payload
        (kind, Multimodal.decoderOf(shipped) != "stub")
      }
    }.toDF("kind", "decode_ok")
      .groupBy("kind")
      .agg(count(lit(1)).cast("long").as("n_media"),
        sum(when(col("decode_ok"), 1L).otherwise(0L)).cast("long")
          .as("n_decoded"),
        sum(when(col("decode_ok"), 0L).otherwise(1L)).cast("long")
          .as("n_skipped"))
      .orderBy("kind")
  }

  val mediaDecodeAuditSql: String =
    s"""WITH ${OracleSql.TokCte},
       |d AS (SELECT DISTINCT doc_id FROM toks),
       |m AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
       |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    doc_id % 13 = 0 AS corrupt
       |  FROM d)
       |SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
       |  CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_decoded,
       |  CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
       |FROM m GROUP BY kind ORDER BY kind""".stripMargin

  val audioSilenceSql: String =
    s"""WITH ${OracleSql.TokCte},
       |px AS (
       |  SELECT doc_id, pos, ${OracleSql.hash64("term")} % 65536 - 32768 AS v
       |  FROM toks WHERE pos < 32),
       |pad AS (
       |  SELECT doc_id, i AS pos, CAST(0 AS BIGINT) AS v
       |  FROM (SELECT doc_id, max(pos) AS mx FROM px GROUP BY doc_id) m,
       |    unnest(generate_series(0, 31)) t(i)
       |  WHERE i > m.mx),
       |allv AS (SELECT * FROM px UNION ALL SELECT * FROM pad),
       |w AS (
       |  SELECT doc_id, pos // $AudioWin AS window_idx,
       |    sum(abs(v)) AS sum_abs
       |  FROM allv GROUP BY doc_id, pos // $AudioWin)
       |SELECT doc_id AS media_id, CAST(window_idx AS BIGINT) AS window_idx,
       |  CAST(sum_abs AS BIGINT) AS sum_abs,
       |  CAST(sum_abs / $AudioWin.0 AS DOUBLE) AS mean_abs,
       |  sum_abs < ${SilenceThreshold * AudioWin} AS is_silent
       |FROM w ORDER BY media_id, window_idx""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_resize" -> (multimodalResize _),
    "multimodal_image_stats" -> (multimodalImageStats _),
    "multimodal_audio_stats" -> (multimodalAudioStats _),
    "multimodal_video_stats" -> (multimodalVideoStats _),
    "video_scene_cuts" -> (videoSceneCuts _),
    "audio_silence" -> (audioSilence _),
    "dedup_phash" -> (dedupPhash _),
    "dedup_phash_clusters" -> (dedupPhashClusters _),
    "media_decode_audit" -> (mediaDecodeAudit _),
    "audio_metadata" -> (audioMetadata _))

  val oracles: Map[String, String] = Map(
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_frames" -> multimodalFramesSql,
    "multimodal_resize" -> multimodalResizeSql,
    "multimodal_image_stats" -> multimodalImageStatsSql,
    "multimodal_audio_stats" -> multimodalAudioStatsSql,
    "multimodal_video_stats" -> multimodalVideoStatsSql,
    "video_scene_cuts" -> videoSceneCutsSql,
    "audio_silence" -> audioSilenceSql,
    "dedup_phash" -> dedupPhashSql,
    "dedup_phash_clusters" -> dedupPhashClustersSql,
    "media_decode_audit" -> mediaDecodeAuditSql,
    "audio_metadata" -> audioMetadataSql)
}
