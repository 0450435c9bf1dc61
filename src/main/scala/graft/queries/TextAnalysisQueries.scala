package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheRegistry.RegisteredCache

import graft.Tables
import graft.functions.{TextAnalysis, TextHash, Tokenizer}

/** Text-analysis pipeline operators (builder extension scope): token
  * counting (whitespace + BPE-ish regex), language-ID heuristic, quality
  * scoring, and order-sensitive document fingerprinting — each mirrored
  * exactly in DuckDB SQL.
  */
object TextAnalysisQueries {

  private val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  // ---- Token counting ---------------------------------------------------------
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val toks = Tokenizer.tokenize(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit(BpePattern)).cast("long").as("bpe_tokens"),
      TextAnalysis.charClassCount(col("text"), "(?U)[^\\w\\s]").as("punct_chars"),
      TextAnalysis.charClassCount(col("text"), "[0-9]").as("digit_chars"))
      .orderBy("doc_id")
  }

  val tokenStatsSql: String =
    s"""WITH ${OracleSql.TokCte}
       |SELECT d.doc_id,
       |  CAST(length(d.text) AS BIGINT) AS n_chars,
       |  CAST(len(docs_l.l) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       |  CAST(length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS punct_chars,
       |  CAST(length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars
       |FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- Language identification ------------------------------------------------
  def langId(s: SparkSession, dir: String): DataFrame = {
    // Tokenize ONCE into an attribute: five inline markerHits(tokenize(..))
    // copies would each re-run the regex+split (CollapseProject keeps a
    // non-cheap aliased expression shared when it's referenced many times,
    // but five syntactically separate copies are five evaluations).
    val hitCols = TextAnalysis.Markers.map { case (lang, _) =>
      TextAnalysis.markerHits(col("toks"), lang).cast("long").as(s"${lang}_hits")
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        Tokenizer.tokenize(col("text")).as("toks"))
      .select(col("doc_id") +: col("labeled_lang") +: hitCols: _*)
      .withColumn("predicted_lang", TextAnalysis.predictLang(
        TextAnalysis.Markers.map { case (lang, _) => lang -> col(s"${lang}_hits") }))
      .orderBy("doc_id")
  }

  private def markerListSql(lang: String): String =
    TextAnalysis.Markers.toMap.apply(lang).map(m => s"'$m'").mkString("[", ",", "]")

  val langIdSql: String = {
    val hitExprs = TextAnalysis.Markers.map { case (lang, _) =>
      s"CAST(len(list_filter(l, x -> list_contains(${markerListSql(lang)}, x))) AS BIGINT) AS ${lang}_hits"
    }.mkString(",\n  ")
    s"""WITH ${OracleSql.TokCte},
       |hits AS (
       |  SELECT d.doc_id, d.lang AS labeled_lang,
       |  $hitExprs
       |  FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id)
       |SELECT doc_id, labeled_lang, en_hits, de_hits, es_hits, fr_hits, zh_hits,
       |  CASE WHEN en_hits = 0 AND de_hits = 0 AND es_hits = 0 AND fr_hits = 0 AND zh_hits = 0 THEN 'und'
       |       WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
       |       WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
       |       WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
       |       WHEN fr_hits >= zh_hits THEN 'fr'
       |       ELSE 'zh' END AS predicted_lang
       |FROM hits ORDER BY doc_id""".stripMargin
  }

  // ---- Quality scoring --------------------------------------------------------
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    // one shared tokenize pass (aliased attribute, see langId)
    val toks = col("toks")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        Tokenizer.tokenize(col("text")).as("toks"))
      .select(col("doc_id"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        length(array_join(toks, "")).cast("double").as("token_chars"),
        length(col("text")).cast("double").as("n_chars"),
        TextAnalysis.markerHits(toks, "en").cast("double").as("stop_hits"),
        TextAnalysis.charClassCount(col("text"), "(?U)[^\\w\\s]").cast("double").as("punct"),
        TextAnalysis.charClassCount(col("text"), "[0-9]").cast("double").as("digits"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("token_chars") / col("n_tokens")).as("avg_token_len"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("stop_hits") / col("n_tokens")).as("stop_ratio"),
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("punct") / col("n_chars")).as("punct_ratio"),
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("digits") / col("n_chars")).as("digit_ratio"))
      .withColumn("quality",
        when(col("n_tokens") === 0, 0.0).otherwise(
          least(lit(1.0), col("avg_token_len") / 8.0) *
            (lit(1.0) - col("punct_ratio")) * (lit(1.0) - col("digit_ratio"))))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val en = markerListSql("en")
    s"""WITH ${OracleSql.TokCte},
       |m AS (
       |  SELECT d.doc_id,
       |    CAST(len(l) AS BIGINT) AS n_tokens,
       |    CAST(length(array_to_string(l, '')) AS DOUBLE) AS token_chars,
       |    CAST(length(d.text) AS DOUBLE) AS n_chars,
       |    CAST(len(list_filter(l, x -> list_contains($en, x))) AS DOUBLE) AS stop_hits,
       |    CAST(length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g')) AS DOUBLE) AS punct,
       |    CAST(length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
       |  FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE token_chars / n_tokens END AS avg_token_len,
       |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / n_tokens END AS stop_ratio,
       |    CASE WHEN n_chars = 0 THEN 0.0 ELSE punct / n_chars END AS punct_ratio,
       |    CASE WHEN n_chars = 0 THEN 0.0 ELSE digits / n_chars END AS digit_ratio
       |  FROM m)
       |SELECT doc_id, n_tokens, avg_token_len, stop_ratio, punct_ratio, digit_ratio,
       |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
       |    least(1.0, avg_token_len / 8.0) * (1.0 - punct_ratio) * (1.0 - digit_ratio)
       |  END AS quality
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---- Document fingerprint ---------------------------------------------------
  // ---- Unicode NFC normalization ---------------------------------------------
  // Testdata text is ASCII, so the query PLANTS a deterministic decomposed
  // sequence per doc (combining accents, Hangul jamo — the forms crawl
  // text actually mixes) and runs the native NfcNormalize expression over
  // it; the oracle applies DuckDB's nfc_normalize to the identically
  // planted text and compares digests byte-for-byte. len_raw > len_nfc on
  // every row proves composition actually happened (combining pairs fold
  // into one codepoint).
  private val NfcForms = Seq(
    "é",        // e + combining acute  -> é
    "Å",        // A + combining ring   -> Å
    "ö",        // o + combining diaeresis -> ö
    "가",   // Hangul jamo L+V      -> 가
    "ñ")        // n + combining tilde  -> ñ
  private val NfcFormsChr = Seq(
    "'e' || chr(769)", "'A' || chr(778)", "'o' || chr(776)",
    "chr(4352) || chr(4449)", "'n' || chr(771)")

  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val planted = element_at(
      array(NfcForms.map(lit): _*), (col("doc_id") % 5 + 1).cast("int"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40), planted).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("len_raw"),
        length(graft.plans.NfcNormalize.nfcNormalize(col("raw")))
          .cast("long").as("len_nfc"),
        md5(graft.plans.NfcNormalize.nfcNormalize(col("raw"))).as("nfc_digest"))
      .orderBy("doc_id")
  }

  val textNormalizeSql: String = {
    val forms = NfcFormsChr.mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  CAST(length(raw) AS BIGINT) AS len_raw,
       |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
       |  md5(nfc_normalize(raw)) AS nfc_digest
       |FROM (
       |  SELECT doc_id,
       |    substring(text, 1, 40) || $forms[CAST(doc_id % 5 AS INTEGER) + 1] AS raw
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    val toks = Tokenizer.tokenize(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextHash.fingerprint(toks).as("fp"),
      TextHash.hash64(substring(col("text"), 1, 64)).as("prefix_hash"))
      .orderBy("doc_id")
  }

  val docFingerprintSql: String =
    s"""WITH ${OracleSql.TokCte}
       |SELECT d.doc_id,
       |  ${OracleSql.fingerprint("l")} AS fp,
       |  ${OracleSql.hash64("substring(d.text, 1, 64)")} AS prefix_hash
       |FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- Composed curation pipeline --------------------------------------------
  def curationPipeline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .curate(Tables.documents(s, dir), minQuality = 0.4,
        keepLangs = Seq("en", "de", "es"))
      .orderBy("doc_id")

  /** The curation CTE chain (quality+lang gate → exact dedup → prefix
    * near-dedup), ending in `prefix_kept` — shared by the curation oracle
    * and the training-manifest oracle that packs the curated set.
    */
  private val CurationCtes: String =
    s"""${OracleSql.TokCte},
       |m AS (
       |  SELECT d.doc_id, d.lang, docs_l.l,
       |    CAST(len(l) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(l) = 0 THEN 0.0 ELSE
       |      least(1.0, (length(array_to_string(l, '')) * 1.0 / len(l)) / 8.0) *
       |      (1.0 - CASE WHEN length(d.text) = 0 THEN 0.0 ELSE
       |        (length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(d.text) END) *
       |      (1.0 - CASE WHEN length(d.text) = 0 THEN 0.0 ELSE
       |        (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g'))) * 1.0 / length(d.text) END)
       |    END AS quality,
       |    md5(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))) AS digest,
       |    ${OracleSql.fingerprint(s"l[1:${graft.operators.Curation.PrefixTokens}]")} AS prefix_fp
       |  FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id),
       |gated AS (
       |  SELECT * FROM m
       |  WHERE quality >= 0.4 AND lang IN ('en', 'de', 'es')),
       |exact_kept AS (
       |  SELECT * FROM (SELECT *,
       |    min(doc_id) OVER (PARTITION BY digest) AS keeper FROM gated)
       |  WHERE doc_id = keeper),
       |prefix_kept AS (
       |  SELECT * FROM (SELECT *,
       |    min(doc_id) OVER (PARTITION BY prefix_fp) AS pkeeper FROM exact_kept)
       |  WHERE doc_id = pkeeper)""".stripMargin

  val curationPipelineSql: String =
    s"""WITH $CurationCtes
       |SELECT doc_id, lang, n_tokens, CAST(quality AS DOUBLE) AS quality, prefix_fp
       |FROM prefix_kept ORDER BY doc_id""".stripMargin

  // ---- Context-window packing (concat-and-split plan) ------------------------
  // Which token span of which document lands in which fixed-size training
  // window — the pretraining data-loader shape. Sharded by doc_id % 8 so
  // the prefix-sum is partition-local (Packing scaladoc).
  private val PackWindow = 512
  private val PackShards = 8

  def packWindows(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      (col("doc_id") % PackShards).cast("long").as("shard"),
      col("doc_id"),
      Tokenizer.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.operators.Packing.contextWindows(docs, PackWindow)
      .orderBy("shard", "doc_id", "win")
  }

  /** The packing CTEs, over a `pdocs(shard, doc_id, n_tokens)` relation the
    * caller's WITH-chain must define (mirror of Packing.contextWindows);
    * exposes `segs` with the operator's output schema.
    */
  private val PackingSegCtes: String =
    s"""c AS (
       |  SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS BIGINT) AS start_tok
       |  FROM pdocs),
       |e AS (
       |  SELECT shard, doc_id, start_tok, n_tokens,
       |    unnest(generate_series(
       |      CAST(floor(start_tok / $PackWindow) AS BIGINT),
       |      CAST(floor((start_tok + n_tokens - 1) / $PackWindow) AS BIGINT)))
       |      AS win
       |  FROM c),
       |segs AS (
       |  SELECT shard, doc_id, win,
       |    CAST(greatest(start_tok, win * $PackWindow) - win * $PackWindow
       |      AS BIGINT) AS win_off,
       |    CAST(greatest(start_tok, win * $PackWindow) - start_tok
       |      AS BIGINT) AS doc_off,
       |    CAST(least(start_tok + n_tokens, (win + 1) * $PackWindow)
       |      - greatest(start_tok, win * $PackWindow) AS BIGINT)
       |      AS n_tokens_in_win
       |  FROM e)""".stripMargin

  private val PackingSqlTail: String =
    s"""$PackingSegCtes
       |SELECT shard, doc_id, win, win_off, doc_off, n_tokens_in_win
       |FROM segs ORDER BY shard, doc_id, win""".stripMargin

  val packWindowsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |pdocs AS (
       |  SELECT CAST(doc_id % $PackShards AS BIGINT) AS shard, doc_id,
       |    CAST(len(l) AS BIGINT) AS n_tokens
       |  FROM docs_l WHERE len(l) > 0),
       |$PackingSqlTail""".stripMargin

  // ---- Training manifest: curate -> pack, the composed end-to-end plan -------
  // The full data-loader input a pretraining run consumes: the curated,
  // deduplicated corpus packed into fixed context windows. One lazy plan;
  // the oracle composes the curation CTE chain with the packing tail.
  def trainingManifest(s: SparkSession, dir: String): DataFrame = {
    val curated = graft.operators.Curation
      .curate(Tables.documents(s, dir), minQuality = 0.4,
        keepLangs = Seq("en", "de", "es"))
    val docs = curated.select(
      (col("doc_id") % PackShards).cast("long").as("shard"),
      col("doc_id"), col("n_tokens"))
    graft.operators.Packing.contextWindows(docs, PackWindow)
      .orderBy("shard", "doc_id", "win")
  }

  val trainingManifestSql: String =
    s"""WITH $CurationCtes,
       |pdocs AS (
       |  SELECT CAST(doc_id % $PackShards AS BIGINT) AS shard, doc_id,
       |    n_tokens
       |  FROM prefix_kept WHERE n_tokens > 0),
       |$PackingSqlTail""".stripMargin

  // ---- Training manifest WITH decontamination: curate -> decontaminate ->
  //      pack. The complete pre-training input pipeline: benchmark members
  //      (doc_id % 97 == 0) never train, curated survivors sharing an
  //      n-gram with the benchmark are dropped, and only the clean set is
  //      packed into context windows. Decontamination scans curated
  //      survivors only (semi-join before the shingle pass) — at scale the
  //      expensive overlap check runs on the post-curation corpus, not the
  //      raw crawl.
  def trainingManifestClean(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val curated = graft.operators.Curation
      .curate(d, minQuality = 0.4, keepLangs = Seq("en", "de", "es"))
      .filter(col("doc_id") % 97 =!= 0)
    val corpusText = d.join(curated.select("doc_id"), Seq("doc_id"), "left_semi")
    val contaminated = graft.operators.Decontaminate.overlap(
        corpusText, d.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 3)
      .select(col("id").as("doc_id"))
    val clean = curated.join(contaminated, Seq("doc_id"), "left_anti")
    val docs = clean.select(
      (col("doc_id") % PackShards).cast("long").as("shard"),
      col("doc_id"), col("n_tokens"))
    graft.operators.Packing.contextWindows(docs, PackWindow)
      .orderBy("shard", "doc_id", "win")
  }

  val trainingManifestCleanSql: String = {
    val P = graft.functions.TextHash.P
    s"""WITH $CurationCtes,
       |th AS (SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM toks),
       |sh AS (
       |  SELECT DISTINCT t1.doc_id AS doc_id,
       |    (((t1.h * 1000003 + t2.h) % $P) * 1000003 + t3.h) % $P AS shingle
       |  FROM th t1
       |  JOIN th t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN th t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
       |train0 AS (
       |  SELECT doc_id, n_tokens FROM prefix_kept WHERE doc_id % 97 <> 0),
       |contaminated AS (
       |  SELECT DISTINCT s.doc_id
       |  FROM sh s JOIN train0 t ON s.doc_id = t.doc_id
       |  JOIN ev e ON s.shingle = e.shingle),
       |pdocs AS (
       |  SELECT CAST(doc_id % $PackShards AS BIGINT) AS shard, doc_id, n_tokens
       |  FROM train0 WHERE n_tokens > 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |$PackingSqlTail""".stripMargin
  }

  // ---- Vocabulary: corpus-wide top bigrams (tokenizer-training signal) -------
  private val VocabTopK = 50

  def vocabTopBigrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(bigramsOf(Tokenizer.tokenize(col("text")))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(VocabTopK)

  val vocabTopBigramsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |bg AS (
       |  SELECT t1.term || ' ' || t2.term AS bigram
       |  FROM toks t1 JOIN toks t2
       |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1)
       |SELECT bigram, CAST(count(*) AS BIGINT) AS n
       |FROM bg GROUP BY bigram
       |ORDER BY n DESC, bigram ASC LIMIT $VocabTopK""".stripMargin

  // ---- Blocklist (badwords) filter: the C4-style curation gate ---------------
  // Per-doc count of blocklisted tokens and the keep/drop decision —
  // entirely NARROW: the blocklist is a literal array folded into the
  // filter expression (at real scale: a broadcast variable), tokens never
  // explode, nothing shuffles. Both the total blocked occurrences and the
  // distinct blocked terms are reported; keep = blocked fraction < 5%.
  private val Blocklist = Seq("slow", "drop", "error")

  def blocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val bl = array(Blocklist.map(lit): _*)
    val toks = Tokenizer.tokenize(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("l"))
      .select(col("doc_id"),
        size(col("l")).cast("long").as("n_tokens"),
        size(filter(col("l"), t => array_contains(bl, t)))
          .cast("long").as("n_blocked"),
        size(array_intersect(array_distinct(col("l")), bl))
          .cast("long").as("n_blocked_terms"))
      .withColumn("keep", col("n_blocked").cast("double")
        < lit(0.05) * col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  val blocklistFilterSql: String = {
    val blSql = Blocklist.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH ${OracleSql.TokCte}
       |SELECT doc_id,
       |  CAST(len(l) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(l, t -> list_contains($blSql, t))) AS BIGINT)
       |    AS n_blocked,
       |  CAST(len(list_intersect(list_distinct(l), $blSql)) AS BIGINT)
       |    AS n_blocked_terms,
       |  CAST(len(list_filter(l, t -> list_contains($blSql, t))) AS DOUBLE)
       |    < 0.05 * CAST(len(l) AS DOUBLE) AS keep
       |FROM docs_l ORDER BY doc_id""".stripMargin
  }

  // ---- PMI collocations: which bigrams are REAL phrases ----------------------
  // Pointwise mutual information over the corpus bigram/unigram
  // distributions: pmi = ln(p(xy)/(p(x)p(y))). Two aggregations (bigram
  // counts, unigram counts) + two broadcast joins of a unigram table
  // SEMI-JOINED down to the terms the surviving bigrams reference — the
  // broadcast side is bounded by 2×|bigrams past the count floor| BY
  // CONSTRUCTION, where broadcasting the full vocabulary (1e8+ terms at
  // web-corpus scale) would OOM the driver. Selection is by deterministic
  // PREDICATE (count floor + pmi threshold), not a score-ordered cut, so
  // float ulps can't change which rows the oracle sees.
  private val PmiMinCount = 20L

  def tokenPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), Tokenizer.tokenize(col("text")).as("l"))
    val uni = toks.select(explode(col("l")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    // nu sums the FULL unigram distribution — computed before the trim
    val uniTotal = uni.agg(sum(col("cu")).cast("double").as("nu"))
    val bg = toks.select(explode(bigramsOf(col("l"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= PmiMinCount)
    val bgTotal = toks.select(
        greatest(size(col("l")) - 1, lit(0)).cast("long").as("k"))
      .agg(sum(col("k")).cast("double").as("nb"))
    // the bigram agg feeds both subtrees identically, so its shuffle
    // exchange is computed once and reused (AQE ReusedExchange)
    val bgTerms = bg.select(split(col("bigram"), " ").getItem(0).as("t"))
      .unionByName(bg.select(split(col("bigram"), " ").getItem(1).as("t")))
      .distinct()
    val uniNeeded = uni.join(bgTerms, Seq("t"), "left_semi")
    bg.withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(broadcast(uniNeeded.select(col("t").as("x"), col("cu").as("cx"))), "x")
      .join(broadcast(uniNeeded.select(col("t").as("y"), col("cu").as("cy"))), "y")
      .crossJoin(broadcast(uniTotal)).crossJoin(broadcast(bgTotal))
      // pmi pinned to the 1e-6 grid (tfidf house style): ln is not
      // correctly-rounded across libms, so identical inputs drift a ulp
      // between Spark and DuckDB — the grid absorbs it, and the >= 0.05
      // selection reads the pinned value so the row set can't flip
      .withColumn("pmi",
        round(log((col("cb").cast("double") / col("nb")) /
          ((col("cx").cast("double") / col("nu"))
            * (col("cy").cast("double") / col("nu")))) * 1e6) / 1e6)
      .filter(col("pmi") >= 0.05)
      .select(col("bigram"), col("cb").cast("long").as("n"),
        col("pmi").cast("double").as("pmi"))
      .orderBy("bigram")
  }

  val tokenPmiSql: String =
    s"""WITH ${OracleSql.TokCte},
       |uni AS (SELECT term AS t, count(*) AS cu FROM toks GROUP BY term),
       |ut AS (SELECT CAST(sum(cu) AS DOUBLE) AS nu FROM uni),
       |bg AS (
       |  SELECT t1.term || ' ' || t2.term AS bigram, count(*) AS cb
       |  FROM toks t1 JOIN toks t2
       |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  GROUP BY 1 HAVING count(*) >= $PmiMinCount),
       |bt AS (
       |  SELECT CAST(sum(greatest(len(l) - 1, 0)) AS DOUBLE) AS nb
       |  FROM docs_l),
       |scored AS (
       |  SELECT bigram, cb,
       |    round(ln((CAST(cb AS DOUBLE) / nb) /
       |      ((CAST(ux.cu AS DOUBLE) / nu) * (CAST(uy.cu AS DOUBLE) / nu)))
       |      * 1000000.0) / 1000000.0 AS pmi
       |  FROM bg
       |  JOIN uni ux ON ux.t = string_split(bigram, ' ')[1]
       |  JOIN uni uy ON uy.t = string_split(bigram, ' ')[2],
       |  ut, bt)
       |SELECT bigram, CAST(cb AS BIGINT) AS n, pmi
       |FROM scored WHERE pmi >= 0.05 ORDER BY bigram""".stripMargin

  /** Adjacent-token bigrams from a token-array column — one narrow
    * zip_with, no token self-join. Shared by docRepetition and
    * vocabTopBigrams (their SQL mirrors share the `bg` self-join CTE).
    */
  private def bigramsOf(l: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(l) >= 2,
      zip_with(slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
        (a, b) => concat_ws(" ", a, b))).otherwise(array().cast("array<string>"))

  // ---- Within-document repetition (Gopher-style filter signal) ---------------
  // ---- Repetition REMOVAL: collapse consecutive duplicate-token runs ---------
  // doc_repetition DETECTS looping text; this TRANSFORMS it — the
  // boilerplate-trim cleaning step that rewrites "buy now now now" to
  // "buy now". Pure declarative run-collapse: lag over (doc, pos) keeps a
  // token iff it differs from its predecessor, then the surviving tokens
  // reassemble in position order (sort_array over (pos, tok) structs — no
  // collect_list order dependence). Every shuffle is doc-keyed; the
  // rewrite is verified by md5 of the reassembled text so the oracle
  // proves the full string, not just counts.
  def collapseTokenRuns(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(Tokenizer.tokenize(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val kept = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNull || col("tok") =!= col("prev"))
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            st => st.getField("tok")))).as("clean_md5"))
      .join(toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_orig")), "doc_id")
      .select(col("doc_id"), col("n_orig"), col("n_kept"),
        (col("n_orig") - col("n_kept")).cast("long").as("n_removed"),
        col("clean_md5"))
      .orderBy("doc_id")
  }

  val collapseTokenRunsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |kept AS (
       |  SELECT doc_id, pos, term FROM (
       |    SELECT doc_id, pos, term,
       |      lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |    FROM toks) t
       |  WHERE prev IS NULL OR term <> prev),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    md5(string_agg(term, ' ' ORDER BY pos)) AS clean_md5
       |  FROM kept GROUP BY doc_id),
       |orig AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_orig
       |  FROM toks GROUP BY doc_id)
       |SELECT a.doc_id, o.n_orig, a.n_kept,
       |  CAST(o.n_orig - a.n_kept AS BIGINT) AS n_removed, a.clean_md5
       |FROM agg a JOIN orig o USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // Bigram duplication fraction + heaviest bigram per doc: high dup_frac
  // marks boilerplate/looping text. Bigrams come from one narrow zip_with
  // (no token self-join); the only shuffle is the per-(doc, bigram) count.
  def docRepetition(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(bigramsOf(Tokenizer.tokenize(col("text")))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
    val stats = per.groupBy("doc_id").agg(
      sum(col("c")).cast("long").as("n_bigrams"),
      count(lit(1)).cast("long").as("distinct_bigrams"),
      max(col("c")).cast("long").as("top_count"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("distinct_bigrams"), lit(0L)).as("distinct_bigrams"),
        when(col("n_bigrams").isNotNull,
          lit(1.0) - col("distinct_bigrams") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).cast("double").as("dup_frac"),
        coalesce(col("top_count"), lit(0L)).as("top_count"))
      .orderBy("doc_id")
  }

  val docRepetitionSql: String =
    s"""WITH ${OracleSql.TokCte},
       |bg AS (
       |  SELECT t1.doc_id, t1.term || ' ' || t2.term AS bigram
       |  FROM toks t1 JOIN toks t2
       |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
       |per AS (
       |  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
       |st AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |    CAST(count(*) AS BIGINT) AS distinct_bigrams,
       |    CAST(max(c) AS BIGINT) AS top_count
       |  FROM per GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(st.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(st.distinct_bigrams, 0) AS distinct_bigrams,
       |  CAST(CASE WHEN st.n_bigrams IS NOT NULL
       |    THEN 1.0 - st.distinct_bigrams * 1.0 / st.n_bigrams
       |    ELSE 0.0 END AS DOUBLE) AS dup_frac,
       |  COALESCE(st.top_count, 0) AS top_count
       |FROM docs_l d LEFT JOIN st ON d.doc_id = st.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- Top n-gram coverage (the rest of the Gopher repetition family) --------
  // doc_repetition measures how much of the doc is REPEATED bigrams; these
  // measure how much of the doc is covered by the single HEAVIEST n-gram
  // for n = 2, 3, 4 (Rae et al. 2021 "Gopher" filters threshold exactly
  // this: "fraction of characters in most common n-gram"). A page whose
  // top 4-gram covers a third of its tokens is a template, whatever its
  // bigram diversity looks like.
  //
  // One tokenize pass; n-grams are polynomial hashes over the hashMod'd
  // token array (TextHash.hashedShingles — no string re-concat), all three
  // n emitted from the same array. Shuffles: one (doc, n, gram) count, one
  // per-doc conditional max. top_n * n / n_tokens is a ratio of exact
  // integers, so the doubles match across engines bit-for-bit.
  def docRepetitionNgrams(s: SparkSession, dir: String): DataFrame = {
    // cached: both the gram explosion and the n_tokens side read the same
    // hashed token arrays — uncached, each consumer re-runs the Unicode
    // tokenize over the full corpus
    val base = Tables.documents(s, dir)
      .select(col("doc_id"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hashMod(t)).as("ths"))
      .registeredCache()
    val grams = base
      .select(col("doc_id"), explode(flatten(array(Seq(2, 3, 4).map(n =>
        transform(TextHash.hashedShingles(col("ths"), n),
          g => struct(lit(n).as("n"), g.as("g")))): _*))).as("ng"))
      .select(col("doc_id"), col("ng.n").as("n"), col("ng.g").as("g"))
    val tops = grams.groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max(when(col("n") === 2, col("c"))).as("t2"),
        max(when(col("n") === 3, col("c"))).as("t3"),
        max(when(col("n") === 4, col("c"))).as("t4"))
    def frac(n: Int, t: String) =
      when(col("n_tokens") > 0,
        (coalesce(col(t), lit(0L)) * n).cast("double") /
          col("n_tokens").cast("double"))
        .otherwise(lit(0.0)).cast("double")
    base
      .select(col("doc_id"), size(col("ths")).cast("long").as("n_tokens"))
      .join(tops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("t2"), lit(0L)).cast("long").as("top2"),
        coalesce(col("t3"), lit(0L)).cast("long").as("top3"),
        coalesce(col("t4"), lit(0L)).cast("long").as("top4"),
        frac(2, "t2").as("top2_frac"),
        frac(3, "t3").as("top3_frac"),
        frac(4, "t4").as("top4_frac"))
      .orderBy("doc_id")
  }

  val docRepetitionNgramsSql: String = {
    val P = graft.functions.TextHash.P
    s"""WITH ${OracleSql.TokCte},
       |th AS (SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM toks),
       |g2 AS (
       |  SELECT t1.doc_id, (t1.h * 1000003 + t2.h) % $P AS g
       |  FROM th t1 JOIN th t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
       |g3 AS (
       |  SELECT t1.doc_id,
       |    (((t1.h * 1000003 + t2.h) % $P) * 1000003 + t3.h) % $P AS g
       |  FROM th t1
       |  JOIN th t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN th t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2),
       |g4 AS (
       |  SELECT t1.doc_id,
       |    ((((t1.h * 1000003 + t2.h) % $P) * 1000003 + t3.h) % $P
       |      * 1000003 + t4.h) % $P AS g
       |  FROM th t1
       |  JOIN th t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN th t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
       |  JOIN th t4 ON t1.doc_id = t4.doc_id AND t4.pos = t1.pos + 3),
       |m2 AS (SELECT doc_id, max(c) AS t FROM (
       |  SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id),
       |m3 AS (SELECT doc_id, max(c) AS t FROM (
       |  SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g) GROUP BY doc_id),
       |m4 AS (SELECT doc_id, max(c) AS t FROM (
       |  SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY doc_id, g) GROUP BY doc_id),
       |nt AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens FROM docs_l)
       |SELECT d.doc_id, nt.n_tokens,
       |  CAST(COALESCE(m2.t, 0) AS BIGINT) AS top2,
       |  CAST(COALESCE(m3.t, 0) AS BIGINT) AS top3,
       |  CAST(COALESCE(m4.t, 0) AS BIGINT) AS top4,
       |  CAST(CASE WHEN nt.n_tokens > 0
       |    THEN CAST(COALESCE(m2.t, 0) * 2 AS DOUBLE) / nt.n_tokens
       |    ELSE 0.0 END AS DOUBLE) AS top2_frac,
       |  CAST(CASE WHEN nt.n_tokens > 0
       |    THEN CAST(COALESCE(m3.t, 0) * 3 AS DOUBLE) / nt.n_tokens
       |    ELSE 0.0 END AS DOUBLE) AS top3_frac,
       |  CAST(CASE WHEN nt.n_tokens > 0
       |    THEN CAST(COALESCE(m4.t, 0) * 4 AS DOUBLE) / nt.n_tokens
       |    ELSE 0.0 END AS DOUBLE) AS top4_frac
       |FROM docs_l d
       |JOIN nt ON d.doc_id = nt.doc_id
       |LEFT JOIN m2 ON d.doc_id = m2.doc_id
       |LEFT JOIN m3 ON d.doc_id = m3.doc_id
       |LEFT JOIN m4 ON d.doc_id = m4.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- STREAMING per-source quality monitor ----------------------------------
  // The live corpus-health dashboard: the corpus arrives as three staged
  // micro-batches and the STREAMING ENGINE maintains per-source doc count
  // + average quality in Complete mode. Per-doc quality quantizes to
  // integer micro-units before the stateful sum, so the streamed result
  // hash-matches the batch oracle under any arrival interleaving.
  private val stagedQualitySrc = new graft.Memo[String]

  private def stagedQualityDir(s: SparkSession, dir: String): String =
    stagedQualitySrc(dir)(graft.streaming.DocStreams
      .stagedDocSplits(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source")), nFiles = 3))

  def streamQualityBySource(s: SparkSession, dir: String): DataFrame =
    graft.streaming.DocStreams
      .qualityBySourceAvailableNow(s, stagedQualityDir(s, dir))

  val streamQualityBySourceSql: String =
    s"""WITH ${OracleSql.TokCte},
       |m AS (
       |  SELECT d.source,
       |    CAST(round((CASE WHEN len(l) = 0 THEN 0.0 ELSE
       |      least(1.0, (length(array_to_string(l, '')) * 1.0 / len(l)) / 8.0) *
       |      (1.0 - CASE WHEN length(d.text) = 0 THEN 0.0 ELSE
       |        (length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(d.text) END) *
       |      (1.0 - CASE WHEN length(d.text) = 0 THEN 0.0 ELSE
       |        (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g'))) * 1.0 / length(d.text) END)
       |    END) * 1000000) AS BIGINT) AS qm
       |  FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(CAST(sum(qm) AS BIGINT) AS DOUBLE) / 1000000.0
       |    / CAST(count(*) AS DOUBLE) AS avg_quality
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  // ---- Source quota (domain balancing) ---------------------------------------
  private val SourceQuotaN = 10

  def sourceQuota(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .sourceQuota(Tables.documents(s, dir), SourceQuotaN)
      .select(col("doc_id"), col("source"),
        col("quality").cast("double").as("quality"), col("src_rank"))
      .orderBy("doc_id")

  /** The quality formula as SQL (mirror of Curation.qualityOf), shared by
    * the curation and quota oracles.
    */
  private def qualitySql(l: String = "docs_l.l", d: String = "d"): String =
    s"""CASE WHEN len($l) = 0 THEN 0.0 ELSE
       |      least(1.0, (length(array_to_string($l, '')) * 1.0 / len($l)) / 8.0) *
       |      (1.0 - CASE WHEN length($d.text) = 0 THEN 0.0 ELSE
       |        (length($d.text) - length(regexp_replace($d.text, '[^\\w\\s]', '', 'g'))) * 1.0 / length($d.text) END) *
       |      (1.0 - CASE WHEN length($d.text) = 0 THEN 0.0 ELSE
       |        (length($d.text) - length(regexp_replace($d.text, '[0-9]', '', 'g'))) * 1.0 / length($d.text) END)
       |    END""".stripMargin

  val sourceQuotaSql: String =
    s"""WITH ${OracleSql.TokCte},
       |m AS (
       |  SELECT d.doc_id, d.source,
       |    ${qualitySql()} AS quality
       |  FROM documents d JOIN docs_l ON d.doc_id = docs_l.doc_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS src_rank
       |  FROM m)
       |SELECT doc_id, source, CAST(quality AS DOUBLE) AS quality, src_rank
       |FROM ranked WHERE src_rank <= $SourceQuotaN ORDER BY doc_id""".stripMargin

  // ---- Deterministic mixture sampling ----------------------------------------
  private val MixRates = Seq("en" -> 1.0, "de" -> 0.5, "es" -> 0.25)
  private val MixDefault = 0.05

  def mixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .mixtureSample(Tables.documents(s, dir), MixRates.toMap, MixDefault)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  val mixtureSampleSql: String = {
    val rateCase = MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $MixDefault END")
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ${OracleSql.hash64("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
       |  FROM documents)
       |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
       |FROM b WHERE bucket < ($rateCase) * 1000
       |ORDER BY doc_id""".stripMargin
  }

  // ---- Temperature-sampled mixture (p^alpha source reweighting) --------------
  // The pretraining-mix staple: rare sources upweighted by flattening the
  // source distribution with alpha < 1, overall volume held at a target
  // fraction. Keep/drop is the same md5 gate as mixture_sample; the
  // per-source thresholds derive from the corpus itself (one tiny count
  // aggregation, broadcast back), so the query is self-contained and the
  // oracle replays the identical arithmetic. CurationSpec pins that every
  // intermediate the gate depends on sits safely off rounding boundaries
  // at the gate SF (the AA-weight idiom).
  private val MixtureAlpha = 0.5
  private val MixtureTargetFraction = 0.5

  def mixtureTemperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .mixtureTemperature(Tables.documents(s, dir), MixtureAlpha,
        MixtureTargetFraction)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  val mixtureTemperatureSql: String =
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS DOUBLE) AS n
       |  FROM documents GROUP BY source),
       |tots AS (SELECT source, n, sum(n) OVER () AS nn FROM counts),
       |wts AS (
       |  SELECT source, n, nn,
       |    CAST(CAST(round(pow(n / nn, $MixtureAlpha) * 1000000.0) AS BIGINT)
       |      AS DOUBLE) / 1000000.0 AS w
       |  FROM tots),
       |rates AS (
       |  SELECT source,
       |    CAST(round(least(1.0,
       |      $MixtureTargetFraction * nn * (w / sum(w) OVER ()) / n)
       |      * 1000000.0) AS BIGINT) AS thr
       |  FROM wts)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN rates r USING (source)
       |WHERE ${OracleSql.hash64("CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.thr
       |ORDER BY d.doc_id""".stripMargin

  // ---- PII scrub (audit counts + scrubbed digest) ----------------------------
  // Testdata carries no real PII, so the query plants deterministic
  // doc_id-derived email/phone/IP strings, scrubs them back out, and
  // hash-checks the scrubbed text via md5 — proving the redaction
  // operator, not the synthetic data.
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com tel +1-555-123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" or (555) 123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" intl +44 20 7946 "),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".1 key "), md5(col("doc_id").cast("string"))).as("text"))
    graft.operators.Scrub.scrub(raw)
      .select(col("doc_id"), col("n_emails"), col("n_secrets"),
        col("n_phones"), col("n_ips"), col("scrub_digest"))
      .orderBy("doc_id")
  }

  val piiScrubSql: String = {
    val em = graft.operators.Scrub.EmailPattern
    val ph = graft.operators.Scrub.PhonePattern
    val ip = graft.operators.Scrub.Ipv4Pattern
    val sec = graft.operators.Scrub.SecretPattern
    s"""WITH raw AS (
       |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
       |    || '@example.com tel +1-555-123-'
       |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    || ' or (555) 123-'
       |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    || ' intl +44 20 7946 '
       |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 key '
       |    || md5(CAST(doc_id AS VARCHAR)) AS t
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      t, '$em', '<EMAIL>', 'g'), '$sec', '<SECRET>', 'g'),
       |      '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS scrubbed
       |  FROM raw)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(scrubbed, '<EMAIL>')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(scrubbed, '<SECRET>')) AS BIGINT) AS n_secrets,
       |  CAST(len(regexp_extract_all(scrubbed, '<PHONE>')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(scrubbed, '<IP>')) AS BIGINT) AS n_ips,
       |  md5(scrubbed) AS scrub_digest
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---- Decontamination: corpus docs overlapping the eval set by n-grams ------
  // Eval set = doc_id % 97 == 0 (a stand-in benchmark slice). Production
  // decontamination uses 8-13 grams (Decontaminate.overlap defaults to 8);
  // the synthetic corpus draws random words from a tiny vocabulary, so
  // genuine 8-gram collisions are nonexistent — n=3 exercises the identical
  // plan with a non-trivial result set (171 flagged docs at sf0.01).
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    graft.operators.Decontaminate.overlap(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
      .select(col("id").as("doc_id"),
        col("n_shared_shingles").cast("long").as("n_shared_shingles"),
        col("n_eval_docs").cast("long").as("n_eval_docs"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String = {
    val P = graft.functions.TextHash.P
    s"""WITH ${OracleSql.TokCte},
       |th AS (SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM toks),
       |sh AS (
       |  SELECT DISTINCT t1.doc_id AS doc_id,
       |    (((t1.h * 1000003 + t2.h) % $P) * 1000003 + t3.h) % $P AS shingle
       |  FROM th t1
       |  JOIN th t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN th t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2),
       |e AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0),
       |c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
       |SELECT c.doc_id,
       |  CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_shared_shingles,
       |  CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
       |FROM c JOIN e USING (shingle)
       |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- Unigram-LM quality signal (perplexity-style filter) -------------------
  // Per-document mean surprisal under the corpus's OWN unigram language
  // model: nll(d) = Σ_t tf(t,d)·ln(total_tokens / count(t)) / |d|.
  // Boilerplate built from the corpus's commonest tokens scores low;
  // rare-token gibberish scores high — the classic LM quality gate with
  // the n-gram order cut to 1 so both engines can mirror it exactly.
  //
  // Determinism and scale notes: QualityLm scaladoc. Tokenize lands once
  // in the registered-cached (doc,term,tf) aggregate inside the operator.
  def unigramNll(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityLm
      .unigramNllOfDocs(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .orderBy("doc_id")

  val unigramNllSql: String =
    s"""WITH ${OracleSql.TokCte},
       |tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |cnts AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cnt FROM tfs GROUP BY term),
       |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM tfs),
       |a AS (
       |  SELECT f.doc_id, f.tf,
       |    CAST(round(f.tf * ln(tot.total / c.cnt) * 1000000.0) AS BIGINT) AS addend
       |  FROM tfs f JOIN cnts c ON f.term = c.term CROSS JOIN tot)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  CAST(CAST(sum(addend) AS BIGINT) AS DOUBLE) / 1000000.0
       |    / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE) AS nll
       |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Bigram-LM quality signal (conditional surprisal) -----------------------
  // unigram_nll's higher-order sibling: per-document mean surprisal under
  // the corpus's OWN add-one-smoothed bigram model,
  //   P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V),
  // with V the corpus unigram vocabulary. Repetitive boilerplate (frequent
  // transitions) scores low, incoherent token salad scores high — and
  // unlike the unigram gate this one catches shuffled-word spam whose
  // unigram profile is perfectly normal. Prefix counts c(w1,·) are derived
  // from the same (doc,bigram,tf) aggregate that feeds the scoring join
  // (one registered cache, three consumers); V is a broadcast scalar.
  // Per-bigram addends round to micro-units and sum as integers — the
  // unigram_nll determinism device. The wide exchanges are the (doc,
  // bigram) partial agg and the bigram-keyed scoring join; both partition
  // on the data's natural keys and survive a 100x scale-up.
  def bigramNll(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), Tokenizer.tokenize(col("text")).as("toks"))
    val db = docs
      .select(col("doc_id"), explode(bigramsOf(col("toks"))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tfb"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .registeredCache()
    val cb = db.groupBy("bigram").agg(sum("tfb").as("cb"))
    val c1 = db.groupBy("w1").agg(sum("tfb").as("c1"))
    val v = docs.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("vs"))
    db.join(cb, "bigram").join(c1, "w1").crossJoin(broadcast(v))
      .withColumn("addend",
        round(col("tfb").cast("double")
          * log((col("c1") + col("vs")).cast("double")
            / (col("cb") + lit(1L)).cast("double")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("tfb")).cast("long").as("n_bigrams"),
        (sum(col("addend")).cast("double") / 1e6
          / sum(col("tfb")).cast("double")).as("nll"))
      .orderBy("doc_id")
  }

  val bigramNllSql: String =
    s"""WITH ${OracleSql.TokCte},
       |bg AS (
       |  SELECT t1.doc_id, t1.term || ' ' || t2.term AS bigram, t1.term AS w1
       |  FROM toks t1 JOIN toks t2
       |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
       |db AS (
       |  SELECT doc_id, bigram, w1, CAST(count(*) AS BIGINT) AS tfb
       |  FROM bg GROUP BY 1, 2, 3),
       |cb AS (SELECT bigram, CAST(sum(tfb) AS BIGINT) AS cb FROM db GROUP BY 1),
       |c1 AS (SELECT w1, CAST(sum(tfb) AS BIGINT) AS c1 FROM db GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS vs FROM toks),
       |a AS (
       |  SELECT db.doc_id, db.tfb,
       |    CAST(round(CAST(db.tfb AS DOUBLE)
       |      * ln(CAST(c1.c1 + v.vs AS DOUBLE) / CAST(cb.cb + 1 AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS addend
       |  FROM db JOIN cb USING (bigram) JOIN c1 USING (w1) CROSS JOIN v)
       |SELECT doc_id, CAST(sum(tfb) AS BIGINT) AS n_bigrams,
       |  CAST(CAST(sum(addend) AS BIGINT) AS DOUBLE) / 1000000.0
       |    / CAST(CAST(sum(tfb) AS BIGINT) AS DOUBLE) AS nll
       |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Hashed-feature linear quality classifier -------------------------------
  // The fastText-style model-serving shape (see operators/QualityClassifier):
  // tokens hash into a fixed 1024-bucket feature space, the doc logit is
  // the integer micro-unit sum of bucket weights — completely narrow, no
  // shuffle. Weights are md5-derived (a trained model swaps in a broadcast
  // array literal with the identical plan shape).
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityClassifier
      .score(Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("logit_micro"),
        col("quality"), col("label"))
      .orderBy("doc_id")

  val qualityClassifierSql: String = {
    val w = s"(${OracleSql.hash64(
      s"'qw_' || CAST(${OracleSql.hash64("term")} % 1024 AS VARCHAR)")} % 2001 - 1000)"
    s"""WITH ${OracleSql.TokCte},
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum($w) AS BIGINT) AS logit_micro
       |  FROM toks GROUP BY doc_id)
       |SELECT doc_id, n_tokens, logit_micro,
       |  CAST(logit_micro AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE)
       |    AS quality,
       |  CASE WHEN logit_micro >= 0 THEN 'keep' ELSE 'drop' END AS label
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---- Tokenizer coverage: OOV rate against a bounded vocabulary --------------
  // The tokenizer-design question "what fraction of each document falls
  // outside a top-K vocabulary". The vocabulary is top-K by corpus count
  // (count DESC, term ASC tiebreak — deterministic) and K-bounded, so it
  // BROADCASTS; the per-doc pass is then one left join + rollup. The token
  // table feeds the vocab build and the join — cache it.
  private val OovVocabK = 16

  def vocabOovRate(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    val toks = Tables.documents(s, dir).select(col("doc_id"),
        explode(Tokenizer.tokenize(col("text"))).as("term"))
      .registeredCache()
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(OovVocabK)
      .select(col("term"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("long")
          .as("oov_tokens"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  val vocabOovRateSql: String =
    s"""WITH ${OracleSql.TokCte},
       |vocab AS (
       |  SELECT term FROM toks GROUP BY term
       |  ORDER BY count(*) DESC, term ASC LIMIT $OovVocabK)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS oov_tokens,
       |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS oov_rate
       |FROM toks t LEFT JOIN vocab v ON t.term = v.term
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---- Cross-source overlap matrix --------------------------------------------
  // Corpus diagnostics: how much 10-token-span content does each pair of
  // sources share? The mirror-site / syndicated-boilerplate signal that
  // decides which sources to dedup against each other. Span set per source
  // is distinct-ed first, so a pair's count is "distinct shared spans";
  // a span shared by s sources contributes all C(s,2) pairs — candidate
  // volume is bounded by the SOURCE count squared per span, never by
  // corpus size. The distinct (source, span) table feeds both join sides —
  // cache it.
  private val OverlapSpanN = 10

  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    val sp = Tables.documents(s, dir).select(col("source"),
        transform(Tokenizer.tokenize(col("text")),
          t => TextHash.hashMod(t)).as("th"))
      .select(col("source"),
        explode(TextHash.hashedShingles(col("th"), OverlapSpanN)).as("span"))
      .distinct()
      .registeredCache()
    val a = sp.select(col("source").as("source_a"), col("span"))
    val b = sp.select(col("source").as("source_b"), col("span"))
    a.join(b, "span").filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("shared_spans"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String = {
    val w = OverlapSpanN - 1
    s"""WITH ${OracleSql.TokCte},
       |th AS (
       |  SELECT d.source, list_transform(l, x -> ${OracleSql.hashMod("x")}) AS hs
       |  FROM docs_l dl JOIN documents d ON dl.doc_id = d.doc_id
       |  WHERE len(l) >= $OverlapSpanN),
       |sp AS (
       |  SELECT DISTINCT source,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i:i+$w]),
       |      (a, b) -> (a * 1000003 + b) % 1000000007) AS span
       |  FROM (
       |    SELECT source, hs, unnest(generate_series(1, len(hs) - $w)) AS i
       |    FROM th) t)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS shared_spans
       |FROM sp a JOIN sp b ON a.span = b.span AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- Per-source distribution divergence -------------------------------------
  // Mixture-design diagnostic: how far does each source's unigram token
  // distribution sit from the corpus-wide one? KL(source ‖ corpus) needs
  // no smoothing — every source term is by construction a corpus term, so
  // the reference probability is never zero. Per-(source,term) addends are
  // rounded to 1e-9 units and summed as integers, making the result
  // independent of summation order (the same cross-engine determinism
  // device as unigram_nll). Plan: one tokenize pass into a registered-
  // cached (source,term,cnt) aggregate that feeds all three marginals;
  // per-source totals broadcast (source count is small by nature), the
  // corpus total is a broadcast scalar. The only wide exchange at any
  // scale is the (source,term) partial agg.
  def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    val st = Tables.documents(s, dir)
      .select(col("source"), explode(Tokenizer.tokenize(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .registeredCache()
    val stot = st.groupBy("source").agg(sum("cnt").as("tot_s"))
    val ct = st.groupBy("term").agg(sum("cnt").as("cnt_t"))
    val tot = st.agg(sum("cnt").as("tot"))
    val p = col("cnt").cast("double") / col("tot_s").cast("double")
    val m = col("cnt_t").cast("double") / col("tot").cast("double")
    st.join(ct, "term")
      .join(broadcast(stot), "source")
      .crossJoin(broadcast(tot))
      .withColumn("addend", round(p * log(p / m) * 1e9).cast("long"))
      .groupBy("source")
      .agg(max(col("tot_s")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_terms"),
        (sum("addend").cast("double") / 1e9).as("kl"))
      .orderBy("source")
  }

  val sourceDivergenceSql: String =
    s"""WITH ${OracleSql.TokCte},
       |st AS (
       |  SELECT d.source, t.term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
       |  GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot_s
       |         FROM st GROUP BY source),
       |ct AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS cnt_t
       |       FROM st GROUP BY term),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM st),
       |a AS (
       |  SELECT st.source, stot.tot_s,
       |    CAST(round((CAST(st.cnt AS DOUBLE) / CAST(stot.tot_s AS DOUBLE))
       |      * ln((CAST(st.cnt AS DOUBLE) / CAST(stot.tot_s AS DOUBLE))
       |           / (CAST(ct.cnt_t AS DOUBLE) / CAST(tot.tot AS DOUBLE)))
       |      * 1000000000.0) AS BIGINT) AS addend
       |  FROM st JOIN ct ON st.term = ct.term
       |  JOIN stot ON st.source = stot.source
       |  CROSS JOIN tot)
       |SELECT source, CAST(max(tot_s) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(addend) AS DOUBLE) / 1000000000.0 AS kl
       |FROM a GROUP BY source ORDER BY source""".stripMargin

  // ---- BPE tokenizer training -------------------------------------------------
  // Learn a byte-pair-encoding merge table from the corpus (see
  // operators/BpeTrainer): 6 rounds of highest-frequency adjacent-pair
  // merges over the word-TYPE frequency table. The oracle unrolls the
  // identical 6 rounds as CTE blocks — possible because the merge-apply
  // is a literal left-to-right string replace over boundary-delimited
  // symbol strings in both engines.
  private val BpeRounds = 6

  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrainer
      .trainOnDocs(Tables.documents(s, dir), "text", BpeRounds)
      .orderBy("round")

  /** Shared CTE chain: word freqs, delimited w0, and per-round
    * (pairs, best, rewritten-words) blocks p1..b1..w1 ... through
    * `BpeRounds` — the full unrolled training loop.
    */
  private val BpeCtes: String = {
    val roundCtes = (1 to BpeRounds).map { k =>
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT string_split(s, ' ') AS syms, freq,
         |      unnest(generate_series(1, len(string_split(s, ' ')) - 1)) AS i
         |    FROM w${k - 1}) t
         |  GROUP BY 1, 2),
         |b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |w$k AS (
         |  SELECT replace(w.s, b.l || ' ' || b.r,
         |    left(b.l, len(b.l) - 1) || substring(b.r, 2)) AS s, w.freq
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
       |       FROM toks GROUP BY term),
       |w0 AS (
       |  SELECT '|' || array_to_string(string_split(term, ''), '| |') || '|'
       |    AS s, freq
       |  FROM wf),
       |$roundCtes""".stripMargin
  }

  val bpeMergesSql: String = {
    val selects = (1 to BpeRounds).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS round, trim(l, '|') AS lhs,
         |  trim(r, '|') AS rhs,
         |  trim(left(l, len(l) - 1) || substring(r, 2), '|') AS merged, cnt
         |FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${OracleSql.TokCte},
       |$BpeCtes
       |$selects
       |ORDER BY round""".stripMargin
  }

  // Apply the learned merge table: segment every document into BPE units
  // (narrow chain of literal replaces per token) and report the
  // units-per-word compression — the "does the merge table fit this
  // corpus" diagnostic. Oracle reuses the unrolled training CTEs and
  // nests the same six replaces.
  def bpeSegment(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BpeTrainer
    val docs = Tables.documents(s, dir)
    val rules = BpeTrainer.learnRules(
      BpeTrainer.docFreqs(docs, "text"), BpeRounds)
    BpeTrainer.segmentUnits(docs, "doc_id", "text", rules)
      .select(col("id").as("doc_id"), col("n_words"), col("n_units"),
        col("units_per_word"))
      .orderBy("doc_id")
  }

  val bpeSegmentSql: String = {
    val delim = "'|' || array_to_string(string_split(term, ''), '| |') || '|'"
    val applied = (1 to BpeRounds).foldLeft(delim)((e, k) =>
      s"""replace($e, b$k.l || ' ' || b$k.r,
         |    left(b$k.l, len(b$k.l) - 1) || substring(b$k.r, 2))""".stripMargin)
    val crossJoins = (1 to BpeRounds).map(k => s"CROSS JOIN b$k").mkString(" ")
    s"""WITH ${OracleSql.TokCte},
       |$BpeCtes,
       |u AS (
       |  SELECT doc_id, len(string_split(
       |    $applied, ' ')) AS units
       |  FROM toks $crossJoins)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(units) AS BIGINT) AS n_units,
       |  CAST(CAST(sum(units) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS units_per_word
       |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- DSIR-style importance weighting ----------------------------------------
  // Hashed-bigram importance resampling weights toward a target domain
  // (src0 as the in-domain proxy): per-bucket smoothed log count-ratio
  // target-vs-corpus, per-doc mean in integer micro-nats. See
  // operators/Curation.importanceWeights for the 100 TB shape (cached
  // linear feature table, broadcast ≤dim weight table).
  def importanceWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .importanceWeights(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0")
      .select(col("id").as("doc_id"), col("n_feats"), col("imp"))
      .orderBy("doc_id")

  val importanceWeightsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |th AS (
       |  SELECT dl.doc_id, d.source = 'src0' AS tgt,
       |    list_transform(l, x -> ${OracleSql.hashMod("x")}) AS hs
       |  FROM docs_l dl JOIN documents d ON dl.doc_id = d.doc_id
       |  WHERE len(l) >= 2),
       |f AS (
       |  SELECT doc_id, tgt,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i:i+1]),
       |      (a, b) -> (a * 1000003 + b) % 1000000007) % 1024 AS b
       |  FROM (
       |    SELECT doc_id, tgt, hs,
       |      unnest(generate_series(1, len(hs) - 1)) AS i
       |    FROM th) t),
       |tc AS (SELECT b, count(*) AS ct FROM f WHERE tgt GROUP BY b),
       |rc AS (SELECT b, count(*) AS cr FROM f GROUP BY b),
       |tot AS (
       |  SELECT count(*) FILTER (WHERE tgt) AS nt, count(*) AS nr FROM f),
       |w AS (
       |  SELECT rc.b,
       |    CAST(round(ln(
       |      CAST((coalesce(tc.ct, 0) + 1) * (tot.nr + 1024) AS DOUBLE) /
       |      CAST((rc.cr + 1) * (tot.nt + 1024) AS DOUBLE)) * 1000000.0)
       |      AS BIGINT) AS lr_micro
       |  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |  CAST(CAST(sum(lr_micro) AS BIGINT) AS DOUBLE) / 1000000.0
       |    / CAST(count(*) AS DOUBLE) AS imp
       |FROM f JOIN w USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Deterministic training-data shuffle (loader batches) ------------------
  // A data loader must read the packed windows in SHUFFLED order — but the
  // shuffle has to be deterministic (resumable runs, reproducible
  // ablations), so RNG is out. Each window gets an md5 key; key mod B
  // picks its loader batch, and windows read within a batch in key order.
  // Scale: one aggregation per window (same keys the packing plan just
  // produced), then a row_number window partitioned by batch — B scales
  // with the cluster (16 here ∝ 32 local cores); no global sort, no RNG,
  // and re-keying with a different B is a narrow re-map.
  private val ShuffleBatches = 16

  def packShuffle(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      (col("doc_id") % PackShards).cast("long").as("shard"),
      col("doc_id"),
      Tokenizer.tokenCount(col("text")).cast("long").as("n_tokens"))
    val wins = graft.operators.Packing.contextWindows(docs, PackWindow)
      .groupBy("shard", "win")
      .agg(count(lit(1)).cast("long").as("n_segments"),
        sum(col("n_tokens_in_win")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("batch"))
      .orderBy(col("skey"), col("shard"), col("win"))
    wins
      .withColumn("skey",
        TextHash.hash64(concat_ws(":", col("shard"), col("win"))))
      .withColumn("batch", (col("skey") % ShuffleBatches).cast("long"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col("batch"), col("pos"), col("shard"), col("win"),
        col("n_segments"), col("n_tokens"))
      .orderBy("batch", "pos")
  }

  val packShuffleSql: String = {
    val key = OracleSql.hash64(
      "CAST(shard AS VARCHAR) || ':' || CAST(win AS VARCHAR)")
    s"""WITH ${OracleSql.TokCte},
       |pdocs AS (
       |  SELECT CAST(doc_id % $PackShards AS BIGINT) AS shard, doc_id,
       |    CAST(len(l) AS BIGINT) AS n_tokens
       |  FROM docs_l WHERE len(l) > 0),
       |$PackingSegCtes,
       |wins AS (
       |  SELECT shard, win, CAST(count(*) AS BIGINT) AS n_segments,
       |    CAST(sum(n_tokens_in_win) AS BIGINT) AS n_tokens
       |  FROM segs GROUP BY shard, win),
       |keyed AS (SELECT *, $key AS skey FROM wins)
       |SELECT CAST(skey % $ShuffleBatches AS BIGINT) AS batch,
       |  CAST(row_number() OVER (PARTITION BY skey % $ShuffleBatches
       |    ORDER BY skey, shard, win) - 1 AS BIGINT) AS pos,
       |  shard, win, n_segments, n_tokens
       |FROM keyed ORDER BY batch, pos""".stripMargin
  }

  // ---- Deterministic uniform per-group sampling ------------------------------
  // The hash-gate companion to source_quota: where the quota keeps the
  // HIGHEST-QUALITY docs per source, this keeps a UNIFORM deterministic
  // sample per language — rank by md5(doc_id) inside each group and keep
  // the N smallest. No RNG, stable under reruns and corpus growth that
  // doesn't touch a kept doc's hash rank, exactly reproducible in SQL.
  private val PerGroupN = 20

  def samplePerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(TextHash.hash64(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= PerGroupN)
      .orderBy("lang", "rk")
  }

  val samplePerGroupSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY ${OracleSql.hash64("CAST(doc_id AS VARCHAR)")}, doc_id)
       |      AS BIGINT) AS rk
       |  FROM documents)
       |SELECT doc_id, lang, rk FROM r WHERE rk <= $PerGroupN
       |ORDER BY lang, rk""".stripMargin

  // ---- Weighted priority sample -----------------------------------------------
  // Deterministic WEIGHT-PROPORTIONAL sampling (longer docs more likely):
  // each doc draws a uniform 60-bit md5 "ticket" and its priority key is
  // ticket ÷ weight (integer division — bit-identical across engines, no
  // ln/pow floats); the k smallest keys win. P(small key) grows with the
  // weight, so this is priority sampling with integer arithmetic — RNG-free,
  // reproducible, and mergeable at scale (top-k by key is a TakeOrdered,
  // not a global sort).
  private val WeightedN = 25

  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        expr(s"${hash64Sql("CAST(doc_id AS STRING)")} div greatest(n_chars, 1)")
          .as("wkey"))
      .orderBy(col("wkey").asc, col("doc_id").asc)
      .limit(WeightedN)
      .orderBy("doc_id")

  /** TextHash.hash64 as SQL text (Spark side). */
  private def hash64Sql(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  val sampleWeightedSql: String =
    s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |  ${OracleSql.hash64("CAST(doc_id AS VARCHAR)")} // greatest(n_chars, 1) AS wkey
       |FROM documents
       |ORDER BY wkey ASC, doc_id ASC
       |LIMIT $WeightedN""".stripMargin

  // ---- Overlapping chunk export (RAG / retrieval granularity) -----------------
  // Fixed-size token windows with stride < size (16-token overlap keeps
  // boundary-spanning phrases retrievable) — the export shape a retrieval
  // corpus or embedding-indexing job consumes. Chunk geometry is pure
  // integer arithmetic; the chunk text digest is md5 over the
  // space-joined token slice, identical in both engines. Narrow except
  // the per-doc explode; chunk count ∝ tokens/stride.
  private val ChunkSize = 64
  private val ChunkStride = 48

  def chunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), Tokenizer.tokenize(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("nc",
        when(col("n") <= ChunkSize, lit(1L))
          .otherwise(expr(s"(n - $ChunkSize + $ChunkStride - 1) div $ChunkStride") + 1))
    t.select(col("doc_id"), col("n"), col("toks"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * ChunkStride)
      .withColumn("len", least(lit(ChunkSize), col("n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        col("len").cast("long").as("len"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("start_tok") + 1).cast("int"),
            col("len").cast("int")))).as("chunk_digest"))
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkOverlapSql: String =
    s"""WITH ${OracleSql.TokCte},
       |sized AS (
       |  SELECT doc_id, l, len(l) AS n,
       |    CASE WHEN len(l) <= $ChunkSize THEN 1
       |         ELSE (len(l) - $ChunkSize + $ChunkStride - 1) // $ChunkStride + 1
       |    END AS nc
       |  FROM docs_l WHERE len(l) > 0),
       |idx AS (
       |  SELECT doc_id, l, n,
       |    unnest(generate_series(0, nc - 1)) AS chunk_idx
       |  FROM sized)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx * $ChunkStride AS BIGINT) AS start_tok,
       |  CAST(least($ChunkSize, n - chunk_idx * $ChunkStride) AS BIGINT) AS len,
       |  md5(array_to_string(
       |    l[(chunk_idx * $ChunkStride + 1):
       |      (chunk_idx * $ChunkStride + least($ChunkSize, n - chunk_idx * $ChunkStride))],
       |    ' ')) AS chunk_digest
       |FROM idx
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- Token-count histogram --------------------------------------------------
  // The length-distribution profile every curation run starts from:
  // fixed-width buckets over per-doc token counts. Pure integer
  // aggregation — one narrow pass plus one bucket-keyed shuffle.
  private val HistBucket = 25

  def tokenHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(Tokenizer.tokenCount(col("text")).as("n"))
      .groupBy(floor(col("n") / HistBucket).cast("long").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n")).cast("long").as("total_tokens"))
      .select(col("bucket"), (col("bucket") * HistBucket).as("lo"),
        ((col("bucket") + 1) * HistBucket - 1).as("hi"),
        col("n_docs"), col("total_tokens"))
      .orderBy("bucket")

  val tokenHistogramSql: String =
    s"""WITH ${OracleSql.TokCte},
       |n AS (SELECT CAST(len(l) AS BIGINT) AS n FROM docs_l),
       |b AS (
       |  SELECT CAST(floor(n / $HistBucket) AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS total_tokens
       |  FROM n GROUP BY 1)
       |SELECT bucket, bucket * $HistBucket AS lo,
       |  (bucket + 1) * $HistBucket - 1 AS hi, n_docs, total_tokens
       |FROM b ORDER BY bucket""".stripMargin

  // ---- Fill-in-middle transform (code-LM training data) ----------------------
  // PSM reordering for FIM pretraining: a deterministic middle span (the
  // 40%..60% character window) is cut out and the document re-emitted as
  // <PRE> prefix <SUF> suffix <MID> middle. Applied to a deterministic
  // half of the corpus (doc_id parity — the hash-gate convention of
  // mixture_sample, trivially oracle-mirrored); the rest passes through
  // unchanged, exactly the mixed-objective batch a FIM run trains on.
  // Entirely NARROW — per-row substring arithmetic, no shuffle but the
  // presentation sort; at 100 TB this is a map-only pass. Spans are
  // CHARACTER-based so both engines compute identical cuts (corpus is
  // single-byte text; a multi-byte corpus would need codepoint-aligned
  // substr on the Spark side, where length() counts UTF-16 units).
  def fimTransform(s: SparkSession, dir: String): DataFrame = {
    val n = length(col("text"))
    val a = floor(n.cast("double") * 0.4).cast("int")
    val b = floor(n.cast("double") * 0.6).cast("int")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), a.as("a"), b.as("b"), n.as("n"))
      .select(
        col("doc_id"),
        (col("doc_id") % 2 === 0).as("fim_applied"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<PRE>"), col("text").substr(lit(1), col("a")),
            lit("<SUF>"), col("text").substr(col("b") + 1, col("n") - col("b")),
            lit("<MID>"), col("text").substr(col("a") + 1, col("b") - col("a"))))
          .otherwise(col("text")).as("out_text"),
        when(col("doc_id") % 2 === 0, col("b") - col("a")).otherwise(lit(0))
          .cast("long").as("middle_len"))
      .orderBy("doc_id")
  }

  val fimTransformSql: String =
    """WITH cuts AS (
      |  SELECT doc_id, text,
      |    CAST(floor(length(text) * 0.4) AS INT) AS a,
      |    CAST(floor(length(text) * 0.6) AS INT) AS b,
      |    length(text) AS n
      |  FROM documents)
      |SELECT doc_id,
      |  doc_id % 2 = 0 AS fim_applied,
      |  CASE WHEN doc_id % 2 = 0 THEN
      |    '<PRE>' || substr(text, 1, a) ||
      |    '<SUF>' || substr(text, b + 1, n - b) ||
      |    '<MID>' || substr(text, a + 1, b - a)
      |  ELSE text END AS out_text,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN b - a ELSE 0 END AS BIGINT)
      |    AS middle_len
      |FROM cuts ORDER BY doc_id""".stripMargin

  // ---- Token entropy (lexical-diversity quality signal) ----------------------
  // Per-document Shannon entropy of the doc's OWN token distribution:
  // H = ln(n) − (Σ_t tf·ln(tf))/n. Low-entropy docs are repetitive spam
  // (few types dominating); high entropy near ln(n_distinct) is diverse
  // prose — the signal that catches keyword-stuffing the NLL gates miss
  // (stuffed tokens can be corpus-common). Each tf·ln(tf) addend is ONE
  // libm call quantized to integer micro-nats, so the per-doc sum is
  // order-free; the final formation (one more ln, one subtraction) is
  // pinned to the output micro grid. Map-side-combining (doc, term) agg →
  // per-doc agg: the same two-level shape as unigram_nll, no joins at all.
  def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Indexer.tokenPositions(
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("long").as("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(round(col("tf").cast("double") * log(col("tf").cast("double")) *
          lit(1000000.0)).cast("long")).as("sa"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        graft.Money.micros(
          log(col("n_tokens").cast("double")) -
            col("sa").cast("double") / lit(1000000.0) /
              col("n_tokens").cast("double")).as("entropy"))
      .orderBy("doc_id")

  val tokenEntropySql: String =
    s"""WITH ${OracleSql.TokCte},
       |tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |agg AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(sum(CAST(round(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))
       |      * 1000000.0) AS BIGINT)) AS BIGINT) AS sa
       |  FROM tfs GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct,
       |  ${graft.Money.microsSql(
          "ln(CAST(n_tokens AS DOUBLE)) - CAST(sa AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE)")}
       |    AS entropy
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---- Packing efficiency report ----------------------------------------------
  // The training-throughput audit over the pack_windows plan: per shard,
  // how many fixed-size windows the corpus fills, how many document
  // segments they contain, how many docs straddle a window boundary, and
  // the padding the final partial window wastes — the numbers that decide
  // window size and shard count before a real pretraining run. Pure
  // integer arithmetic over the packing segments (no floats anywhere).
  def packingEfficiency(s: SparkSession, dir: String): DataFrame = {
    val segs = packWindows(s, dir)
    val perDoc = segs.groupBy("shard", "doc_id")
      .agg(count(lit(1)).as("n_segs"))
    val splits = perDoc.groupBy("shard")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("n_segs") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_split_docs"))
    segs.groupBy("shard")
      .agg(countDistinct(col("win")).cast("long").as("n_windows"),
        count(lit(1)).cast("long").as("n_segments"),
        sum(col("n_tokens_in_win")).cast("long").as("n_tokens"))
      .join(splits, "shard")
      .select(col("shard"), col("n_windows"), col("n_segments"),
        col("n_docs"), col("n_split_docs"), col("n_tokens"),
        (col("n_windows") * PackWindow - col("n_tokens")).cast("long")
          .as("padding_tokens"))
      .orderBy("shard")
  }

  val packingEfficiencySql: String =
    s"""WITH ${OracleSql.TokCte},
       |pdocs AS (
       |  SELECT CAST(doc_id % $PackShards AS BIGINT) AS shard, doc_id,
       |    CAST(len(l) AS BIGINT) AS n_tokens
       |  FROM docs_l WHERE len(l) > 0),
       |$PackingSegCtes,
       |per_doc AS (
       |  SELECT shard, doc_id, count(*) AS n_segs FROM segs
       |  GROUP BY shard, doc_id),
       |splits AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN n_segs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_split_docs
       |  FROM per_doc GROUP BY shard),
       |per_shard AS (
       |  SELECT shard, CAST(count(DISTINCT win) AS BIGINT) AS n_windows,
       |    CAST(count(*) AS BIGINT) AS n_segments,
       |    CAST(sum(n_tokens_in_win) AS BIGINT) AS n_tokens
       |  FROM segs GROUP BY shard)
       |SELECT p.shard, p.n_windows, p.n_segments, s.n_docs, s.n_split_docs,
       |  p.n_tokens,
       |  CAST(p.n_windows * $PackWindow - p.n_tokens AS BIGINT)
       |    AS padding_tokens
       |FROM per_shard p JOIN splits s ON p.shard = s.shard
       |ORDER BY p.shard""".stripMargin

  // ---- Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) ---------
  // Robust local document fingerprinting: hash every K-token shingle, slide
  // a W-hash window over the shingle sequence, and keep the minimum hash of
  // each window. Guarantee: any shared run of at least W+K-1 tokens yields
  // at least one shared fingerprint, while only ~2/(W+1) of the shingles
  // are retained — the MOSS plagiarism-detection selection. Short documents
  // (fewer than W shingles) contribute their single whole-sequence minimum,
  // so every doc with >= K tokens has >= 1 fingerprint.
  //
  // Scale: selection is position-local (per-doc array ops, no shuffle at
  // all for the per-doc view); the overlap report joins on the fingerprint
  // hash — the exact key its distinct-agg just produced — with hot
  // fingerprints (df > MaxDf, corpus boilerplate) dropped BEFORE the
  // self-join, the same bucket-cap device the LSH dedups use, so no
  // fingerprint bucket can go quadratic at 100 TB.
  private val WinnowK = graft.operators.Winnow.DefaultK
  private val WinnowW = graft.operators.Winnow.DefaultW
  /** Stop-fingerprint cap FLOOR for the overlap join. The effective cap
    * derives from the corpus: max(16, ceil(N/1000)) — boilerplate means
    * "in a large FRACTION of docs", not "in more than 16 docs". A fixed
    * absolute cap has the fixed-partition-count disease inverted: at the
    * x100 probe (dup-factor 100) every replica-shared fingerprint has
    * df ~ 100, a fixed 16 dropped ALL of them, and the overlap report
    * silently returned zero rows — the bounding device destroyed the
    * signal it bounds. ceil-div is integer in both engines; at the test
    * SFs (N <= 10k) the derived cap equals the floor, so gate results
    * are unchanged.
    */
  private val WinnowMaxDf = 16

  /** (doc_id, fps: array<long>) — the distinct winnowed fingerprint set. */
  private def winnowFps(s: SparkSession, dir: String): DataFrame =
    graft.operators.Winnow.fingerprints(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      WinnowK, WinnowW)

  def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    winnowFps(s, dir).select(col("doc_id"),
      size(col("fps")).cast("long").as("n_fp"),
      aggregate(col("fps"), lit(0L),
        (a, x) => (a + x) % lit(TextHash.P)).as("fp_digest"))
      .orderBy("doc_id")

  /** Shared oracle CTE chain ending in sel(doc_id, fp) — the winnowed
    * fingerprint set. The window-min frame truncates at the partition end
    * exactly like Spark's slice(), so the short-doc single window agrees.
    */
  private val winnowSelCte: String = {
    val P = TextHash.P
    s"""${OracleSql.TokCte},
       |th AS (SELECT doc_id, pos, ${OracleSql.hashMod("term")} AS h FROM toks),
       |g4 AS (
       |  SELECT t1.doc_id, t1.pos,
       |    ((((t1.h * 1000003 + t2.h) % $P) * 1000003 + t3.h) % $P
       |      * 1000003 + t4.h) % $P AS g
       |  FROM th t1
       |  JOIN th t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN th t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
       |  JOIN th t4 ON t1.doc_id = t4.doc_id AND t4.pos = t1.pos + 3),
       |w AS (
       |  SELECT doc_id, pos,
       |    min(g) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM g4),
       |sel AS (
       |  SELECT DISTINCT doc_id, fp FROM w
       |  WHERE pos <= greatest(ng - $WinnowW, 0))""".stripMargin
  }

  val winnowFingerprintsSql: String =
    s"""WITH $winnowSelCte,
       |agg AS (
       |  SELECT doc_id, count(*) AS cnt,
       |    CAST(sum(fp) % ${TextHash.P} AS BIGINT) AS dig
       |  FROM sel GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(agg.cnt, 0) AS BIGINT) AS n_fp,
       |  CAST(coalesce(agg.dig, 0) AS BIGINT) AS fp_digest
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // The MOSS overlap report: pairs of documents sharing >= 2 winnowed
  // fingerprints, corpus-boilerplate fingerprints (df > the corpus-derived
  // cap, see WinnowMaxDf) excluded.
  def winnowOverlap(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).count()
    val maxDf = math.max(WinnowMaxDf.toLong, (n + 999L) / 1000L).toInt
    graft.operators.Winnow
      .overlap(winnowFps(s, dir), maxDf, minShared = 2)
      .orderBy("doc_a", "doc_b")
  }

  val winnowOverlapSql: String =
    s"""WITH $winnowSelCte,
       |kept AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM sel)
       |  WHERE df BETWEEN 2 AND (
       |    SELECT greatest($WinnowMaxDf, (count(*) + 999) // 1000)
       |    FROM documents))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- CCNet-style perplexity bucketing ---------------------------------------
  // Per-language head/middle/tail terciles by LM surprisal (CCNet, Wenzek
  // et al. 2020): docs whose unigram NLL falls below the language's 1/3
  // quantile are "head" (cleanest), below 2/3 "middle", else "tail".
  // Thresholds come from the exact-quantile operator (range-repartitioned
  // parallel rank — NOT a per-language global window, which would collapse
  // to one task per language at 100 TB) and broadcast back as a
  // languages-sized table. The NLL itself is the integer-micro-nat grid
  // from QualityLm, so thresholds and comparisons are cross-engine exact.
  def qualityBuckets(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    val docs = Tables.documents(s, dir)
    val nll = graft.operators.QualityLm
      .unigramNllOfDocs(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .registeredCache()
    val cuts = graft.operators.Quantiles
      .exactQuantiles(nll, "lang", "nll", Seq(1.0 / 3, 2.0 / 3))
    nll.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"),
        when(col("nll") <= col("q0"), "head")
          .when(col("nll") <= col("q1"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  val qualityBucketsSql: String =
    s"""WITH ${OracleSql.TokCte},
       |tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |cnts AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cnt FROM tfs GROUP BY term),
       |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM tfs),
       |a AS (
       |  SELECT f.doc_id, f.tf,
       |    CAST(round(f.tf * ln(tot.total / c.cnt) * 1000000.0) AS BIGINT) AS addend
       |  FROM tfs f JOIN cnts c ON f.term = c.term CROSS JOIN tot),
       |nl AS (
       |  SELECT doc_id,
       |    CAST(CAST(sum(addend) AS BIGINT) AS DOUBLE) / 1000000.0
       |      / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE) AS nll
       |  FROM a GROUP BY doc_id),
       |j AS (
       |  SELECT nl.doc_id, d.lang, nl.nll
       |  FROM nl JOIN documents d ON nl.doc_id = d.doc_id),
       |cuts AS (
       |  SELECT lang, quantile_cont(nll, 1.0/3) AS q0,
       |    quantile_cont(nll, 2.0/3) AS q1
       |  FROM j GROUP BY lang)
       |SELECT j.doc_id, j.lang,
       |  CASE WHEN nll <= q0 THEN 'head'
       |       WHEN nll <= q1 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM j JOIN cuts ON j.lang = cuts.lang
       |ORDER BY j.doc_id""".stripMargin

  // ---- Negative-sampling table (word2vec-style noise distribution) -----------
  // The unigram^0.75 sampling table a skip-gram trainer draws negatives
  // from: per term, a smoothed weight and its exclusive/inclusive
  // cumulative offsets — a sampler draws u in [0, total) and binary-
  // searches cum_start. Two determinism choices make it oracle-exact:
  // cnt^0.75 is computed as sqrt(sqrt(d*d*d)) with d = CAST(cnt AS
  // DOUBLE) — IEEE double multiply and sqrt are correctly-rounded in
  // BOTH engines, so the weight is bit-identical (no libm pow involved)
  // and, unlike cubing in long first, it cannot silently wrap at
  // cnt >= 2^21 (Spark wraps the long, DuckDB raises — the engines would
  // diverge instead of failing together) —
  // and the cumulative sum is an exact long prefix over ORDER BY term.
  // The global unpartitioned window is vocab-bounded (the BPE-trainer
  // bound, ~1e6 rows after min-count), not corpus-bounded; beyond that,
  // two-phase partial sums per partition + broadcast offsets.
  def negativeSamplingTable(s: SparkSession, dir: String): DataFrame = {
    val uni = graft.operators.Indexer.tokenPositions(
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .groupBy("term").agg(count(lit(1)).cast("long").as("cnt"))
    val cum = Window.orderBy("term")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uni
      .withColumn("d", col("cnt").cast("double"))
      .withColumn("weight",
        round(sqrt(sqrt(col("d") * col("d") * col("d"))) * 1000.0)
          .cast("long"))
      .drop("d")
      .withColumn("cum_end", sum(col("weight")).over(cum))
      .select(col("term"), col("cnt"), col("weight"),
        (col("cum_end") - col("weight")).as("cum_start"), col("cum_end"))
      .orderBy("term")
  }

  val negativeSamplingTableSql: String =
    s"""WITH ${OracleSql.TokCte},
       |u AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
       |d AS (SELECT term, cnt, CAST(cnt AS DOUBLE) AS dc FROM u),
       |w AS (
       |  SELECT term, cnt,
       |    CAST(round(sqrt(sqrt(dc * dc * dc)) * 1000.0)
       |      AS BIGINT) AS weight
       |  FROM d),
       |c AS (
       |  SELECT term, cnt, weight,
       |    CAST(sum(weight) OVER (ORDER BY term
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_end
       |  FROM w)
       |SELECT term, cnt, weight, cum_end - weight AS cum_start, cum_end
       |FROM c ORDER BY term""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "negative_sampling_table" -> (negativeSamplingTable _),
    "winnow_fingerprints" -> (winnowFingerprints _),
    "token_entropy" -> (tokenEntropy _),
    "packing_efficiency" -> (packingEfficiency _),
    "winnow_overlap" -> (winnowOverlap _),
    "quality_buckets" -> (qualityBuckets _),
    "fim_transform" -> (fimTransform _),
    "curation_pipeline" -> (curationPipeline _),
    "source_quota" -> (sourceQuota _),
    "mixture_sample" -> (mixtureSample _),
    "mixture_temperature" -> (mixtureTemperature _),
    "token_stats" -> (tokenStats _),
    "lang_id" -> (langId _),
    "quality_score" -> (qualityScore _),
    "doc_fingerprint" -> (docFingerprint _),
    "pack_windows" -> (packWindows _),
    "doc_repetition" -> (docRepetition _),
    "collapse_token_runs" -> (collapseTokenRuns _),
    "doc_repetition_ngrams" -> (docRepetitionNgrams _),
    "stream_quality_by_source" -> (streamQualityBySource _),
    "training_manifest" -> (trainingManifest _),
    "training_manifest_clean" -> (trainingManifestClean _),
    "vocab_top_bigrams" -> (vocabTopBigrams _),
    "blocklist_filter" -> (blocklistFilter _),
    "token_pmi" -> (tokenPmi _),
    "pii_scrub" -> (piiScrub _),
    "decontaminate" -> (decontaminate _),
    "unigram_nll" -> (unigramNll _),
    "bigram_nll" -> (bigramNll _),
    "quality_classifier" -> (qualityClassifier _),
    "importance_weights" -> (importanceWeights _),
    "vocab_oov_rate" -> (vocabOovRate _),
    "bpe_merges" -> (bpeMerges _),
    "bpe_segment" -> (bpeSegment _),
    "source_overlap" -> (sourceOverlap _),
    "source_divergence" -> (sourceDivergence _),
    "pack_shuffle" -> (packShuffle _),
    "sample_per_group" -> (samplePerGroup _),
    "sample_weighted" -> (sampleWeighted _),
    "text_normalize" -> (textNormalize _),
    "chunk_overlap" -> (chunkOverlap _),
    "token_histogram" -> (tokenHistogram _))

  val oracles: Map[String, String] = Map(
    "negative_sampling_table" -> negativeSamplingTableSql,
    "winnow_fingerprints" -> winnowFingerprintsSql,
    "token_entropy" -> tokenEntropySql,
    "packing_efficiency" -> packingEfficiencySql,
    "winnow_overlap" -> winnowOverlapSql,
    "quality_buckets" -> qualityBucketsSql,
    "fim_transform" -> fimTransformSql,
    "curation_pipeline" -> curationPipelineSql,
    "source_quota" -> sourceQuotaSql,
    "mixture_sample" -> mixtureSampleSql,
    "mixture_temperature" -> mixtureTemperatureSql,
    "token_stats" -> tokenStatsSql,
    "lang_id" -> langIdSql,
    "quality_score" -> qualityScoreSql,
    "doc_fingerprint" -> docFingerprintSql,
    "pack_windows" -> packWindowsSql,
    "doc_repetition" -> docRepetitionSql,
    "collapse_token_runs" -> collapseTokenRunsSql,
    "doc_repetition_ngrams" -> docRepetitionNgramsSql,
    "stream_quality_by_source" -> streamQualityBySourceSql,
    "training_manifest" -> trainingManifestSql,
    "training_manifest_clean" -> trainingManifestCleanSql,
    "vocab_top_bigrams" -> vocabTopBigramsSql,
    "blocklist_filter" -> blocklistFilterSql,
    "token_pmi" -> tokenPmiSql,
    "pii_scrub" -> piiScrubSql,
    "decontaminate" -> decontaminateSql,
    "unigram_nll" -> unigramNllSql,
    "bigram_nll" -> bigramNllSql,
    "quality_classifier" -> qualityClassifierSql,
    "importance_weights" -> importanceWeightsSql,
    "vocab_oov_rate" -> vocabOovRateSql,
    "bpe_merges" -> bpeMergesSql,
    "bpe_segment" -> bpeSegmentSql,
    "source_overlap" -> sourceOverlapSql,
    "source_divergence" -> sourceDivergenceSql,
    "pack_shuffle" -> packShuffleSql,
    "sample_per_group" -> samplePerGroupSql,
    "sample_weighted" -> sampleWeightedSql,
    "text_normalize" -> textNormalizeSql,
    "chunk_overlap" -> chunkOverlapSql,
    "token_histogram" -> tokenHistogramSql)
}
