package graft

import org.apache.spark.sql.functions._
import graft.operators.{Indexer, Search, BM25}

/** Hand-computed index + BM25 assertions on a 4-doc corpus
  * (SURVEY.md §5 test strategy 1 & 3).
  */
class IndexerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    ("d1", "spark makes big data simple"),
    ("d2", "big data big wins"),
    ("d3", "simple spark"),
    ("d4", "")
  ).toDF("doc_id", "text")

  test("postings: tf and sorted positions") {
    val p = Indexer.postings(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(2), r.getSeq[Int](3))).toMap
    assert(p(("big", "d2")) == (2, Seq(0, 2)))
    assert(p(("spark", "d1")) == (1, Seq(0)))
    assert(p(("data", "d2")) == (1, Seq(1)))
    assert(!p.keySet.exists(_._2 == "d4"))
  }

  test("termDf: distinct doc count per term") {
    val df = Indexer.termDf(Indexer.postings(docs))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(df("big") == 2)      // d1, d2 (tf 2 in d2 still df 1)
    assert(df("spark") == 2)    // d1, d3
    assert(df("wins") == 1)
  }

  test("docInfo: token counts incl. empty doc") {
    val di = Indexer.docInfo(docs).select("doc_id", "length")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(di == Map("d1" -> 5, "d2" -> 4, "d3" -> 2, "d4" -> 0))
  }

  test("BM25 formula matches hand computation") {
    // N=4, avgdl=(5+4+2+0)/4=2.75; query 'big': df=2, idf=ln(4/2)=ln 2
    // d2: tf=2, dl=4 -> ln2 * 2*2 / (2 + 1*(0.25 + 0.75*4/2.75))
    val res = Search.searchDocs(spark, docs, "big", k = 10)
      .collect().map(r => r.getAs[String]("doc_id") -> r.getAs[Double]("score")).toMap
    val idf = math.log(2.0)
    val d2 = idf * 2 * 2 / (2 + (0.25 + 0.75 * 4 / 2.75))
    val d1 = idf * 1 * 2 / (1 + (0.25 + 0.75 * 5 / 2.75))
    // displayed scores are pinned to the 1e-6 grid (Money.micros) — apply
    // the same grid to the hand computation, then compare exactly
    def micros(x: Double): Double = math.round(x * 1e6).toDouble / 1e6
    assert(res("d2") == micros(d2))
    assert(res("d1") == micros(d1))
    assert(res.size == 2)
  }

  test("multi-term query sums per-term scores; ties broken by doc_id") {
    val rows = Search.searchDocs(spark, docs, "simple spark", k = 10).collect()
    // d3 ('simple spark', dl=2) must outrank d1 (same terms, dl=5)
    assert(rows.head.getString(0) == "d3")
    assert(rows.map(_.getString(0)).toSet == Set("d1", "d3"))
    // scores strictly descending (no ties here, but ordering holds)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
  }

  test("query terms absent from index are dropped (P6 semi-join semantics)") {
    val rows = Search.searchDocs(spark, docs, "nonexistent simple", k = 10).collect()
    assert(rows.map(_.getString(0)).toSet == Set("d1", "d3"))
  }

  test("incremental append == full reindex on the union corpus") {
    val batch1 = Seq(("d1", "spark makes big data simple"),
      ("d2", "big data big wins")).toDF("doc_id", "text")
    val batch2 = Seq(("d3", "simple spark"), ("d4", "fresh words here"))
      .toDF("doc_id", "text")
    val full = batch1.union(batch2)
    val p1 = Indexer.postings(batch1)
    val (mp, mdf, mdi) = Indexer.appendIndex(
      (p1, Indexer.termDf(p1), Indexer.docInfo(batch1)), batch2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(key(mp) == key(Indexer.postings(full)))
    assert(key(mdf) == key(Indexer.termDf(Indexer.postings(full))))
    assert(key(mdi) == key(Indexer.docInfo(full)))
  }

  test("compaction collapses appended bucket files; results and plan survive") {
    val prefix = "graft_idx_compact_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 3 === 0), prefix)
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 3 === 1), prefix)
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 3 === 2), prefix)
    val before = Indexer.bucketFileCounts(spark, s"${prefix}_postings")
    assert(before.values.max >= 3, s"appends did not stack files: $before")
    val query = "spark filter join stream data"
    val resBefore = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
    assert(Indexer.compactBucketedIndex(spark, prefix, maxFilesPerBucket = 1),
      "compaction should trigger above the threshold")
    val after = Indexer.bucketFileCounts(spark, s"${prefix}_postings")
    assert(after.values.max == 1, s"buckets not collapsed to one file: $after")
    val compacted = Search.searchPrebuilt(spark, query, prefix)
    assert(compacted.collect().toSeq == resBefore,
      "compaction changed search results")
    // bucket spec survives: pruning + exchange-free term join intact
    val p = compacted.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), s"compacted scans not bucketed:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"term IN-list no longer prunes buckets after compaction:\n$p")
    assert(!p.contains("Exchange hashpartitioning(term"),
      s"term join shuffled a compacted index scan:\n$p")
    // below the threshold it is a no-op
    assert(!Indexer.compactBucketedIndex(spark, prefix, maxFilesPerBucket = 8))
  }

  test("text-index lifecycle fuzz: random op sequences end fresh-build-equal") {
    // the text sibling of SimilaritySpec's vector-index fuzz: seeded
    // random append / delete / compact / snapshot / rollback against a
    // model doc set; after every op the index's doc set must equal the
    // model, and the end state must SEARCH identically to a fresh build
    // over the final docs (no frozen-quantizer caveat here — text
    // postings are content-determined, so the equivalence is exact)
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val allIds = d.select("doc_id").collect().map(_.getLong(0)).toSet
    val initial = allIds.filter(_ % 3 == 0)
    val prefix = "graft_idx_fuzz_spec"
    def sub(ids: Set[Long]) = d.filter(col("doc_id").isin(ids.toSeq: _*))
    Indexer.buildBucketedIndex(spark, sub(initial), prefix)
    val query = "spark filter join stream data"
    def docSet: Set[Long] = spark.table(s"${prefix}_doc_info")
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    val rnd = new scala.util.Random(7)
    var model = initial
    var snap: Option[(String, Set[Long])] = None
    var snapN = 0
    val oplog = new StringBuilder
    (1 to 10).foreach { step =>
      rnd.nextInt(5) match {
        case 0 =>
          val pool = (allIds -- model).toSeq.sorted
          if (pool.nonEmpty) {
            val batch = rnd.shuffle(pool).take(1 + rnd.nextInt(30)).toSet
            oplog ++= s"append(${batch.size}); "
            Indexer.appendBucketedIndex(spark, sub(batch), prefix)
            model ++= batch
          }
        case 1 =>
          if (model.size > 40) {
            val victims = rnd.shuffle(model.toSeq.sorted)
              .take(1 + rnd.nextInt(20)).toSet
            oplog ++= s"delete(${victims.size}); "
            import spark.implicits._
            Indexer.deleteFromBucketedIndex(spark, prefix,
              victims.toSeq.toDF("doc_id"))
            model --= victims
          }
        case 2 =>
          oplog ++= "compact; "
          Indexer.compactBucketedIndex(spark, prefix, maxFilesPerBucket = 1)
        case 3 =>
          snapN += 1
          oplog ++= s"snapshot($snapN); "
          Indexer.snapshotIndex(spark, prefix, s"f$snapN")
          snap = Some((s"f$snapN", model))
        case 4 =>
          snap.foreach { case (tag, saved) =>
            oplog ++= s"rollback($tag); "
            Indexer.rollbackIndex(spark, prefix, tag)
            model = saved
            snap = None // consumed
          }
      }
      assert(docSet == model,
        s"step $step [$oplog]: indexed doc set drifted from the model")
    }
    Indexer.buildBucketedIndex(spark, sub(model), s"${prefix}_ref")
    val got = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
    val want = Search.searchPrebuilt(spark, query, s"${prefix}_ref")
      .collect().toSeq
    assert(got == want,
      s"[$oplog] end state searches differently from a fresh build")
  }

  test("compaction also merges doc_info append debris") {
    val prefix = "graft_idx_compinfo_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 3 === 0), prefix)
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 3 === 1), prefix)
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 3 === 2), prefix)
    val info = s"${prefix}_doc_info"
    assert(Indexer.tableFileCount(spark, info) >= 3,
      "appends did not stack doc_info files — fixture broken")
    val query = "spark filter join stream data"
    val resBefore = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
    // threshold 0 forces both stores over it, exercising the info path
    assert(Indexer.compactBucketedIndex(spark, prefix, maxFilesPerBucket = 0))
    assert(Indexer.tableFileCount(spark, info) <= Indexer.IndexBuckets,
      "doc_info append debris not merged")
    assert(Search.searchPrebuilt(spark, query, prefix).collect().toSeq
      == resBefore, "doc_info compaction changed search results")
  }

  test("shard merge == full build: results, term_df, layout all agree") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 2 === 0),
      "graft_idx_merge_sa")
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 2 === 1),
      "graft_idx_merge_sb")
    Indexer.mergeBucketedIndexes(spark, "graft_idx_merge_sa",
      "graft_idx_merge_sb", "graft_idx_merge_out")
    Indexer.buildBucketedIndex(spark, d, "graft_idx_merge_full")
    val query = "spark filter join stream data"
    val merged = Search.searchPrebuilt(spark, query, "graft_idx_merge_out")
    val full = Search.searchPrebuilt(spark, query, "graft_idx_merge_full")
    assert(merged.collect().toSeq == full.collect().toSeq,
      "merged shards rank differently from a from-scratch build")
    // term_df counts summed across shards == from-scratch df
    val gotDf = spark.table("graft_idx_merge_out_term_df")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val wantDf = spark.table("graft_idx_merge_full_term_df")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(gotDf == wantDf)
    // shuffle-free union layout: at most one file per bucket per shard
    val files = Indexer.bucketFileCounts(spark, "graft_idx_merge_out_postings")
    assert(files.values.max <= 2, s"merge stacked more files than its shards: $files")
    // bucket spec survives: pruning + exchange-free term join intact
    val p = merged.queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"),
      s"term IN-list does not prune the merged index:\n$p")
    assert(!p.contains("Exchange hashpartitioning(term"),
      s"term join shuffled a merged index scan:\n$p")
    // inputs are untouched and still searchable
    assert(Search.searchPrebuilt(spark, query, "graft_idx_merge_sa")
      .collect().nonEmpty)
  }

  test("memoized collection stats follow appends and deletes") {
    // searchPrebuilt reads (n_docs, avg_len) from a memo keyed by the
    // doc_info file set; every write must invalidate it, so after each
    // step the grown index must search like a fresh build of its docs
    // (built under a new prefix per step, which the memo has never seen)
    val prefix = "graft_idx_memo_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val query = "spark filter join stream data"
    def searchesLikeFreshBuild(step: String,
                               docs: org.apache.spark.sql.Column): Unit = {
      val ref = s"${prefix}_ref_$step"
      Indexer.buildBucketedIndex(spark, d.filter(docs), ref)
      val got = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
      val want = Search.searchPrebuilt(spark, query, ref).collect().toSeq
      assert(want.nonEmpty && got.map(_.get(0)) == want.map(_.get(0)) &&
        got.map(_.get(1)) == want.map(_.get(1)),
        s"after $step: $got != $want")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g.getAs[Double]("score") - w.getAs[Double]("score")) <= 1e-6,
          s"after $step: stale stats? $g != $w")
      }
    }
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 2 === 0), prefix)
    searchesLikeFreshBuild("build", col("doc_id") % 2 === 0)
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 2 === 1), prefix)
    searchesLikeFreshBuild("append", lit(true))
    Indexer.deleteFromBucketedIndex(spark, prefix,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    searchesLikeFreshBuild("delete", col("doc_id") % 5 =!= 0)
  }

  test("snapshot + rollback restores the pre-append index exactly") {
    val prefix = "graft_idx_rb_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 2 === 0), prefix)
    val query = "spark filter join stream data"
    val before = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
    val dfBefore = spark.table(s"${prefix}_term_df")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    Indexer.snapshotIndex(spark, prefix, "pre")
    // the "bad batch"
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 2 === 1), prefix)
    assert(Search.searchPrebuilt(spark, query, prefix).collect().toSeq != before,
      "append should change results (else the rollback test is vacuous)")
    Indexer.rollbackIndex(spark, prefix, "pre")
    assert(Search.searchPrebuilt(spark, query, prefix).collect().toSeq == before)
    val dfAfter = spark.table(s"${prefix}_term_df")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dfAfter == dfBefore)
    // the restored index keeps its bucketing: pruning + no term exchange
    val p = Search.searchPrebuilt(spark, query, prefix)
      .queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"),
      s"rolled-back index lost bucket pruning:\n$p")
    assert(!p.contains("Exchange hashpartitioning(term"),
      s"rolled-back index shuffles the term join:\n$p")
  }

  test("rollback to a tag with no snapshot throws and keeps the live index") {
    val prefix = "graft_idx_rbmiss_spec"
    Indexer.buildBucketedIndex(spark, docs, prefix)
    val query = "big data spark"
    val before = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
    assert(before.nonEmpty, "query matches nothing — the check is vacuous")
    intercept[Exception](Indexer.rollbackIndex(spark, prefix, "typo"))
    assert(Search.searchPrebuilt(spark, query, prefix).collect().toSeq == before,
      "a failed rollback changed the live index")
    // a second failed rollback must not drop anything either
    intercept[Exception](Indexer.rollbackIndex(spark, prefix, "typo"))
    assert(Search.searchPrebuilt(spark, query, prefix).collect().toSeq == before)
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(prefix) && n.endsWith("_old"))
    assert(left.isEmpty, s"failed rollback left tables: ${left.mkString(", ")}")
  }

  test("rollback to a snapshot lacking doc_info throws and swaps nothing") {
    val prefix = "graft_idx_rbpart_spec"
    Indexer.buildBucketedIndex(spark, docs.filter(col("doc_id") =!= "d3"), prefix)
    Indexer.snapshotIndex(spark, prefix, "pre")
    Indexer.appendBucketedIndex(spark, docs.filter(col("doc_id") === "d3"), prefix)
    val query = "simple spark"
    val before = Search.searchPrebuilt(spark, query, prefix).collect().toSeq
    assert(before.exists(_.getAs[String]("doc_id") == "d3"),
      "the appended doc is not served — a partial rollback would not show")
    spark.sql(s"DROP TABLE ${prefix}_pre_doc_info")
    intercept[Exception](Indexer.rollbackIndex(spark, prefix, "pre"))
    assert(Search.searchPrebuilt(spark, query, prefix).collect().toSeq == before,
      "a failed rollback changed the live index")
    Seq("postings", "term_df").foreach(t =>
      assert(spark.catalog.tableExists(s"${prefix}_pre_$t"),
        s"a failed rollback consumed the snapshot's $t"))
  }

  test("deletion purges postings, decrements term_df, drops vanished terms") {
    val prefix = "graft_idx_delete_spec"
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    Indexer.buildBucketedIndex(spark, d, prefix)
    val before = Search
      .searchPrebuilt(spark, "spark filter join stream data", prefix, 10)
      .collect().toSeq
    val toDelete = d.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
    val deletedIds = toDelete.collect().map(_.getLong(0)).toSet
    Indexer.deleteFromBucketedIndex(spark, prefix, toDelete)
    // postings and doc_info hold no trace of the deleted docs
    val pIds = spark.table(s"${prefix}_postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(pIds.intersect(deletedIds).isEmpty)
    val iIds = spark.table(s"${prefix}_doc_info")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(iIds.intersect(deletedIds).isEmpty)
    // term_df equals a from-scratch df over the remaining docs
    val expectDf = Indexer.termDf(Indexer.postings(
        d.filter(col("doc_id") % 7 =!= 0)))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val gotDf = spark.table(s"${prefix}_term_df")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(gotDf == expectDf)
    // no deleted doc lingers in the results
    val after = Search
      .searchPrebuilt(spark, "spark filter join stream data", prefix, 10)
      .collect().toSeq
    assert(after.forall(r => !deletedIds.contains(r.getAs[Long]("doc_id"))))
    assert(before.nonEmpty && after.nonEmpty)
    // delete doubles as compaction: one file per surviving bucket
    assert(Indexer.bucketFileCounts(spark, s"${prefix}_postings").values.max == 1)
  }

  test("idf floor: term in every doc gets idf ln(max(1, N/df))") {
    // 'big' in 2 of 4 docs -> N/df=2. A term in all docs: N/df=1 -> idf=0.
    val allDocs = Seq(("a", "x"), ("b", "x")).toDF("doc_id", "text")
    val res = Search.searchDocs(spark, allDocs, "x", k = 10).collect()
    assert(res.forall(_.getAs[Double]("score") == 0.0))
  }

  test("batchSearch cuts top-k on the RAW score, not the micros grid") {
    // ADVICE r11: the t_cut oracle convention (cut on raw, re-rank the
    // survivors on micros) diverges from a micros-grid cut ONLY on a
    // micros-rounding tie at the rank-k boundary, so the convention needs
    // exactly such a tie pinned. Construct one: two docs whose RAW BM25
    // scores differ by ~1e-7 (below the 1e-6 display grid) via a huge-avgdl
    // filler doc, with the raw LOSER holding the smaller doc_id — a
    // micros-cut at k=1 would tie and keep the smaller id ("a"); the raw
    // cut must keep the strictly-higher-scoring "b".
    def rawScore(dl: Int, avgdl: Double, idf: Double): Double =
      idf * 1.0 * 2.0 / (1.0 + 1.0 * (0.25 + (0.75 * dl.toDouble) / avgdl))
    def microsOf(x: Double): Long =
      BigDecimal(x * 1000000.0)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val idf = math.log(3.0 / 2.0) // 3 docs, df=2
    // search filler lengths around 3*3.3e6 for a micros collision of the
    // two raw-distinct scores (Spark's avg = sum.toDouble / count.toDouble)
    val fillerLen = (9900000 to 9990000).find { l =>
      val avgdl = (10L + 11L + l).toDouble / 3.0
      val (sb, sa) = (rawScore(10, avgdl, idf), rawScore(11, avgdl, idf))
      sb > sa && microsOf(sb) == microsOf(sa)
    }.getOrElse(fail("no micros-colliding filler length in range"))
    val avgdl = (10L + 11L + fillerLen).toDouble / 3.0
    val postings = Seq(("t", "a", 1), ("t", "b", 1)).toDF("term", "doc_id", "tf")
    val termDf = Seq(("t", 2)).toDF("term", "df")
    val docInfo = Seq(("a", 11, "doc a"), ("b", 10, "doc b"),
      ("f", fillerLen, "filler")).toDF("doc_id", "length", "title")
    val queries = Seq((1L, "t")).toDF("query_id", "query_text")
    // fixture validity, proven IN-ENGINE: at k=2 both docs survive and
    // their DISPLAYED (micros) scores are equal — the tie is real
    val both = Search.batchSearch(queries, postings, termDf, docInfo, k = 2)
      .select("doc_id", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(both("a") == both("b"),
      s"fixture regressed: displayed scores differ ($both) — no micros tie")
    // hand-check the raw scores really differ in the direction built
    assert(rawScore(10, avgdl, idf) > rawScore(11, avgdl, idf))
    // the convention: k=1 keeps the raw winner "b", never the micros-tie
    // smaller-id "a"
    val kept = Search.batchSearch(queries, postings, termDf, docInfo, k = 1)
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(kept == Seq("b"),
      s"top-k cut is not on the raw score: kept $kept (a micros-grid cut " +
        "breaks this tie toward the smaller doc_id)")
  }

  // build and append aggregate postings over one exchange hashed by term
  // into IndexBuckets partitions, so whatever the session's shuffle
  // partition count, each write lands one file per bucket
  Seq(3, 32).foreach { n =>
    test(s"one file per bucket per write at $n shuffle partitions") {
      val prefix = s"graft_idx_layout_$n"
      val d = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("text"))
      GraftSession.scoped(spark, "spark.sql.shuffle.partitions" -> n.toString) {
        Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 2 === 0), prefix)
        Seq("postings", "term_df").foreach { t =>
          val files = Indexer.bucketFileCounts(spark, s"${prefix}_$t")
          assert(files.keySet == (0 until Indexer.IndexBuckets).toSet &&
            files.values.forall(_ == 1), s"build wrote $t as $files")
        }
        Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 2 === 1), prefix)
        Seq("postings", "term_df").foreach { t =>
          val files = Indexer.bucketFileCounts(spark, s"${prefix}_$t")
          assert(files.values.max <= 2, s"one append stacked $t as $files")
        }
        assert(!Indexer.compactBucketedIndex(spark, prefix, 8),
          "one append already crossed the compaction threshold")
      }
    }
  }

  test("term_df after build + append equals a fresh build, one row per term") {
    // the append merges the bucketed term_df scan with the term-partitioned
    // batch in one union: a union that claimed its children's partitioning
    // without co-partitioning them would leave one partial row per side
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    Indexer.buildBucketedIndex(spark, d.filter(col("doc_id") % 3 =!= 0),
      "graft_idx_tdf_grown")
    Indexer.appendBucketedIndex(spark, d.filter(col("doc_id") % 3 === 0),
      "graft_idx_tdf_grown")
    Indexer.buildBucketedIndex(spark, d, "graft_idx_tdf_fresh")
    def rows(t: String) = spark.table(t).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    val grown = rows("graft_idx_tdf_grown_term_df")
    assert(grown.map(_._1).distinct.size == grown.size,
      "term_df holds more than one row for some term")
    assert(grown == rows("graft_idx_tdf_fresh_term_df"))
  }

  test("VectorIndex.build writes one forward-store file per bucket") {
    import graft.operators.VectorIndex
    val prefix = "graft_vec_layout"
    // five input partitions: without the exchange by id each task would
    // write its own file into every bucket it touches
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .repartition(5)
    VectorIndex.trainAndBuild(spark, emb, prefix, nlist = 8, iters = 1,
      pqM = 4, pqKs = 8)
    val files = Indexer.bucketFileCounts(spark, s"${prefix}_forward")
    assert(files.keySet == (0 until Indexer.IndexBuckets).toSet &&
      files.values.forall(_ == 1), s"forward store written as $files")
  }
}
