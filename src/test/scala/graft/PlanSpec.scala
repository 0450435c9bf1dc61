package graft

/** Plan-quality regression guards: assert the physical properties the
  * engine is designed around (pushdown, broadcast, top-k operator, no
  * accidental cartesian products) so later changes can't silently regress
  * them. String-level checks over the executed plan.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.all(name)(spark, dir).queryExecution.executedPlan.toString

  test("scan_filter pushes predicates and prunes columns at the parquet scan") {
    val p = plan("scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"),
      s"no pushed filters:\n$p")
    assert(!p.contains("l_comment") && !p.contains("l_partkey"),
      "scan reads columns the query never uses")
  }

  test("q3/q5 join small dimensions via broadcast, not shuffle, and plan TakeOrdered") {
    val p3 = plan("q3_shipping")
    assert(p3.contains("BroadcastHashJoin"), s"q3 lost its broadcast join:\n$p3")
    assert(p3.contains("TakeOrderedAndProject"), s"q3 top-k not TakeOrdered:\n$p3")
    val p5 = plan("q5_star_join")
    assert(p5.contains("BroadcastHashJoin"), "q5 lost its broadcast joins")
  }

  test("bm25_search plans broadcast term joins and partial aggregation") {
    val p = plan("bm25_search")
    assert(p.contains("BroadcastHashJoin"), "terms join should broadcast")
    assert(p.contains("HashAggregate"), "score sum should hash-aggregate")
    assert(p.contains("TakeOrderedAndProject"), "top-k should be TakeOrdered")
  }

  test("prebuilt-index search prunes term buckets and never shuffles the index scans") {
    val p = plan("bm25_search_prebuilt")
    assert(p.contains("Bucketed: true"), s"index scans not bucketed:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"term IN-list did not prune buckets:\n$p")
    assert(p.contains("In(term"), s"term filter not pushed to the scan:\n$p")
    assert(!p.contains("Exchange hashpartitioning(term"),
      s"term join shuffled a bucketed index scan:\n$p")
    // doc_info is read once, for length and title together: collection
    // stats come from the memo, not a per-query aggregate over doc_info
    val docInfoScans = "FileScan parquet \\S+_doc_info\\[".r.findAllIn(p).size
    assert(docInfoScans == 1, s"$docInfoScans doc_info scans, want 1:\n$p")
    // the k winners are re-sorted inside their single partition
    assert(!p.contains("rangepartitioning"),
      s"the top-k re-sort planned a range exchange:\n$p")
    // a warm point search (memo filled) runs at most 4 Spark jobs
    val query = Queries.all("bm25_search_prebuilt")
    query(spark, dir).collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      query(spark, dir).collect()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get > 0 && jobs.get <= 4,
      s"a point search over a persisted index ran ${jobs.get} jobs, want <= 4")
  }

  test("appended bucketed index keeps bucket pruning and shuffle-free term joins") {
    val p = plan("index_append_persisted")
    assert(p.contains("Bucketed: true"), s"appended index scans not bucketed:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"term IN-list did not prune buckets after append:\n$p")
    assert(!p.contains("Exchange hashpartitioning(term"),
      s"term join shuffled a bucketed index scan after append:\n$p")
  }

  test("decontaminate broadcasts the eval shingles; corpus side never pre-shuffles") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle postings should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"overlap join regressed to sort-merge (corpus-side shuffle):\n$p")
    // the md5 token transform is bound once through the shingle lambda —
    // a regression re-inlines it per slice and the plan string blows up
    assert(p.length < 20000, s"shingle expression re-inlined (plan ${p.length} chars)")
  }

  test("incremental near-dup broadcasts the batch bands; corpus is never self-paired") {
    val p = plan("dedup_incremental_near")
    assert(p.contains("BroadcastHashJoin"),
      s"new-batch band table should broadcast into the corpus probe:\n$p")
  }

  test("incremental exact dedup probes the bloom inside codegen, not a UDF") {
    val p = plan("dedup_incremental")
    assert(p.contains("graft_bloom_might_contain"),
      s"bloom gate missing from the plan:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("UDF("),
      s"bloom probe regressed to a codegen-breaking UDF:\n$p")
  }

  test("events_cube_daily expands grouping sets before ONE aggregation shuffle") {
    val p = plan("events_cube_daily")
    assert(p.contains("Expand"), s"cube should plan an Expand:\n$p")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"cube should shuffle once for the aggregation:\n$p")
  }

  test("pii_scrub computes narrowly — only the presentation sort exchanges") {
    val p = plan("pii_scrub")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1 && p.contains("Exchange rangepartitioning"),
      s"a per-row redaction should shuffle only for the output ORDER BY:\n$p")
  }

  test("vocab_top_bigrams plans partial aggregation and TakeOrdered top-k") {
    val p = plan("vocab_top_bigrams")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    assert(p.contains("HashAggregate"), s"bigram counts not hash-aggregated:\n$p")
  }

  test("boolean_search broadcasts the NOT postings and intersects in one aggregation") {
    val p = plan("boolean_search")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"NOT-term exclusion should be a broadcast anti join:\n$p")
    assert(p.contains("HashAggregate"),
      s"the AND intersection should be a hash aggregation, not a join chain:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"boolean search should never shuffle-join the postings:\n$p")
  }

  test("negative_sampling_table prefix-sums in one vocab-bounded window pass") {
    val p = plan("negative_sampling_table")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"cumulative offsets should plan a running window:\n$p")
    // the global ORDER BY window is the DOCUMENTED vocab-bounded single
    // partition (the BPE-trainer bound); a second hash exchange would mean
    // the unigram aggregation stopped combining map-side
    assert(p.split("Exchange hashpartitioning").length - 1 <= 1,
      s"unigram counts should shuffle once:\n$p")
  }

  test("q16 excludes flagged suppliers via broadcast anti before the distinct count") {
    val p = plan("q16_supplier_counts")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"NOT IN should decorrelate to a broadcast anti join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fact-side joins regressed to sort-merge:\n$p")
  }

  test("tfidf_keywords gets the rank<=k WindowGroupLimit pushdown") {
    // Spark inserts WindowGroupLimit (partial per-partition top-k pruning
    // BEFORE the doc_id exchange) for row_number()<=k filters — the
    // difference between sorting every (term, doc) score and sorting k+ε
    // per doc. A regression here silently sorts the whole score table.
    val p = plan("tfidf_keywords")
    assert(p.contains("WindowGroupLimit"), s"top-k pushdown lost:\n$p")
  }

  test("pack_shuffle reuses the packing window's shard partitioning") {
    // groupBy(shard, win) after a window partitioned by shard must NOT
    // add an exchange (HashPartitioning(shard) satisfies the clustering);
    // the only exchanges are: shard window, batch window, final sort.
    val p = plan("pack_shuffle")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 3,
      s"expected 3 exchanges (shard window, batch window, output sort), got $exchanges:\n$p")
  }

  test("more_like_this aggregates dots only for gated candidates") {
    // the candidate semi-join must sit BELOW the (probe, cand) dot
    // aggregation: a plan that aggregates first and gates after drags
    // whole posting lists through the shuffle to discard them
    val p = plan("more_like_this")
    val aggIdx = p.indexOf("partial_sum((wp")
    val semiIdx = p.indexOf("LeftSemi")
    assert(aggIdx >= 0 && semiIdx >= 0, s"missing dot agg or semi gate:\n$p")
    assert(semiIdx > aggIdx, // toString prints children below parents
      s"candidate gate planned above the dot aggregation:\n$p")
  }

  test("funnel stage chain joins on the user key without nested loops") {
    val p = plan("events_funnel")
    assert(!p.contains("CartesianProduct"), s"funnel went cartesian:\n$p")
    // the stage-1-count denominator is the only nested-loop (1-row) join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"funnel stages regressed to nested-loop joins:\n$p")
  }

  test("simhash candidate join is hash-based, not a nested loop") {
    val p = plan("dedup_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"simhash pair join regressed to a nested loop:\n$p")
  }

  test("embedding dedup candidates come from banded-LSH hash joins, never all-pairs") {
    val p = plan("dedup_embedding_cosine")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"embedding dedup regressed to an all-pairs join:\n$p")
  }

  test("centroid assignment argmax partial-aggregates; no window over the cross join") {
    // ivfAssignN's r7 scale fix: the per-vector centroid argmax must be a
    // map-side-collapsing aggregate, NOT a row_number window over the
    // N x nlist cross join (the window form sorted ~180 GB at the x100
    // probe's corpus-sized nlist with the 64-dim vector riding every row)
    for (q <- Seq("semantic_dedup_auto", "semantic_dedup")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q ranks centroids through a window over the cross join:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q assignment aggregate lost its partial (map-side) phase:\n$p")
    }
  }

  test("auto-geometry dedup twin keeps hash-join candidates, never all-pairs") {
    val p = plan("dedup_embedding_auto")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"auto-geometry embedding dedup regressed to an all-pairs join:\n$p")
  }

  test("lsh bucket assignment is narrow (no shuffle to compute buckets)") {
    val p = plan("ann_lsh")
    // round-1 form shuffled twice on vector id (posexplode + groupBy);
    // bucket bits are now per-row expressions, so the only hash exchanges
    // allowed are the ones keyed by probe_id for the final top-k window
    assert(!p.contains("Exchange hashpartitioning(id#"),
      s"bucket computation shuffles on vector id:\n$p")
  }

  test("media encode->decode->stats queries are narrow: one presentation sort only") {
    // the frame/window sequence lives inside each row's payload, so the
    // whole family must plan as scan -> mapPartitions -> sort with no
    // hash exchange anywhere (a Window or groupBy sneaking in would
    // shuffle per-media state that is local by construction)
    Seq("multimodal_video_stats", "video_scene_cuts", "audio_silence")
      .foreach { q =>
        val p = plan(q)
        val exchanges = "Exchange".r.findAllIn(p).size
        assert(exchanges == 1 && p.contains("Exchange rangepartitioning"),
          s"$q should shuffle only for the output ORDER BY:\n$p")
        assert(!p.contains("Window"), s"$q: no window expected:\n$p")
      }
  }

  test("grouped aggregations use partial (map-side) aggregation") {
    val p = plan("q1_agg")
    // partial + final pairs appear as two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("quality_classifier is fully narrow — only the presentation sort exchanges") {
    val p = plan("quality_classifier")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1 && p.contains("Exchange rangepartitioning"),
      s"hashed-feature scoring should shuffle only for the output ORDER BY:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("importance_weights broadcast-joins the bucket-weight table") {
    val p = plan("importance_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=dim weight table must broadcast against the feature stream:\n$p")
    assert(!p.toLowerCase.contains("sortmergejoin"),
      s"no shuffle join expected on the scoring path:\n$p")
  }

  test("vocab_oov_rate broadcast-joins the K-bounded vocabulary") {
    val p = plan("vocab_oov_rate")
    assert(p.contains("BroadcastHashJoin"),
      s"top-K vocab must broadcast against the token stream:\n$p")
  }

  test("dedup_passages keep-decision partial-aggregates; no hash-partition window") {
    val p = plan("dedup_passages")
    // groupBy(min(struct)) plans partial+final agg pairs (sort-based for
    // the struct min); a row_number window over the passage hash would be
    // the skew-unsafe formulation this operator explicitly avoids
    assert(!p.contains("Window"), s"window over hash partition is skew-unsafe:\n$p")
    assert("Aggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("ann_ivf_pq scores candidates through a broadcast list join, never sort-merge") {
    val p = plan("ann_ivf_pq")
    // the nprobe probe rows (with their ADC LUTs) broadcast into the
    // assigned-list probe; the PQ encode is a per-row expression, so no
    // exchange may land on the corpus side before the candidate join
    assert(p.contains("BroadcastHashJoin"),
      s"probe->list candidate join should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"candidate join regressed to sort-merge:\n$p")
  }

  test("proximity and snippet position joins stay hash-based") {
    val px = plan("proximity_search")
    assert(!px.contains("CartesianProduct") &&
      !px.contains("BroadcastNestedLoopJoin"),
      s"proximity pair join regressed to a nested loop:\n$px")
    val sn = plan("search_snippets")
    assert(sn.contains("BroadcastHashJoin"),
      s"top-10 doc filter should broadcast into the postings probe:\n$sn")
    assert(!sn.contains("CartesianProduct"),
      s"snippet window join went cartesian:\n$sn")
  }

  test("hybrid_rrf_prebuilt serves both arms from pruned persisted indexes") {
    // the serving contract of the hybrid twin: the text arm's IN-list must
    // prune the bucketed postings scan, the vector arm's probe->list join
    // must DPP-restrict the _vectors scan, and nothing may fall back to a
    // full-corpus documents/embeddings read
    val p = plan("hybrid_rrf_prebuilt")
    assert(p.contains("SelectedBucketsCount"),
      s"text arm lost bucket pruning:\n$p")
    assert(p.contains("In(term"), s"term filter not pushed to the scan:\n$p")
    assert(p.contains("dynamicpruning"),
      s"vector arm's list scan is not partition-pruned:\n$p")
    assert(!p.contains("documents.parquet") && !p.contains("embeddings.parquet"),
      s"hybrid serving read the corpus instead of the indexes:\n$p")
    // probe point-fetch must hit the forward store's id bucket, not scan
    // the cent_id-partitioned lists (which can't prune on id)
    assert(p.contains("_forward"),
      s"probe fetch bypassed the forward store:\n$p")
    assert(p.contains("SelectedBucketsCount: 1"),
      s"forward-store point fetch not bucket-pruned to one bucket:\n$p")
  }

  test("hybrid_rrf_batch_prebuilt keeps probe-derived pruning with a multi-probe set") {
    // the batch generalization must not lose what the point form pins:
    // IN-list bucket pruning on the text index, literal-id bucket pruning
    // on the forward fetch (3 probes land in >1 but <all of the 8
    // buckets), DPP on the candidate lists, and no corpus fallback
    val p = plan("hybrid_rrf_batch_prebuilt")
    assert(p.contains("SelectedBucketsCount"),
      s"text arm lost bucket pruning:\n$p")
    assert(p.contains("In(term"), s"term filter not pushed to the scan:\n$p")
    assert(p.contains("dynamicpruning"),
      s"vector arm's list scan is not partition-pruned:\n$p")
    assert(!p.contains("documents.parquet") && !p.contains("embeddings.parquet"),
      s"batch hybrid serving read the corpus instead of the indexes:\n$p")
    assert(p.contains("_forward"),
      s"probe fetch bypassed the forward store:\n$p")
    // the probe-id IN-list prunes the forward scan to fewer than all 8
    // buckets (the exact count depends on id hashing — assert pruned, not 8)
    val fwdPrune = "SelectedBucketsCount: (\\d) out of 8".r
      .findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(fwdPrune.exists(_ < 8),
      s"no scan in the batch plan is bucket-pruned below 8/8:\n$p")
  }

  test("mmr_rerank_batch_prebuilt serves the probe SET from pruned index tables") {
    val p = plan("mmr_rerank_batch_prebuilt")
    assert(p.contains("dynamicpruning"),
      s"candidate list scan is not partition-pruned:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"probe-set fetch not bucket-pruned on the forward store:\n$p")
    assert(!p.contains("embeddings.parquet"),
      s"batch MMR serving read the corpus instead of the index:\n$p")
  }

  test("mmr_rerank_prebuilt serves entirely from pruned index tables") {
    val p = plan("mmr_rerank_prebuilt")
    assert(p.contains("dynamicpruning"),
      s"candidate list scan is not partition-pruned:\n$p")
    assert(p.contains("SelectedBucketsCount: 1"),
      s"probe point fetch not bucket-pruned on the forward store:\n$p")
    assert(!p.contains("embeddings.parquet"),
      s"MMR serving read the corpus instead of the index:\n$p")
  }

  test("persisted vector index scan is dynamically pruned to the probed lists") {
    // the probe->list join lands on _vectors' cent_id partition column;
    // dynamic partition pruning must restrict the scan to the nprobe
    // lists — the on-disk inverted-file contract (losing this reads the
    // whole corpus per query)
    val p = plan("ann_ivf_pq_prebuilt")
    assert(p.contains("dynamicpruning"),
      s"vector list scan is not partition-pruned:\n$p")
  }

  test("bm25_rm3 keeps the flagship's broadcast + TakeOrdered shape") {
    val p = plan("bm25_rm3")
    assert(p.contains("BroadcastHashJoin"),
      s"weighted term table should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("multi-probe LSH stays hash-joined; ingest gates broadcast, never cartesian") {
    val mp = plan("ann_lsh_multiprobe")
    assert(!mp.contains("CartesianProduct") &&
      !mp.contains("SortMergeJoin"),
      s"multi-probe collision join regressed:\n$mp")
    val ig = plan("ingest_pipeline")
    assert(ig.contains("BroadcastHashJoin"),
      s"ingest gate joins should broadcast the batch side:\n$ig")
    assert(!ig.contains("CartesianProduct"),
      s"an ingest gate went cartesian:\n$ig")
  }

  test("skew_report's top-10 plans TakeOrdered, not a global window") {
    val p = plan("skew_report")
    assert(p.contains("TakeOrderedAndProject"),
      s"heavy-key top-10 should be TakeOrdered:\n$p")
    assert(!p.contains("Window"),
      s"a single-task global window over per-key counts is the anti-shape:\n$p")
  }

  test("bucketed_join consumes the bucket layout: sort-merge, zero join exchanges") {
    val p = plan("bucketed_join")
    assert(p.contains("SortMergeJoin"), s"co-located join should sort-merge:\n$p")
    assert(p.contains("Bucketed: true"), s"scans do not report bucketing:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join re-shuffled a side the layout already co-located:\n$p")
  }

  test("partitioned_prune pushes day literals to directory-level pruning") {
    val p = plan("partitioned_prune")
    assert(p.contains("PartitionFilters: ["),
      s"no partition filters at the scan:\n$p")
    assert(p.contains("2024-01-04"),
      s"day IN-list did not reach the partition filter:\n$p")
  }

  test("partitioned_dpp derives the fact partition list from the dim at runtime") {
    val p = plan("partitioned_dpp")
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery on the fact scan:\n$p")
  }

  test("q7 role-playing nation joins broadcast; q15 argmax joins back via broadcast") {
    val p7 = plan("q7_volume_shipping")
    assert(p7.contains("BroadcastHashJoin"), s"q7 lost its broadcasts:\n$p7")
    assert(!p7.contains("CartesianProduct"), s"q7 planned a cartesian:\n$p7")
    val p15 = plan("q15_top_supplier")
    assert(p15.contains("BroadcastHashJoin"),
      s"q15 max-row should broadcast back over the aggregate:\n$p15")
  }

  test("new TPC-H shapes: semi/anti stay hash-joined, top-20 is TakeOrdered, dims broadcast") {
    val p4 = plan("q4_order_priority")
    assert(p4.contains("LeftSemi"), s"q4 EXISTS should plan a semi join:\n$p4")
    assert(!p4.contains("CartesianProduct"), s"q4 cartesian:\n$p4")
    val p10 = plan("q10_returned_items")
    assert(p10.contains("TakeOrderedAndProject"), s"q10 top-20 not TakeOrdered:\n$p10")
    assert(p10.contains("BroadcastHashJoin"),
      s"q10 customer/nation should attach to the 20 winners by broadcast:\n$p10")
    val p19 = plan("q19_disjunctive")
    assert(p19.contains("BroadcastHashJoin") && !p19.contains("CartesianProduct"),
      s"q19 part join must stay a broadcast equi-join with residual disjunction:\n$p19")
    val p21 = plan("q21_sole_returner")
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"),
      s"q21 correlations must decorrelate to hash joins:\n$p21")
    assert(p21.contains("partial_count") || p21.contains("partial"),
      s"q21 order-level stats should partial-aggregate:\n$p21")
  }

  test("hybrid RRF fusion stays arm-bounded: top-k arms, broadcast fusion, no cartesian") {
    val p = plan("hybrid_rrf_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"the BM25 arm's top-k must stay TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the fused ≤10-row list should broadcast into documents:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"fusion planned a cartesian:\n$p")
  }

  test("q2 argmin join-back reuses the cached offer aggregate; q12 pushes the ship window") {
    val p2 = plan("q2_min_cost_supplier")
    assert(p2.contains("InMemoryTableScan"),
      s"q2 offers referenced twice must come from the registered cache, not two fact scans:\n$p2")
    assert(p2.contains("BroadcastHashJoin"), s"q2 dims/per-part min should broadcast:\n$p2")
    assert(!p2.contains("CartesianProduct"), s"q2 planned a cartesian:\n$p2")
    assert(p2.contains("TakeOrderedAndProject"), s"q2 top-100 not TakeOrdered:\n$p2")
    val p12 = plan("q12_shipmode_priority")
    assert(p12.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q12 ship window did not reach the lineitem scan:\n$p12")
    assert(!p12.contains("CartesianProduct"), s"q12 planned a cartesian:\n$p12")
    assert(p12.contains("partial_sum"),
      s"q12 conditional counts should partial-aggregate before the exchange:\n$p12")
  }

  test("fuzzy_match blocks on the token equi-join — no cartesian over the dictionary") {
    val p = plan("fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy ER must candidate-generate via the blocking join:\n$p")
  }

  test("source_divergence broadcasts the per-source totals and the corpus scalar") {
    val p = plan("source_divergence")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals should broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus-total scalar should broadcast:\n$p")
  }

  test("quantile_bins assigns bins narrowly — no global single-partition window") {
    val p = plan("quantile_bins")
    // Window in this plan may only be the Quantiles operator's salted
    // (pid, g) form; a global `Window [partitionBy []]`-style sort would
    // serialize the scan at scale.
    assert(!p.contains("Window [") || p.contains("pid"),
      s"bin assignment regressed to a global window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"boundaries should broadcast to the assignment scan:\n$p")
  }

  test("bm25_fuzzy_search expands against term_df then keeps the flagship shape") {
    val p = plan("bm25_fuzzy_search")
    assert(p.contains("levenshtein"),
      s"expansion must verify with the exact edit distance:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbounded cartesian:\n$p")
  }

  test("blocklist_filter is fully narrow — only the presentation sort exchanges") {
    val p = plan("blocklist_filter")
    val exchanges = "Exchange".r.findAllIn(p.replace("BroadcastExchange", "")).size
    assert(exchanges <= 1, s"blocklist gate must not shuffle the corpus:\n$p")
    assert(!p.contains("Generate"), s"token array must not explode:\n$p")
  }

  test("knn_graph candidates come from equi hash joins with the top-k pushed down") {
    val p = plan("knn_graph")
    // every join must stay an equi hash join — (band, sig) collisions for
    // candidates, id keys for the vector attach. At this SF the planner
    // rightly broadcasts the tiny table; at scale the same plan degrades
    // to shuffle joins by stats. What must NEVER appear is an all-pairs
    // fallback.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"kNN graph fell back to all-pairs:\n$p")
    // TWO pushed window limits: the per-source top-k AND the r7
    // neighbor-side bucket occupancy cap — if either loses its
    // WindowGroupLimit, that window sorts its full partition
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank<=k and the bucket cap should both push into their window sorts:\n$p")
  }

  test("hll shard sketches use partial (map-side) sketch aggregation") {
    val p = plan("hll_shard_union")
    // DataSketches agg must show partial+final like any hash agg — the
    // shuffle moves fixed-size sketch states, not raw tokens
    assert(p.contains("partial_hllsketchagg") || p.contains("partial_hll"),
      s"per-shard sketches must combine map-side:\n$p")
  }

  test("token_pmi broadcasts the unigram table against filtered bigrams") {
    val p = plan("token_pmi")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary-sized unigram attach should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbounded cartesian:\n$p")
    // the broadcast side must be the SEMI-JOIN-trimmed unigram table —
    // bounded by the surviving bigrams' terms, never the full vocabulary
    // (1e8+ terms at web scale = guaranteed driver OOM)
    assert(p.contains("LeftSemi"),
      s"broadcast side is the untrimmed vocabulary:\n$p")
  }

  test("hybrid_rrf_bulk plans joins only — no request-derived literals anywhere") {
    val p = plan("hybrid_rrf_bulk")
    // the batch form's fingerprints, which cap it at driver scale: literal
    // term/id IN-lists pushed into the index scans, and a driver-side
    // local relation for the requests. The bulk form must have NEITHER —
    // its requests enter as a file scan and prune by JOIN, the only shape
    // that survives a 10M-request offline sweep.
    assert(!p.contains("In(term"),
      s"request terms leaked into a literal IN-list:\n$p")
    assert(!p.contains("In(id"),
      s"request ids leaked into a literal IN-list:\n$p")
    assert(!p.contains("LocalTableScan"),
      s"a driver-side literal relation rode into the bulk plan:\n$p")
    // the stored layout still serves both arms
    assert(p.contains("Bucketed: true"),
      s"bulk serving lost the bucketed index scans:\n$p")
  }

  test("link prediction hub-caps degrees before a hash-based wedge join") {
    val p = plan("graph_link_prediction")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration fell back to a non-hash join:\n$p")
    // the deg <= cap filter must sit on the wedge-center side BEFORE the
    // self-join — one uncapped boilerplate hub fans out deg² wedges
    assert(p.contains("<= 64"),
      s"hub degree cap missing from the wedge join input:\n$p")
  }
}
