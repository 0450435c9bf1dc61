package graft

/** Dev tool: EXECUTE every registered query at sf0.001 and audit the
  * final (post-AQE) physical plan for scale anti-patterns —
  * CartesianProduct / unbounded BroadcastNestedLoopJoin, parquet scans
  * whose pushable data filters did not push down, partitioned-table scans
  * with no partition filter, and sort-merge joins that kept a sub-10 MB
  * side after AQE had its chance to broadcast it. A structural complement
  * to PlanSpec's targeted pins: PlanSpec asserts the plans we designed;
  * this catches the ones we didn't look at.
  *
  * Each query's own plan is executed ([[Probe.run]]) before it is
  * audited: under AQE the pre-execution plan is conservative (every join
  * starts sort-merge and converts at runtime), so a static audit would
  * drown in false positives — r7 measured 7 spurious SMJ flags static vs
  * 0 executed.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.create()
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or}
    import org.apache.spark.sql.catalyst.expressions.{Contains, EndsWith, StartsWith}
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec, SortExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

    // strip wrappers that don't change a subtree's boundedness, and
    // RESOLVE ReusedExchange to the exchange it references — a substring
    // match over the subtree string (the pre-r7 implementation) would
    // accept any build side that merely contained 'keys=[]' or
    // 'ReusedExchange' somewhere below a wide join
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      // codegen stages exist only in a plan that ran: AQE collapses them
      // per query stage at run time
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case r: ReusedExchangeExec => unwrap(r.child)
      case e: BroadcastExchangeExec => unwrap(e.child)
      case e: ShuffleExchangeExec => unwrap(e.child)
      case s: SortExec => unwrap(s.child)
      case pr: ProjectExec => unwrap(pr.child)
      case f: FilterExec => unwrap(f.child)
      case other => other
    }

    // a build side is BOUNDED iff its ROOT (after unwrapping) is a
    // grouping-key-less aggregate (exactly one row: corpus totals, scalar
    // stats), a literal local relation, or a nested join of bounded sides
    // (scalar x scalar cross joins stack in stats queries)
    def bounded(p: SparkPlan): Boolean = unwrap(p) match {
      case agg: BaseAggregateExec => agg.groupingExpressions.isEmpty
      case _: LocalTableScanExec => true
      case r: RDDScanExec => r.nodeName.contains("OneRowRelation")
      case j: BroadcastNestedLoopJoinExec => bounded(j.left) && bounded(j.right)
      case _ => false
    }

    // SparkPlan.collect does NOT descend through AdaptiveSparkPlanExec
    // (its `children` is empty — the wrapped plan hides in
    // currentPhysicalPlan) nor QueryStageExec; walk those explicitly or
    // the audit is vacuous under AQE
    def nodes(p: SparkPlan): Iterator[SparkPlan] = {
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      Iterator(p) ++ kids.iterator.flatMap(nodes)
    }

    // a data filter is PUSHABLE-LOOKING when it is built only from plain
    // column comparisons the parquet source translates; filters over
    // computed expressions (graft_tokenize(text), hash gates) can never
    // push and are not findings
    def pushable(e: Expression): Boolean = e match {
      // parquet filter pushdown reaches only atomic-typed leaf columns; a
      // predicate over an array/map/struct attribute (e.g. the isnotnull a
      // posexplode implies on an embedding column) can never push
      case a: AttributeReference => a.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType => false
        case _ => true
      }
      case _: Literal => true
      case c: Cast => pushable(c.child)
      case b @ (_: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
                _: LessThan | _: LessThanOrEqual | _: StartsWith |
                _: EndsWith | _: Contains | _: And | _: Or) =>
        b.children.forall(pushable)
      case n: Not => pushable(n.child)
      case i: IsNotNull => pushable(i.child)
      case i: IsNull => pushable(i.child)
      case i: In => i.children.forall(pushable)
      case _ => false
    }

    // plan-time size of a join side as the planner saw it: logical link
    // of the side BELOW the sort/exchange wrappers (the SMJ node's own
    // link is the join — its stats are the product estimate)
    def sideSize(p: SparkPlan): Option[BigInt] =
      unwrap(p).logicalLink.map(_.stats.sizeInBytes)

    // BNLJ build sides that ARE bounded but not provably so from the plan
    // root (config-sized tables: probe sets limited to NQueries=10,
    // centroid/codebook tables of nlist=64 / M*Ks=64 rows) plus the
    // labeled cartesian baseline. Adjudicated by hand; a NEW query
    // acquiring a nested-loop join still gets flagged.
    val allowedJoins: Map[String, String] = Map(
      "ann_brute_force" -> "labeled all-pairs baseline: 10-probe set x corpus",
      "hybrid_rrf_search" -> ("baseline vector arm: 1-probe set (id=0 " +
        "filter) x corpus, the bruteForceTopK non-equi self-exclusion; " +
        "serving twin hybrid_rrf_prebuilt retires this scan"),
      "hybrid_rrf_prebuilt" -> "1-probe x 64-row stored centroid table (ADC prep)",
      "ann_quantized" -> "10-probe set x corpus, int8 exact re-rank baseline",
      "mmr_rerank" -> ("baseline candidate arm: 1-probe set (id=0 filter) " +
        "x corpus, the bruteForceTopK non-equi self-exclusion; serving " +
        "twin mmr_rerank_prebuilt retires this scan"),
      "mmr_rerank_prebuilt" -> "1-probe x 64-row stored centroid table (ADC prep)",
      "mmr_rerank_batch_prebuilt" ->
        "3-probe set x 64-row stored centroid table (ADC prep)",
      "hybrid_rrf_batch_prebuilt" ->
        "3-probe set x 64-row stored centroid table (ADC prep)",
      "hybrid_rrf_bulk" ->
        "request-table probes x 64-row stored centroid table (ADC prep)",
      "ann_ivf_pq_prebuilt" -> "probes x 64-row stored centroid table (ADC prep)",
      "ann_ivf_pq_appended" -> "probes x 64-row stored centroid table (ADC prep)",
      "ann_ivf_pq_deleted" -> "probes x 64-row stored centroid table (ADC prep)",
      "vindex_compacted" -> "probes x 64-row stored centroid table (ADC prep)",
      "vindex_merged" -> "probes x 64-row stored centroid table (ADC prep)",
      "vindex_retrained" -> "probes x 64-row stored centroid table (ADC prep)",
      "stream_vector_ingest" -> "serving read: probes x 64-row centroid table",
      "stream_vector_ingest_retrain" ->
        "serving read: probes x 64-row centroid table",
      "cross_join_regions" -> "labeled cartesian: 5 regions x 25 nations",
      "quantile_bins" -> "values x 10-row quantile cut-point table")

    // scan/SMJ findings adjudicated by hand. The "small at audit SF"
    // entries are sides PROPORTIONAL to the corpus: tiny at sf0.001, but
    // broadcast would be wrong at 100 TB — SMJ is the scale-correct
    // shape, so the finding is a property of the audit's SF, not the plan.
    val allowedShapes: Map[String, String] = Map(
      "vindex_stats" -> ("maintenance DESCRIBE: occupancy stats read every " +
        "coarse list by definition (one narrow count-per-list pass over " +
        "the stored index, the same cost class as a compaction decision; " +
        "not a serving query — serving rows pin DPP/bucket pruning)"),
      "bucketed_join" -> ("merge-hinted on purpose: the query DEMONSTRATES " +
        "the exchange-free bucketed sort-merge join (PlanSpec pins zero " +
        "join exchanges); broadcasting would bypass the layout under test"),
      "schema_evolution" -> ("mergeSchema scan reads both schema batches " +
        "by design — the query's aggregation IS the full-table evolution " +
        "rollup; the staged dirs are schema epochs, not data partitions"),
      "label_propagation" -> ("labels (~N rows) join edges (~N*k rows) over " +
        "the cached knn graph: both sides scale with the corpus — small " +
        "only at audit SF; SMJ is the scale-correct shape"),
      "dedup_phash_clusters" -> ("signature-group/component joins after the " +
        "exact-signature collapse: group and component counts track " +
        "DISTINCT hashes — tiny at every probed SF (and immune to the " +
        "duplication factor), corpus-proportional in the all-distinct " +
        "worst case, so SMJ is the scale-safe default and AQE broadcasts " +
        "at runtime when small"),
      "training_manifest_clean" -> ("curated corpus anti-join contaminated " +
        "set: both sides scale with the corpus (contaminated ~ N/97) — " +
        "small only at audit SF"),
      "ingest_pipeline" -> ("batch-vs-corpus gates: the batch side is " +
        "small at audit SF but a production ingest batch is unbounded; " +
        "SMJ is the scale-safe default (the codegen'd bloom prefilter " +
        "already collapses the anti-join probe volume)"),
      "stream_ingest_pipeline" -> ("same gates as ingest_pipeline with " +
        "streamed candidate pairs; batch side unbounded in production"),
      "hybrid_rrf_bulk" -> ("bulk request-table serving: every " +
        "request-derived side is DELIBERATELY un-broadcast (the form's " +
        "whole contract — it must hold at 10M requests), so its joins " +
        "stay SMJ/shuffled-hash and are small only at audit SF"))

    var flagged = 0
    Queries.all.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // execute so AQE reaches its FINAL plan (broadcast conversions,
        // skew splits); the audit below reads runtime truth
        val plan = Probe.run(fn(spark, dir))
        val joinBad = nodes(plan).toSeq.collect {
          case j: BroadcastNestedLoopJoinExec =>
            val build = j.buildSide match {
              case BuildLeft => j.left
              case BuildRight => j.right
            }
            if (bounded(build)) None
            else Some(s"BNLJ(${j.joinType}) build=${unwrap(build).nodeName}")
          case c: CartesianProductExec => Some(s"Cartesian ${c.nodeName}")
        }.flatten
        val scanBad = nodes(plan).toSeq.collect {
          case f: FileSourceScanExec
            if f.dataFilters.exists(pushable) &&
              f.metadata.getOrElse("PushedFilters", "[]") == "[]" =>
            s"unpushed pushable filter on ${f.relation.location.rootPaths
              .headOption.fold("?")(_.getName)}: " +
              f.dataFilters.filter(pushable).mkString(",").take(70)
          case f: FileSourceScanExec
            if f.relation.partitionSchema.nonEmpty && f.partitionFilters.isEmpty =>
            s"unpruned partitioned scan ${f.relation.location.rootPaths
              .headOption.fold("?")(_.getName)}"
        }
        // a post-AQE SMJ with a sub-10 MB side = a missed broadcast
        // (full outer exempt: Spark cannot broadcast it)
        val smjBad = nodes(plan).toSeq.collect {
          case j: SortMergeJoinExec if j.joinType != FullOuter =>
            val thresh = BigInt(10L << 20)
            val l = sideSize(j.left)
            val r = sideSize(j.right)
            if (l.exists(_ < thresh) || r.exists(_ < thresh))
              Some(s"SMJ small side (plan-time bytes L=${l.getOrElse("?")} " +
                s"R=${r.getOrElse("?")})")
            else None
        }.flatten
        def report(kind: String, found: Seq[String],
                   allow: Map[String, String]): Seq[String] =
          if (found.isEmpty) Seq.empty
          else allow.get(name) match {
            case Some(reason) =>
              println(s"OK   $name $kind (allowed: $reason)"); Seq.empty
            case None => found
          }
        val rest = report("joins", joinBad, allowedJoins) ++
          report("shapes", scanBad ++ smjBad, allowedShapes)
        if (rest.nonEmpty) {
          flagged += 1
          println(s"FLAG $name: ${rest.mkString("; ")}")
        }
      } catch {
        case e: Throwable =>
          flagged += 1
          println(s"ERR  $name: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    println(s"audit done: $flagged flagged of ${Queries.all.size}")
    spark.stop()
  }
}
