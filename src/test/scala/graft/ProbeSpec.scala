package graft

import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** `graft.Probe`'s measuring function on the test session, at sf0.001. */
class ProbeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every node of a plan, through AQE's wrapper and its query stages. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    Iterator(p) ++ kids.iterator.flatMap(nodes)
  }

  test("Probe.run returns the plan that ran: its scan reports the rows it read") {
    val plan = Probe.run(SparkEntry.queries("scan_filter")(spark, dir))
    val scanRows = nodes(plan).collect {
      case l: LeafExecNode if l.metrics.contains("numOutputRows") =>
        l.metrics("numOutputRows").value
    }.toSeq
    assert(scanRows.nonEmpty, s"no scan node in:\n$plan")
    assert(scanRows.exists(_ > 0), s"every scan reads 0 rows ($scanRows):\n$plan")
  }

  test("a batch row reports its phases, jobs, stages and tasks") {
    val r = Probe.measure(spark, dir, "scan_filter")
    assert(Seq(r.constructMs, r.analyzeMs, r.executeMs).forall(_ >= 0), s"$r")
    assert(r.jobs >= 1, s"$r")
    assert(r.tasks >= r.stages, s"$r")
    assert(r.shuffleWriteBytes >= 0 && r.spillBytes >= 0, s"$r")
    assert(r.batches.isEmpty, s"$r")
  }

  test("a streaming row reports its micro-batches") {
    val r = Probe.measure(spark, dir, "stream_tumbling")
    assert(r.batches.nonEmpty, s"no micro-batch reported: $r")
    assert(r.batches.forall(_.contains("triggerExecution")), s"$r")
    assert(r.jobs >= 1 && r.tasks >= r.stages, s"$r")
  }

  test("probing a query twice counts the same jobs; no listener outlives its run") {
    val sc = spark.sparkContext
    Probe.measure(spark, dir, "scan_filter")
    org.apache.spark.ListenerBusDrain(sc)
    val sparkListeners = org.apache.spark.ListenerBusCount(sc)
    val streamListeners = spark.streams.listListeners().length
    val first = Probe.measure(spark, dir, "scan_filter")
    val second = Probe.measure(spark, dir, "scan_filter")
    assert(first.jobs == second.jobs, s"$first\n$second")
    assert(org.apache.spark.ListenerBusCount(sc) == sparkListeners)
    assert(spark.streams.listListeners().length == streamListeners)
  }

  test("hybrid_rrf_bulk_1k resolves to the bulk call and returns the registry row's rows") {
    // 500 documents: one request per document, under the 1,000-request cap
    val byName = Probe.query("hybrid_rrf_bulk_1k")(spark, dir)
    val registry = SparkEntry.queries("hybrid_rrf_bulk")(spark, dir)
    val (a, b) = (byName.collect().toSeq, registry.collect().toSeq)
    assert(b.nonEmpty)
    assert(a.map(_.toString).sorted == b.map(_.toString).sorted)
  }

  test("an unknown name is refused with an error that names it") {
    val e = intercept[IllegalArgumentException](
      Probe.measure(spark, dir, "no_such_query"))
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
  }

  test("a run's row count is the query's count()") {
    val r = Probe.measure(spark, dir, "scan_filter")
    assert(r.rows == SparkEntry.queries("scan_filter")(spark, dir).count(), s"$r")
  }
}
