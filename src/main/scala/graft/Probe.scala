package graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution,
  SQLExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.queries.TextIndexQueries

/** Dev tool: where a registry query's time goes, one line per run. The
  * one timing loop of the dev tools ([[ScaleProbe]] times through [[loop]]).
  *
  * Each query gets one warm-up run, whose final plan is printed, and three
  * measured runs, each to completion with no row collected, as the `noop`
  * sink in [[Bench]] does. A run splits into
  *   construct — building the DataFrame (plan assembly; a `stream_*`
  *               row runs its stream to the sink here)
  *   analyze   — analysis, optimization and physical planning
  *               (forcing `queryExecution.executedPlan`)
  *   execute   — running that same plan ([[run]]: scheduling, tasks,
  *               AQE re-planning)
  * and reports the run's Spark jobs, stages and tasks, shuffle-write and
  * spill bytes, and each micro-batch's `durationMs` map.
  *
  * Run: scripts/run-main.sh [-Dspark.key=value ...] graft.Probe <names...>
  * over SPARK_GRAFT_SF_DIR (default sf0.1), on the session
  * [[GraftSession.create]] builds from the environment. A name is a
  * registry query or `hybrid_rrf_bulk_<n>k` (see [[query]]). The process
  * exits 1 when any name failed.
  */
object Probe {

  /** One run's record. `rows` counts the rows the run produced; `batches`
    * holds one `durationMs` map per micro-batch, in arrival order; it is
    * empty for a batch query. `plan` is the formatted final plan that ran,
    * kept as text: Spark deletes a shuffle's files only once nothing
    * references its plan, so a run that held its QueryExecution would keep
    * them on disk while the next runs write theirs.
    */
  final case class Run(constructMs: Double, analyzeMs: Double,
                       executeMs: Double, rows: Long, jobs: Long, stages: Long,
                       tasks: Long, shuffleWriteBytes: Long, spillBytes: Long,
                       batches: Seq[Map[String, Long]])(val plan: String) {
    def totalMs: Double = constructMs + analyzeMs + executeMs

    override def toString: String = {
      val base = f"construct_ms=$constructMs%.1f analyze_ms=$analyzeMs%.1f " +
        f"execute_ms=$executeMs%.1f total_ms=$totalMs%.1f jobs=$jobs " +
        s"stages=$stages tasks=$tasks shuffle_write_bytes=$shuffleWriteBytes " +
        s"spill_bytes=$spillBytes"
      if (batches.isEmpty) base
      else base + " batches=" + batches.map(_.toSeq.sorted
        .map { case (k, v) => s"$k:$v" }.mkString("{", ",", "}"))
        .mkString("[", ",", "]")
    }
  }

  /** Runs `df`'s own QueryExecution to completion, with no row collected
    * to the driver, and returns its final physical plan: under AQE the
    * plan that ran, with its runtime join conversions and its SQL metrics
    * filled in. A `noop` write would not do: it plans and runs a
    * QueryExecution of its own, and `df`'s plan would never run.
    */
  private[graft] def run(df: DataFrame): SparkPlan = {
    execute(df.queryExecution)
    df.queryExecution.executedPlan
  }

  /** Runs `qe` to completion under an execution id of its own and returns
    * the number of rows it produced; only per-partition counts reach the
    * driver.
    */
  private def execute(qe: QueryExecution): Long =
    SQLExecution.withNewExecutionId(qe, Some("graft.Probe.run")) {
      qe.toRdd.count()
    }

  private val BulkN = "hybrid_rrf_bulk_(\\d+)k".r

  /** The query `name` names: a registry query, or `hybrid_rrf_bulk_<n>k`,
    * the bulk serving call with a fixed n thousand requests
    * ([[TextIndexQueries.hybridRrfBulkN]]). Any other name is refused.
    */
  def query(name: String): (SparkSession, String) => DataFrame =
    name match {
      case BulkN(n) => TextIndexQueries.hybridRrfBulkN(_, _, n.toInt * 1000)
      case _ => SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query name: $name"))
    }

  /** Runs `name` once over `dir` and measures it. The listeners are added
    * for the run and removed after it, once every event has arrived.
    */
  def measure(spark: SparkSession, dir: String, name: String): Run = {
    val build = query(name)
    val jobs, stages, tasks, shuffle, spill = new AtomicLong
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]
    val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.diskBytesSpilled)
        }
      }
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.add(e.progress.durationMs.asScala
          .map { case (k, v) => k -> v.longValue }.toMap): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    try {
      val t0 = System.nanoTime()
      val qe = build(spark, dir).queryExecution
      val t1 = System.nanoTime()
      qe.executedPlan
      val t2 = System.nanoTime()
      val rows = execute(qe)
      val t3 = System.nanoTime()
      org.apache.spark.ListenerBusDrain(sc)
      Run((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, rows, jobs.get,
        stages.get, tasks.get, shuffle.get, spill.get,
        batches.asScala.toSeq)(qe.explainString(FormattedMode))
    } finally {
      sc.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** The timing loop: a warm-up run of `name` over `dir`, its line and the
    * formatted final plan it ran, then three measured runs and
    * `min_total_ms`. Returns the fastest measured run.
    */
  def loop(spark: SparkSession, dir: String, name: String): Run = {
    val warmup = measure(spark, dir, name)
    println(s"$name warmup $warmup")
    println(warmup.plan)
    val runs = (1 to 3).map { i =>
      val r = measure(spark, dir, name)
      println(s"$name run$i $r")
      r
    }
    val fastest = runs.minBy(_.totalMs)
    println(f"$name min_total_ms=${fastest.totalMs}%.1f")
    fastest
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Probe <query names...>")
      sys.exit(2)
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val sql = GraftSession.effectiveConf(spark).toSeq.sorted
      .collect { case (k, v) if k.startsWith("spark.sql.") => s"$k=$v" }
    println(s"conf fingerprint=${GraftSession.fingerprint(spark)} " +
      s"master=${spark.sparkContext.master} ${sql.mkString(" ")}")
    val failed = try args.toSeq.filter { name =>
      try { loop(spark, dir, name); false }
      catch {
        case e: Exception => println(s"$name FAILED: $e"); true
      }
    } finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"graft.Probe: failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
