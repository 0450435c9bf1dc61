package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts taken at the boundary of every layer the benchmark traces, from
  * listeners the harness installs on the session it built. The engine's
  * own code is not instrumented.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {

  val jobs, stages, tasks, shuffleBytes, spillBytes, rowsRead, filesRead,
    compactions = new AtomicLong

  /** Per micro-batch: (total, addBatch, walCommit) milliseconds. */
  val batches = ArrayBuffer[(Double, Double, Double)]()

  /** Write commands that stage a rewritten postings table; an index
    * compaction is the only operation that writes one.
    */
  private val CompactionTable = "_postings_staged"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
        rowsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach(s => s.metrics.get("numFiles").foreach(m => filesRead.addAndGet(m.value)))
      qe.analyzed.foreach {
        case c: CreateDataSourceTableAsSelectCommand
            if c.table.identifier.table.endsWith(CompactionTable) =>
          compactions.incrementAndGet()
        case i: InsertIntoHadoopFsRelationCommand
            if i.catalogTable.exists(_.identifier.table.endsWith(CompactionTable)) =>
          compactions.incrementAndGet()
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        val d = e.progress.durationMs
        def ms(k: String): Double =
          if (d.containsKey(k)) d.get(k).doubleValue else 0.0
        batches.synchronized {
          batches += ((ms("triggerExecution"), ms("addBatch"), ms("walCommit")))
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Long] = {
    drain()
    Map("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get,
      "rows_read" -> rowsRead.get, "files_read" -> filesRead.get,
      "compactions" -> compactions.get)
  }
}

/** JVM-wide memory and GC readings from the management beans. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  /** Forces full collections and returns the heap still in use, in MiB:
    * the live set at this point. Never called inside a timing. Spark frees
    * cached and broadcast blocks from a cleaner thread only after the
    * collection that finds them unreachable, so one collection is not
    * enough: the reading follows a few, with pauses for the cleaner.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(250) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** CPU time of every thread of this process except the JIT compiler's,
    * in ns. JIT compilation is how a fresh JVM warms up, not work an
    * operation does, and it still runs through the measured calls. Both
    * readings exclude time the host stole from this machine.
    */
  def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime -
      compilerNanos()

  /** CPU time of the JIT compiler threads, read from Linux's per-thread
    * `/proc/self/task/<tid>/stat` (utime and stime, in clock ticks of
    * 10 ms); 0 where that is not available. run.py starts the JVM with
    * fixed compiler threads, so none exits and takes its time with it.
    */
  private def compilerNanos(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          t.toPath.resolve("stat")), "UTF-8")
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.contains("CompilerThre")) 0L
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // the thread has exited
    }.sum
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}
