package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types._

/** One benchmark run: the session, the generated inputs, the metrics and
  * failures recorded so far, and the helpers every workload drives the
  * engine through.
  */
final class Run(val spark: SparkSession, val in: Gen.Inputs, val seconds: Int,
                val tracer: Option[Tracer], val work: Path) {

  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val details = mutable.LinkedHashMap[String, String]()
  /** Timed parts of set-up besides session start, in seconds. */
  val setupParts = mutable.LinkedHashMap[String, Double]()
  val failures = ArrayBuffer[String]()
  var attempted = 0L

  def traced: Boolean = tracer.isDefined

  def fail(msg: String): Unit = failures += msg

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = Run.log(msg)

  /** Runs one operation of the workload, counting it as attempted and any
    * exception as a failure.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  // ---------------------------------------------------------------- inputs

  private val inputs = Files.createDirectories(work.resolve("inputs"))

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def docsFrame(docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.text)).asJava, DocSchema)

  /** Writes `df` as one parquet file at `target`. */
  private def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .find(p => p.getFileName.toString.startsWith("part-"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    Files.move(part, target)
    deleteTree(tmp)
  }

  def writeDocs(name: String, docs: Seq[Gen.Doc]): String = {
    val p = inputs.resolve(name)
    docsFrame(docs).write.parquet(p.toString)
    p.toString
  }

  /** Staged ingest files, named the way `singest` picks them up. */
  def writeStaged(name: String, files: Seq[Seq[Gen.Doc]]): String = {
    val dir = Files.createDirectories(inputs.resolve(name))
    files.zipWithIndex.foreach { case (f, i) =>
      writeSingleFile(docsFrame(f),
        dir.resolve(if (i == 0) "documents.parquet" else s"documents.parquet$i"))
    }
    dir.toString
  }

  def writeEmbeddings(name: String): String = {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = in.embeddings.map { case (id, v) => Row(id, v.toSeq) }
    val p = inputs.resolve(name)
    spark.createDataFrame(rows.asJava, schema).write.parquet(p.toString)
    p.toString
  }

  def writeRequests(name: String): String = {
    val schema = StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("query_text", StringType, nullable = false)))
    val rows = in.requests.map(r => Row(r.queryId, r.text))
    val p = inputs.resolve(name)
    spark.createDataFrame(rows.asJava, schema).write.parquet(p.toString)
    p.toString
  }

  // ------------------------------------------------------------ engine ops

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** A result-returning CLI command, run through the same dispatch as the
    * `graft.cli.Main` entry point.
    */
  def query(args: Seq[String], splitPlan: Boolean): Run.Timed = {
    val c0 = Jvm.cpuNanos()
    val t0 = System.nanoTime()
    val df = graft.cli.Main.run(spark, args) match {
      case Right(Some(d)) => d
      case Right(None) => sys.error(s"${args.head} returned no result table")
      case Left(err) => sys.error(err)
    }
    val t1 = System.nanoTime()
    if (splitPlan) df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.collect()
    val t3 = System.nanoTime()
    Run.Timed(rows, ms(t0, t1), ms(t1, t2), ms(t2, t3), ms(c0, Jvm.cpuNanos()))
  }

  /** A CLI command without a result table; returns its wall time in s. */
  def command(args: Seq[String]): Double = commandCost(args)._1

  /** A CLI command without a result table; returns its wall time and the
    * process CPU time it took, both in s.
    */
  def commandCost(args: Seq[String]): (Double, Double) = {
    val c0 = Jvm.cpuNanos()
    val t0 = System.nanoTime()
    graft.cli.Main.run(spark, args) match {
      case Right(_) => ()
      case Left(err) => sys.error(err)
    }
    ((System.nanoTime() - t0) / 1e9, (Jvm.cpuNanos() - c0) / 1e9)
  }

  /** Seconds taken by `body`. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------- tracing

  private lazy val confBaseline = Session.effectiveConf(spark)
  private lazy val confDefaults: Map[String, String] =
    spark.sessionState.conf.getAllDefinedConfs.map { case (k, v, _, _) => k -> v }.toMap
  private val drifted = mutable.Set[String]()

  /** Marks the session state every later operation is compared against. */
  def markConfBaseline(): Unit = confBaseline

  /** Records conf keys an operation left with another value than before
    * it; a key set to its default counts as unchanged.
    */
  def checkConfDrift(): Unit = {
    val now = Session.effectiveConf(spark)
    def before(k: String) = confBaseline.get(k).orElse(confDefaults.get(k))
    now.keySet.filter(k => now.get(k) != before(k)).foreach(drifted += _)
    confBaseline.keySet.filterNot(now.contains).foreach(drifted += _)
  }

  def confDriftKeys: Set[String] = drifted.toSet

  // -------------------------------------------------------------- storage

  def tableBytes(table: String): Long = {
    val loc = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location
    treeBytes(java.nio.file.Paths.get(loc))
  }

  /** On-disk bytes of the text index's three tables. */
  def textIndexBytes(prefix: String): Long =
    Seq("postings", "term_df", "doc_info").map(t => tableBytes(s"${prefix}_$t")).sum

  /** On-disk bytes of the vector index's four tables. */
  def vectorIndexBytes(prefix: String): Long =
    Seq("centroids", "codes", "vectors", "forward").map(t => tableBytes(s"${prefix}_$t")).sum

  def maxFilesPerBucket(prefix: String): Int =
    graft.operators.Indexer.bucketFileCounts(spark, s"${prefix}_postings")
      .values.foldLeft(0)(math.max)

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith(".")).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

object Run {

  def log(msg: String): Unit = System.err.println(
    f"[perfbench +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  /** A CLI call whose result table was collected, with its phases in ms:
    * construct (`Main.run`), plan (`executedPlan`, split out only when
    * tracing) and execute (`collect`).
    */
  final case class Timed(rows: Array[Row], constructMs: Double, planMs: Double,
                         executeMs: Double, cpuMs: Double) {
    def totalMs: Double = constructMs + planMs + executeMs
  }
}
