package perfbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs on. */
object Session {

  /** The builder settings of `graft.cli.Main.main`, unchanged, so the engine
    * measured is the engine the command line runs. Only deployment paths
    * are added: the warehouse and Spark's local dir go under `work`.
    */
  def create(work: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Keys that name a deployment path or a per-process identity; they are
    * left out of the fingerprint.
    */
  private val Volatile = Set("spark.sql.warehouse.dir", "spark.local.dir",
    "spark.app.id", "spark.app.name", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port",
    "spark.executor.id", "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions")

  /** The effective conf: every key set on the session, plus the master. */
  def effectiveConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => !Volatile(k) } +
      ("spark.master" -> spark.sparkContext.master)

  def fingerprint(conf: Map[String, String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(conf.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
        .getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** The settings `graft.Bench` builds its session with (Bench.scala's
    * builder, at its default of 4 cpus). The benchmark reports where the
    * shipped session differs from them.
    */
  val BenchSettings: Map[String, String] = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Keys whose value in this session differs from graft.Bench's session,
    * as key -> (this session, Bench).
    */
  def diffFromBench(spark: SparkSession): Map[String, (String, String)] = {
    val eff = effectiveConf(spark)
    BenchSettings.flatMap { case (k, bench) =>
      val mine = eff.getOrElse(k, spark.conf.getOption(k).getOrElse("<default>"))
      if (mine == bench) None else Some(k -> (mine, bench))
    }
  }
}
