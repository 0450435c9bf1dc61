package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's session confs are declared and changed.
  * The CLI, the bench, the oracle dump, the dev tools and the test base all
  * build their session here, so the engine that is measured and tested is
  * the engine the command line runs. A conf to compare against goes on the
  * JVM command line (`-Dspark.key=value`), never into a caller; an
  * operator that needs a conf for one write runs it under [[scoped]].
  */
object GraftSession {

  /** The settings of a session on `cpus` cores. With `None` the core
    * count is `SPARK_GRAFT_CPUS`; when that is unset too, the session takes
    * every local core and 8 shuffle partitions. `GRAFT_MASTER`, when set,
    * names the master outright (a cluster URL).
    *
    * `nanosAsLong` reads a `TIMESTAMP(NANOS)` column, which Spark refuses
    * otherwise, as a long (`Tables.normalizeEventsTs`).
    */
  def settings(cpus: Option[Int],
               env: Map[String, String] = sys.env): Map[String, String] = {
    val n = cpus.orElse(env.get("SPARK_GRAFT_CPUS").map(_.toInt))
    Map(
      "spark.master" -> env.getOrElse("GRAFT_MASTER",
        n.fold("local[*]")(c => s"local[$c]")),
      "spark.sql.shuffle.partitions" -> n.fold("8")(_.toString),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
  }

  def create(cpus: Option[Int] = None): SparkSession = {
    val spark = SparkSession.builder().config(settings(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with `confs` set, then puts each key back: its old value,
    * or unset if it was not set (`getOption` would report a default).
    */
  def scoped[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Keys that name a deployment path or a per-process identity. */
  private val Volatile = Set("spark.sql.warehouse.dir", "spark.local.dir",
    "spark.app.id", "spark.app.name", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port",
    "spark.executor.id", "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions")

  /** The session's effective conf: every key set on it, `-D` keys from the
    * JVM command line included, less the volatile ones.
    */
  def effectiveConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => !Volatile(k) } +
      ("spark.master" -> spark.sparkContext.master)

  /** A short hash of [[effectiveConf]]: two sessions with the same
    * fingerprint run the same engine.
    */
  def fingerprint(spark: SparkSession): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(effectiveConf(spark).toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
}
