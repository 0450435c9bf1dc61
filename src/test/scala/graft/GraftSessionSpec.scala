package graft

/** Pins the one session factory's settings: the command line's engine
  * when nothing is set, and the test base's local[4] when a core count is
  * passed.
  */
class GraftSessionSpec extends SparkSpec {

  private def engine(master: String, partitions: String) = Map(
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> partitions,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("with no core count and no env override, the settings are the CLI's") {
    assert(GraftSession.settings(None, Map.empty) == engine("local[*]", "8"))
  }

  test("a core count of 4 gives the test base's local[4] with 4 partitions") {
    assert(GraftSession.settings(Some(4), Map.empty) == engine("local[4]", "4"))
  }

  test("SPARK_GRAFT_CPUS=n means n cores; GRAFT_MASTER names the master") {
    assert(GraftSession.settings(None, Map("SPARK_GRAFT_CPUS" -> "8")) ==
      engine("local[8]", "8"))
    val cluster = "spark://head:7077"
    assert(GraftSession.settings(None, Map("GRAFT_MASTER" -> cluster)) ==
      engine(cluster, "8"))
  }

  test("the shared test session runs the factory's settings") {
    val conf = GraftSession.effectiveConf(spark)
    GraftSession.settings(Some(4), Map.empty).foreach { case (k, v) =>
      assert(conf.get(k).contains(v), s"$k")
    }
  }
}
