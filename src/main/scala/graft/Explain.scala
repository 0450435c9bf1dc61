package graft
/** Dev tool: dump formatted physical plans for plan-quality review. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()
    val names = if (args.nonEmpty) args.toSeq else Seq("scan_filter", "q3_shipping", "q5_star_join", "bm25_search")
    names.foreach { n =>
      println(s"========== $n ==========")
      Queries.all(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
