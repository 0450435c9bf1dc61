package graft

/** Local smoke runner: drives the driver contract end-to-end —
  * `SparkEntry.entry` (flagship, sf0.001) like the driver's rows>0 check.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}
