package graft

import org.apache.spark.sql.functions._

/** Dev tool: generator + Probe at two dirs, the 10x scale probe for the
  * hottest non-streaming families.
  *
  * Builds a synthetic sf1 (10x sf0.1) under /tmp once per machine —
  * documents replicated 10x with per-replica id offsets and a trailing
  * unique token (replicas remain near-dups of each other: a crawl with
  * duplication factor 10, the hard case for the dedup family), and
  * embeddings replicated 10x with deterministic hash-derived jitter
  * (+-0.01 per component: cluster structure preserved, exact ties
  * broken). Then runs [[Probe.loop]] on each target at sf0.1 and at the
  * synthetic sf1 and prints, from the two `min_total_ms`, the 10x-data
  * runtime ratio — the number that says whether the plan survives a
  * scale-up. A target is any name [[Probe.query]] resolves, including
  * `hybrid_rrf_bulk_<n>k`, which holds the request count fixed so the
  * ratio isolates corpus growth. Never touches /root/testdata.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val src = "/root/testdata/sf0.1"
    // replication factor: 10 = the standard sf1 probe; 100 gives a second
    // point on the scaling curve (SPARK_GRAFT_SCALE_FACTOR=100)
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val sf1 =
      if (factor == 10) "/tmp/graft_scaleprobe_sf1"
      else s"/tmp/graft_scaleprobe_x$factor"

    def ensureSf1(): Unit = {
      val done = new java.io.File(s"$sf1/_DONE")
      if (done.exists()) return
      val docs = Tables.documents(spark, src)
      val embs = spark.read.parquet(s"$src/embeddings.parquet")
      val replicas = (0 until factor).map { r =>
        docs.select(
          (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          // replicas keep ~all shingles in common (near-dups by design);
          // the trailing token breaks exact-digest equality for r > 0
          (if (r == 0) col("text")
           else concat(col("text"), lit(s" replica$r"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      replicas.reduce(_.unionByName(_))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$sf1/documents.parquet")
      val embReplicas = (0 until factor).map { r =>
        embs.select(
          (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
          (if (r == 0) col("embedding")
           else transform(col("embedding"), x =>
             (x + (graft.functions.TextHash.hash64(
               concat(lit(r), lit("_"), col("vec_id"))) % 2001L - 1000L)
               .cast("float") / 100000.0f).cast("float"))).as("embedding"),
          col("label"))
      }
      embReplicas.reduce(_.unionByName(_))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$sf1/embeddings.parquet")
      // facts replicate 10x with key offsets that KEEP joins consistent
      // (orderkeys offset identically on both sides; customers grow with
      // orders as TPC-H scales them); part/supplier/nation/region stay
      // dims at this scale and copy through unchanged
      val li = Tables.lineitem(spark, src)
      (0 until factor).map(r => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(r * 100000000L)))
        .reduce(_.unionByName(_)).repartition(64)
        .write.mode("overwrite").parquet(s"$sf1/lineitem.parquet")
      val ord = Tables.orders(spark, src)
      (0 until factor).map(r => ord
          .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(r * 10000000L)))
        .reduce(_.unionByName(_)).repartition(32)
        .write.mode("overwrite").parquet(s"$sf1/orders.parquet")
      val cust = Tables.customer(spark, src)
      (0 until factor).map(r => cust.withColumn("c_custkey",
          col("c_custkey") + lit(r * 10000000L)))
        .reduce(_.unionByName(_)).repartition(8)
        .write.mode("overwrite").parquet(s"$sf1/customer.parquet")
      val ev = Tables.events(spark, src)
      (0 until factor).map(r => ev
          .withColumn("event_id", col("event_id") + lit(r * 100000000L))
          .withColumn("user_id", col("user_id") + lit(r * 10000000L)))
        .reduce(_.unionByName(_)).repartition(32)
        .write.mode("overwrite").parquet(s"$sf1/events.parquet")
      Seq("part", "supplier", "nation", "region").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$sf1/$t.parquet")
      }
      done.createNewFile(): Unit
    }

    val targets =
      if (args.nonEmpty) args.toSeq
      else Seq("knn_graph", "knn_graph_auto", "dedup_embedding_auto",
        "semantic_dedup_auto", "ingest_pipeline", "q1_agg", "q3_shipping",
        "q5_star_join", "q7_volume_shipping", "events_sessionize",
        "events_session_window", "scd2_history", "dedup_minhash_lsh",
        "dedup_minhash_shingled", "dedup_substring_spans", "token_pmi",
        "graph_pagerank", "index_postings", "bm25_search")
    val table = try {
      ensureSf1()
      targets.map { q =>
        val small = Probe.loop(spark, src, q)
        val big = Probe.loop(spark, sf1, q)
        val (t01, t1) = (small.totalMs / 1e3, big.totalMs / 1e3)
        f"$q%-22s $t01%9.2f $t1%9.2f ${t1 / t01}%7.2f ${small.rows} ${big.rows}"
      }
    } finally spark.stop()
    println(f"${"query"}%-22s ${"sf0.1 s"}%9s ${"sf1 s"}%9s ${"ratio"}%7s rows0.1 rows1")
    table.foreach(println)
  }
}
