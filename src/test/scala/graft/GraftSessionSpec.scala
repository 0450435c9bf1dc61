package graft

import org.apache.spark.sql.functions._

import graft.operators.{Indexer, Search, VectorIndex}

/** Pins the one session factory's settings (the command line's engine
  * when nothing is set, the test base's local[4] when a core count is
  * passed) and the one way a conf changes: [[GraftSession.scoped]], which
  * leaves the session as it found it.
  */
class GraftSessionSpec extends SparkSpec {

  private def engine(master: String, partitions: String) = Map(
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> partitions,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

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

  private val width = "spark.sql.shuffle.partitions"
  // registered with a default of true, and never set by the factory
  private val bucketScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

  test("scoped sets a key for its body and restores the old value") {
    val s = spark.newSession()
    val before = s.conf.get(width)
    assert(GraftSession.scoped(s, width -> "3")(s.conf.get(width)) == "3")
    assert(s.conf.get(width) == before)
  }

  test("scoped unsets a key that was not set, registered default or not") {
    val s = spark.newSession()
    val custom = "graft.spec.scoped.custom"
    assert(!s.conf.getAll.contains(bucketScan))
    GraftSession.scoped(s, bucketScan -> "false", custom -> "x") {
      assert(s.conf.get(bucketScan) == "false" && s.conf.get(custom) == "x")
    }
    assert(!s.conf.getAll.contains(bucketScan) && !s.conf.getAll.contains(custom))
  }

  test("scoped restores the conf when its body throws") {
    val s = spark.newSession()
    val before = GraftSession.effectiveConf(s)
    val thrown = intercept[IllegalStateException] {
      GraftSession.scoped(s, width -> "3", bucketScan -> "false") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(GraftSession.effectiveConf(s) == before)
  }

  test("nested scopes restore in order: inner to outer, outer to the caller") {
    val s = spark.newSession()
    val before = GraftSession.effectiveConf(s)
    GraftSession.scoped(s, width -> "3") {
      GraftSession.scoped(s, width -> "5", bucketScan -> "false") {
        assert(s.conf.get(width) == "5")
      }
      assert(s.conf.get(width) == "3" && !s.conf.getAll.contains(bucketScan))
    }
    assert(GraftSession.effectiveConf(s) == before)
  }

  test("index maintenance, a bulk search and the events loader leave the conf as found") {
    // a session of its own: what earlier suites left on the shared one
    // cannot hide a write here
    val s = spark.newSession()
    def unchanged(op: String)(body: => Unit): Unit = {
      val before = GraftSession.effectiveConf(s)
      body
      val after = GraftSession.effectiveConf(s)
      assert(after == before, s"$op changed the conf: now " +
        s"${after.toSet diff before.toSet}, was ${before.toSet diff after.toSet}")
    }
    val dir = "/root/testdata/sf0.001"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val p = "graft_conf_hyg"
    Indexer.buildBucketedIndex(s, d.filter(col("doc_id") % 2 === 0), p)
    Indexer.appendBucketedIndex(s, d.filter(col("doc_id") % 2 === 1), p)
    unchanged("compactBucketedIndex") {
      assert(Indexer.compactBucketedIndex(s, p, maxFilesPerBucket = 0),
        "compaction should rewrite at a threshold of 0")
    }
    unchanged("deleteFromBucketedIndex") {
      Indexer.deleteFromBucketedIndex(s, p,
        d.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    }
    unchanged("snapshotIndex")(Indexer.snapshotIndex(s, p, "hyg"))
    Indexer.buildBucketedIndex(s, d.filter(col("doc_id") % 7 === 0), s"${p}_b")
    unchanged("mergeBucketedIndexes") {
      Indexer.mergeBucketedIndexes(s, p, s"${p}_b", s"${p}_merged")
    }
    val vp = "graft_conf_hyg_vec"
    VectorIndex.trainAndBuild(s, Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")),
      vp, nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    unchanged("VectorIndex.compact") {
      assert(VectorIndex.compact(s, vp, maxFilesPerUnit = 0))
    }
    unchanged("bulkSearch") {
      val requests = s.createDataFrame(Seq((1L, "spark data"),
        (2L, "stream join filter"))).toDF("query_id", "query_text")
      val hits = Search.bulkSearch(requests, s.table(s"${p}_postings"),
        s.table(s"${p}_term_df"), s.table(s"${p}_doc_info"), k = 5).collect()
      assert(hits.nonEmpty)
    }
    unchanged("Tables.events")(assert(Tables.events(s, dir).count() > 0))
  }
}
