package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Pins the ANN determinism contract: the driver-side plane constants must
  * equal the engine-portable md5 Column form (which the DuckDB oracles
  * mirror in SQL), and LSH bucketing must behave like a sign-pattern hash.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("planeValue equals the md5 Column form over the full 8x64 grid") {
    val grid = for { j <- 0 until 8; d <- 0 until 64 } yield (j, d)
    val fromSpark = grid.toDF("j", "d")
      .select(Similarity.planeComponent(col("j"), col("d")).as("p"))
      .collect().map(_.getDouble(0)).toSeq
    val fromDriver = grid.map { case (j, d) => Similarity.planeValue(j, d) }
    assert(fromSpark == fromDriver)
  }

  test("VectorIndex.delete forgets ids; untouched lists keep their files") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "vecdel_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix, nlist = 8, iters = 1,
      pqM = 4, pqKs = 8)
    val t = s"${prefix}_vectors"
    def filesPerList: Map[String, Set[String]] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      val root = new org.apache.hadoop.fs.Path(loc)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cent_id="))
        .map(st => st.getPath.getName -> fs.listStatus(st.getPath)
          .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    }
    val before = filesPerList
    val deleted = emb.filter(col("id") % 5 === 0).select(col("id"))
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    val affectedLists = spark.table(t)
      .join(broadcast(deleted), "id").select(col("cent_id"))
      .distinct().collect().map("cent_id=" + _.get(0)).toSet
    val rewritten = VectorIndex.delete(spark, deleted, prefix)
    assert(rewritten == affectedLists.size, "rewrite count != touched lists")
    // every survivor present, no deleted id anywhere in the table
    val remaining = spark.table(t).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(remaining.intersect(deletedIds).isEmpty, "deleted id still indexed")
    assert(remaining.size == emb.count() - deletedIds.size,
      "survivor count wrong after delete")
    // untouched lists were not rewritten — same file names, byte-stable
    val after = filesPerList
    before.keys.filterNot(affectedLists).foreach { d =>
      assert(after(d) == before(d), s"untouched list $d was rewritten")
    }
    // serving never returns a forgotten vector
    val served = VectorIndex.searchPrebuilt(spark, prefix,
        emb.filter(col("id") % 50 === 0), k = 5, nprobe = 4, shortlist = 20)
      .select(col("cand_id")).collect().map(_.getLong(0)).toSet
    assert(served.intersect(deletedIds).isEmpty,
      "search served a deleted vector")
    // the forward store forgets the same ids (point fetches must 404)
    val fwdRemaining = spark.table(s"${prefix}_forward").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(fwdRemaining == remaining,
      "forward store disagrees with the lists after delete")
  }

  test("two independent builds of a plane-dot plan canonicalize equal") {
    // CacheManager dedupes caches (and reuses cached subtrees across
    // queries) by canonicalized-plan equality. DoubleArrayDotConst must
    // therefore be STRUCTURALLY equal across builds — an Array constructor
    // parameter (reference equality) broke this: every re-invocation of a
    // cached-edge query (label_propagation) re-cached instead of reusing,
    // 0.8 s -> 3.5 s in the r7 bench plus duplicate-cache memory pressure.
    val df = Seq((1L, Seq(0.5, -0.25))).toDF("id", "v")
    def plan(d: org.apache.spark.sql.DataFrame) =
      d.select(graft.plans.VectorExprs.dotConst(col("v"),
        Array(0.125, -0.375)).as("dot"))
    val a = plan(df)
    val b = plan(df)
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed),
      "independently-built plane-dot plans do not canonicalize equal — " +
        "cache dedup and reuse are broken for every LSH query")
    assert(a.collect().map(_.getDouble(0)).toSeq == Seq(0.5 * 0.125 + 0.25 * 0.375))
  }

  test("lshBuckets: equal vectors collide, negated vectors flip every bit") {
    val v = (0 until 64).map(i => math.sin(i + 1.0))
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("id", "v")
    val b = Similarity.lshBuckets(spark, df, 8, 64)
      .select("id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L))
    // no plane dot is exactly zero for this vector, so negation flips all
    // 8 sign bits: buckets are bitwise complements within the low byte
    assert((b(1L) ^ b(3L)) == 0xffL)
  }

  // knn_graph's neighbor-side bucket cap (512) must NOT engage at the
  // oracle gate SF — if it did, capping would change which candidates the
  // oracle sees and the invariant "cap is a pure scale guard" breaks.
  // sf0.01 has 500 vectors, so no band-bucket can reach 512 by counting;
  // this pins that arithmetic against testdata regeneration.
  test("knn bucket cap cannot engage at the oracle gate SF") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val occ = Similarity.lshBands(spark, e, 8, 64, 2)
      .groupBy("band", "sig").count()
      .agg(max("count")).head().getLong(0)
    assert(occ < 512,
      s"max band-bucket occupancy $occ reached the knn_graph neighbor cap " +
        "(512): the cap would now alter oracle-gate results — retune")
  }

  // autoBandGeometry is the documented scaling path for LSH self-joins:
  // bits grow with the corpus so expected occupancy stays near target.
  test("autoBandGeometry keeps expected occupancy near target as N grows") {
    import graft.operators.Similarity.autoBandGeometry
    for (n <- Seq(1000L, 100000L, 10000000L, 1000000000L)) {
      val (planes, bits) = autoBandGeometry(n, targetOccupancy = 64)
      assert(planes == 4 * bits)
      val expectedOcc = n.toDouble / (1L << bits)
      // ceil(log2) overshoots by at most 1 bit: occupancy in (target/2, target]
      if (bits < 15)
        assert(expectedOcc <= 64.0 && expectedOcc > 16.0,
          s"n=$n bits=$bits expected occupancy $expectedOcc off target")
    }
    assert(autoBandGeometry(10L)._2 == 2, "small corpora clamp to 2 bits")
    // 15, not 16: 4 bands x 16 bits would pack plane 63 into the long
    // signature's SIGN bit (engine-fragile shift/% semantics there)
    assert(autoBandGeometry(Long.MaxValue)._2 == 15, "bits clamp at 15")
  }

  test("autoBandGeometryExact agrees with the float formula everywhere") {
    import graft.operators.Similarity.{autoBandGeometry, autoBandGeometryExact}
    // exhaustive through the whole sub-clamp range (bits saturate at 15
    // for n >= 64 * 2^15 = 2,097,152), then spot checks beyond
    for (n <- (1L to 4200000L by 997L) ++ Seq(1L, 63L, 64L, 65L, 4096L,
        4097L, 4194304L, 4194305L, 1000000000L, Long.MaxValue))
      assert(autoBandGeometryExact(n) == autoBandGeometry(n),
        s"exact/float geometry disagree at n=$n")
    // and the power-of-two boundaries the float formula is most fragile at
    for (b <- 0 to 40; d <- -1L to 1L) {
      val n = (1L << b) + d
      if (n >= 1)
        assert(autoBandGeometryExact(n) == autoBandGeometry(n),
          s"exact/float geometry disagree at n=$n")
    }
  }

  test("embedding_covariance is a valid moment matrix (diag >= 0, Cauchy-Schwarz)") {
    val rows = graft.queries.SimilarityQueries
      .embeddingCovariance(spark, "/root/testdata/sf0.001")
      .select("i", "j", "cov").as[(Int, Int, Double)].collect()
    val cov = rows.map { case (i, j, c) => (i, j) -> c }.toMap
    val d = rows.map(_._1).max + 1
    assert(rows.length == d * (d + 1) / 2, "upper triangle complete")
    // micro-grid quantization bounds the error of each moment entry by
    // ~1e-6/n; allow that slack on the inequalities
    val eps = 1e-5
    (0 until d).foreach(i => assert(cov((i, i)) >= -eps, s"var($i) negative"))
    for (i <- 0 until d; j <- i + 1 until d) {
      val bound = math.sqrt(math.max(cov((i, i)), 0.0) *
        math.max(cov((j, j)), 0.0))
      assert(math.abs(cov((i, j))) <= bound + eps,
        s"cov($i,$j)=${cov((i, j))} violates Cauchy-Schwarz bound $bound")
    }
  }

  test("VectorIndex snapshot/rollback restores the forward store with the lists") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "vecsnap_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix, nlist = 8, iters = 1,
      pqM = 4, pqKs = 8)
    def ids(t: String): Set[Long] = spark.table(t).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val full = ids(s"${prefix}_forward")
    assert(full == ids(s"${prefix}_vectors"), "forward != lists after build")
    // the risky-maintenance fence: snapshot, botch the index, roll back
    VectorIndex.snapshot(spark, prefix, "pre")
    VectorIndex.delete(spark,
      emb.filter(col("id") % 3 === 0).select(col("id")), prefix)
    assert(ids(s"${prefix}_forward") != full, "delete did not touch forward")
    VectorIndex.rollback(spark, prefix, "pre")
    assert(ids(s"${prefix}_forward") == full,
      "rollback did not restore the forward store")
    assert(ids(s"${prefix}_vectors") == full,
      "rollback did not restore the lists")
    // the bucket SPEC survives the managed-table rename (a bare filter
    // plans "Bucketed: false (disabled by query planner)" even on a
    // healthy table — pruning engages in join/serving contexts, which
    // PlanSpec pins on the live index — so assert the catalog directly)
    val described = spark.sql(s"DESCRIBE TABLE EXTENDED ${prefix}_forward")
      .collect().map(r => s"${r.get(0)}: ${r.get(1)}").mkString("\n")
    assert(described.contains("Num Buckets: 8") &&
      described.contains("Bucket Columns: [`id`]"),
      s"restored forward store lost its bucket spec:\n$described")
  }

  test("VectorIndex rollback to a snapshot lacking _forward throws and " +
    "changes nothing") {
    import graft.operators.VectorIndex
    val emb = spark.range(0, 400).select(col("id"),
      array((1 to 8).map(j => sin((col("id") + 1) * j)): _*).as("v"))
    val prefix = "vecsnap_part_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix, nlist = 8, iters = 1,
      pqM = 4, pqKs = 8)
    VectorIndex.snapshot(spark, prefix, "pre")
    // after the snapshot, so lists re-pointed at it would serve these again
    VectorIndex.delete(spark,
      emb.filter(col("id") % 3 === 0).select(col("id")), prefix)
    val probes = emb.filter(col("id") % 50 === 0)
    def serve() = VectorIndex
      .searchPrebuilt(spark, prefix, probes, k = 5, nprobe = 4, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val before = serve()
    spark.sql(s"DROP TABLE ${prefix}_pre_forward")
    intercept[Exception](VectorIndex.rollback(spark, prefix, "pre"))
    assert(serve() == before, "a failed rollback changed the live index")
  }

  test("VectorIndex.compact merges append debris; serving is unchanged") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "veccomp_spec"
    VectorIndex.trainAndBuild(spark, emb.filter(col("id") % 2 === 0), prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    VectorIndex.append(spark, emb.filter(col("id") % 4 === 1), prefix)
    VectorIndex.append(spark, emb.filter(col("id") % 4 === 3), prefix)
    // the growth compact() exists to bound: each append added one file per
    // touched list and forward bucket
    assert(VectorIndex.listFileCounts(spark, prefix).values.exists(_ > 1),
      "appends left no multi-file list — fixture too small to exercise compact")
    assert(graft.operators.Indexer
      .bucketFileCounts(spark, s"${prefix}_forward").values.exists(_ > 1),
      "appends left no multi-file forward bucket")
    val probes = emb.filter(col("id") % 50 === 0)
    def serve() = VectorIndex
      .searchPrebuilt(spark, prefix, probes, k = 5, nprobe = 4, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val before = serve()
    assert(VectorIndex.compact(spark, prefix, maxFilesPerUnit = 1),
      "compact() reported nothing to do on a multi-file index")
    assert(VectorIndex.listFileCounts(spark, prefix).values.forall(_ <= 1),
      "a vector list still has multiple files after compaction")
    assert(graft.operators.Indexer
      .bucketFileCounts(spark, s"${prefix}_forward").values.forall(_ <= 1),
      "a forward bucket still has multiple files after compaction")
    assert(serve() == before, "serving changed across compaction")
    // idempotent: a second pass finds nothing over threshold
    assert(!VectorIndex.compact(spark, prefix, maxFilesPerUnit = 1),
      "second compact() pass was not a no-op")
  }

  test("maintenance recovery restores a list stranded by a crashed swap") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "vecrecover_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val probes = emb.filter(col("id") % 50 === 0)
    def serve() = VectorIndex
      .searchPrebuilt(spark, prefix, probes, k = 5, nprobe = 4, shortlist = 20)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val before = serve()
    // simulate the crash window: a compact/delete logged its list swap's
    // intent, deleted the live list and died BEFORE renaming its staged
    // replacement in — the staged dir holds the list's only copy
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${prefix}_vectors")).location
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cent_id="))
      .map(_.getPath).minBy(_.getName)
    val lists = graft.operators.Commit.partitioned(fs, root)
    fs.mkdirs(lists.staging)
    assert(fs.rename(victim, lists.staged(victim.getName)))
    graft.operators.Commit.writeMarker(fs, lists.intent,
      s"target=${victim.getName}")
    // ANY subsequent maintenance op must first restore the stranded list
    // (threshold 999 = no rewrite work; entry recovery is what runs)
    VectorIndex.compact(spark, prefix, maxFilesPerUnit = 999)
    assert(!fs.exists(lists.intent) && !fs.exists(lists.staging),
      "recovery left the intent or staging behind")
    assert(fs.exists(victim), "recovery did not restore the stranded list")
    assert(serve() == before,
      "serving changed across crash recovery — rows were lost")
  }

  test("maintenance lease: a second concurrent op fails fast naming the holder") {
    import graft.operators.{Indexer, MaintenanceLease, VectorIndex}
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "veclease_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    // a "scheduled policy" holds the lease; the "manual op" must fail
    // fast with the holder named, never interleave
    val ex = intercept[MaintenanceLease.LeaseHeldException] {
      MaintenanceLease.withLease(spark, prefix, "scheduled-policy-compact") {
        VectorIndex.compact(spark, prefix, maxFilesPerUnit = 999)
      }
    }
    assert(ex.getMessage.contains("scheduled-policy-compact"),
      s"contention error does not name the holder: ${ex.getMessage}")
    assert(ex.getMessage.contains(prefix))
    // the lease releases on exit: the same op now proceeds
    VectorIndex.compact(spark, prefix, maxFilesPerUnit = 999)
    // retrain and delete honor the same lease
    intercept[MaintenanceLease.LeaseHeldException] {
      MaintenanceLease.withLease(spark, prefix, "other-writer") {
        VectorIndex.retrain(spark, prefix, iters = 1)
      }
    }
    intercept[MaintenanceLease.LeaseHeldException] {
      import spark.implicits._
      MaintenanceLease.withLease(spark, prefix, "other-writer") {
        VectorIndex.delete(spark, Seq(1L).toDF("id"), prefix)
      }
    }
    // rollback swaps the live index too — lease checked BEFORE any read,
    // so no snapshot needs to exist for the contention to surface
    intercept[MaintenanceLease.LeaseHeldException] {
      MaintenanceLease.withLease(spark, prefix, "other-writer") {
        VectorIndex.rollback(spark, prefix, "nosuch")
      }
    }
    // the TEXT index's maintenance ops honor theirs too
    val tPrefix = "txtlease_spec"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(50)
    Indexer.buildBucketedIndex(spark, docs, tPrefix)
    val ex2 = intercept[MaintenanceLease.LeaseHeldException] {
      MaintenanceLease.withLease(spark, tPrefix, "stream-policy") {
        Indexer.compactBucketedIndex(spark, tPrefix, maxFilesPerBucket = 999)
      }
    }
    assert(ex2.getMessage.contains("stream-policy"))
  }

  test("maintenance lease: a crashed writer's stale lease expires; a fresh one blocks") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "vecstale_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val lease = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"_graft_lease_$prefix")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plantLease(ageMs: Long): Unit = {
      val out = fs.create(lease, true)
      out.write("op=crashed-writer host=gone pid=0 epoch=0\n".getBytes("UTF-8"))
      out.close()
      val t = System.currentTimeMillis() - ageMs
      fs.setTimes(lease, t, t)
    }
    try GraftSession.scoped(spark,
        graft.operators.MaintenanceLease.StaleMsConf -> "60000") {
      // fresh foreign lease (age 0 < 60 s): blocked, holder named
      plantLease(ageMs = 0)
      val ex = intercept[graft.operators.MaintenanceLease.LeaseHeldException] {
        VectorIndex.compact(spark, prefix, maxFilesPerUnit = 999)
      }
      assert(ex.getMessage.contains("crashed-writer"))
      // stale lease (2 min > 60 s): expired and retaken; the op runs and
      // releases cleanly
      plantLease(ageMs = 120000)
      VectorIndex.compact(spark, prefix, maxFilesPerUnit = 999)
      assert(!fs.exists(lease), "op did not release the retaken lease")
      // token-checked release: an op that outlives staleMs and gets
      // usurped must NOT delete the usurper's lease on exit
      graft.operators.MaintenanceLease.withLease(spark, prefix, "slow-op") {
        plantLease(ageMs = 0) // the usurper retakes mid-op
      }
      assert(fs.exists(lease),
        "a usurped op deleted the new holder's lease on exit " +
          "(lock-token bug)")
    } finally fs.delete(lease, false)
  }

  test("snapshot fails fast when the source prefix's lease is held") {
    import graft.operators.{MaintenanceLease, VectorIndex}
    // ADVICE r12: snapshot used to warn-and-proceed past a held source
    // lease — a copy raced against another process's compact/delete could
    // bake mid-swap state (a list missing) into the fence copy. It
    // now holds the SOURCE lease for the copy and fails fast like every
    // other maintenance op.
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "vecsnaplease_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val ex = intercept[MaintenanceLease.LeaseHeldException] {
      MaintenanceLease.withLease(spark, prefix, "live-compact") {
        VectorIndex.snapshot(spark, prefix, "raced")
      }
    }
    assert(ex.getMessage.contains("live-compact"),
      s"contention error does not name the holder: ${ex.getMessage}")
    assert(!spark.catalog.tableExists(s"${prefix}_raced_centroids"),
      "fail-fast snapshot still copied tables")
    // lease released: the same snapshot proceeds and lands all four stores
    VectorIndex.snapshot(spark, prefix, "ok")
    assert(spark.catalog.tableExists(s"${prefix}_ok_centroids"))
    assert(spark.table(s"${prefix}_ok_forward").count() ==
      spark.table(s"${prefix}_forward").count())
  }

  test("snapshot-fenced retrain holds ONE lease: contention skips the " +
    "pair atomically, never orphaning the fence") {
    import graft.operators.{MaintenanceLease, VectorIndex}
    // ADVICE r13: the old fence took the lease for the snapshot, released
    // it, then re-took it for the retrain — a writer grabbing the gap
    // skipped the retrain but left the fresh fence copy lingering, and a
    // later rollback to that fence would silently revert whatever the
    // gap-writer appended. One lease across both closes the gap.
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "vecfence_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val ex = intercept[MaintenanceLease.LeaseHeldException] {
      MaintenanceLease.withLease(spark, prefix, "live-writer") {
        VectorIndex.snapshotFencedRetrain(spark, prefix, iters = 1)
      }
    }
    assert(ex.getMessage.contains("live-writer"), ex.getMessage)
    assert(!spark.catalog.tableExists(s"${prefix}_preretrain_centroids"),
      "contention left an orphaned fence snapshot (the r13 two-lease gap)")
    // uncontended: fence AND retrain both land, results still served
    val probes = emb.filter(col("id") % 50 === 0)
    def serve() = VectorIndex
      .searchPrebuilt(spark, prefix, probes, k = 5, nprobe = 8,
        shortlist = 20).count()
    val before = serve()
    VectorIndex.snapshotFencedRetrain(spark, prefix, iters = 1)
    assert(spark.catalog.tableExists(s"${prefix}_preretrain_centroids"),
      "fenced retrain did not land the fence copy")
    assert(serve() == before,
      "fenced retrain changed the served result count")
  }

  test("vector merge refuses to alias its output to an input") {
    import graft.operators.VectorIndex
    // ADVICE r12: merge(a, b, out=a) would drop and overwrite prefixA's
    // tables via copyIndex while also reading them — corrupting the index
    // under its own lease. Guarded before any table access, like
    // Indexer.mergeBucketedIndexes.
    intercept[IllegalArgumentException] {
      VectorIndex.merge(spark, "vm_alias_a", "vm_alias_b", "vm_alias_a")
    }
    intercept[IllegalArgumentException] {
      VectorIndex.merge(spark, "vm_alias_a", "vm_alias_b", "vm_alias_b")
    }
  }

  test("serving recovers crash debris, but never under a live maintenance lease") {
    import graft.operators.{MaintenanceLease, VectorIndex}
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val prefix = "vecserverec_spec"
    VectorIndex.trainAndBuild(spark, emb, prefix,
      nlist = 8, iters = 1, pqM = 4, pqKs = 8)
    val probes = emb.filter(col("id") % 50 === 0)
    def serve() = VectorIndex
      .searchPrebuilt(spark, prefix, probes, k = 5, nprobe = 8, shortlist = 20)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val before = serve()
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${prefix}_vectors")).location
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the crash state: list swap logged, live list gone, staged list
    // present — returns the intent the crashed op left
    val lists = graft.operators.Commit.partitioned(fs, root)
    def strand(): org.apache.hadoop.fs.Path = {
      val victim = fs.listStatus(root)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("cent_id="))
        .map(_.getPath).minBy(_.getName)
      fs.mkdirs(lists.staging)
      assert(fs.rename(victim, lists.staged(victim.getName)))
      graft.operators.Commit.writeMarker(fs, lists.intent,
        s"target=${victim.getName}")
      spark.sql(s"MSCK REPAIR TABLE ${prefix}_vectors SYNC PARTITIONS")
      lists.intent
    }
    // crash debris with NO live op: the serve itself recovers it (ADVICE
    // r11 — no under-returning window until the next maintenance op)
    val intent1 = strand()
    assert(serve() == before,
      "serve did not recover crash debris — results under-returned")
    assert(!fs.exists(intent1), "serve-path recovery left the intent")
    // debris while a LIVE op holds the lease: serving must NOT touch the
    // op's in-flight swap state (recovering here would corrupt it)
    val intent2 = strand()
    MaintenanceLease.withLease(spark, prefix, "live-compact") {
      serve() // transient under-return is the documented contract here
      assert(fs.exists(intent2),
        "serve-path recovery ran under a live maintenance lease")
    }
    // op gone (lease released): next maintenance entry restores the list
    VectorIndex.compact(spark, prefix, maxFilesPerUnit = 999)
    assert(serve() == before)
  }

  test("vector-index lifecycle fuzz: random op sequences keep the stores consistent") {
    import graft.operators.{Pq, VectorIndex}
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val allIds = emb.select("id").collect().map(_.getLong(0)).toSet
    val initial = allIds.filter(_ % 3 == 0)
    val prefix = "vecfuzz_spec"
    def sub(ids: Set[Long]) = emb.filter(col("id").isin(ids.toSeq: _*))
    // append/delete never retrain (quantizers stay frozen between
    // explicit retrain ops), so ANY op sequence ending at member set S
    // must serve byte-identical to a fresh build over S with whatever
    // quantizers the sequence ended at — the end-state equivalence this
    // fuzz pins
    val cents = graft.operators.Similarity
      .trainCentroids(sub(initial), 8, 1, 64).toDF("id", "v")
    val codes = Pq.train(sub(initial).select(col("id"), col("v")), 4, 16, 8)
    VectorIndex.build(spark, sub(initial), prefix, cents, codes, 4, 16)
    val probes = emb.filter(col("id") % 50 === 0)
    def ids(t: String): Set[Long] = spark.table(t).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    def serve(p: String): Seq[(Long, Long, Long, Double)] = VectorIndex
      .searchPrebuilt(spark, p, probes, k = 5, nprobe = 4, shortlist = 20)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val rnd = new scala.util.Random(42)
    var model = initial
    var snap: Option[(String, Set[Long])] = None
    var snapN = 0
    val oplog = new StringBuilder
    (1 to 12).foreach { step =>
      rnd.nextInt(6) match {
        case 0 => // append a batch of unindexed ids
          val pool = (allIds -- model).toSeq.sorted
          if (pool.nonEmpty) {
            val batch = rnd.shuffle(pool).take(1 + rnd.nextInt(40)).toSet
            oplog ++= s"append(${batch.size}); "
            VectorIndex.append(spark, sub(batch), prefix)
            model ++= batch
          }
        case 1 => // forget a subset (keep enough to stay non-degenerate)
          if (model.size > 80) {
            val victims = rnd.shuffle(model.toSeq.sorted)
              .take(1 + rnd.nextInt(30)).toSet
            oplog ++= s"delete(${victims.size}); "
            VectorIndex.delete(spark,
              sub(victims).select(col("id")), prefix)
            model --= victims
          }
        case 2 =>
          oplog ++= "compact; "
          VectorIndex.compact(spark, prefix, maxFilesPerUnit = 1)
        case 3 =>
          snapN += 1
          oplog ++= s"snapshot($snapN); "
          VectorIndex.snapshot(spark, prefix, s"f$snapN")
          snap = Some((s"f$snapN", model))
        case 4 =>
          snap.foreach { case (tag, saved) =>
            oplog ++= s"rollback($tag); "
            VectorIndex.rollback(spark, prefix, tag)
            model = saved
            snap = None // consumed
          }
        case 5 => // re-Lloyd from the forward store; membership unchanged
          oplog ++= "retrain; "
          VectorIndex.retrain(spark, prefix, iters = 1)
      }
      // invariants after EVERY op: both stores hold exactly the model set
      assert(ids(s"${prefix}_vectors") == model,
        s"step $step [$oplog]: _vectors drifted from the model")
      assert(ids(s"${prefix}_forward") == model,
        s"step $step [$oplog]: _forward drifted from the lists")
    }
    // end-state equivalence: serving == a fresh build over the final set
    // with the CURRENT quantizers — read from the live index, because a
    // retrain (or a rollback across one) legitimately replaces them;
    // whatever geometry the sequence ended at, the stores must serve
    // byte-identical to a from-scratch build under it
    val centsNow = spark.table(s"${prefix}_centroids")
      .select(col("cent_id").as("id"), col("cv").as("v"))
    val codesNow = spark.table(s"${prefix}_codes").orderBy("m", "k").collect()
      .map(r => Pq.Code(r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    VectorIndex.build(spark, sub(model), s"${prefix}_ref", centsNow, codesNow,
      4, 16)
    assert(serve(prefix) == serve(s"${prefix}_ref"),
      s"[$oplog] end state serves differently from a fresh build")
  }

  test("mmr_rerank_batch_prebuilt probe-0 rows equal the single-probe form") {
    // the batch form's contract: per-probe output is bit-identical to
    // calling the single-probe serving path per probe (shared greedy
    // kernel, same candidate generator)
    val dir = "/root/testdata/sf0.001"
    val single = graft.queries.SimilarityQueries.mmrRerankPrebuilt(spark, dir)
      .select("rank", "doc_id", "relevance", "mmr")
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.SimilarityQueries
      .mmrRerankBatchPrebuilt(spark, dir)
      .filter(col("probe_id") === 0L)
      .select("rank", "doc_id", "relevance", "mmr")
      .collect().map(_.toSeq).toSeq
    assert(batch == single,
      s"batch probe-0 selection diverged from the single-probe form:\n" +
        s" batch=$batch\nsingle=$single")
  }

  test("mmr_rerank matches an independent in-memory greedy and diversifies") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.SimilarityQueries.mmrRerank(spark, dir)
      .select("rank", "doc_id", "relevance", "mmr")
      .as[(Long, Long, Double, Double)].collect().toSeq

    // independent reference: raw parquet read, driver-side brute-force
    // shortlist and greedy loop — shares no code with the engine path
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .as[(Long, Array[Double])].collect()
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum
    def cos(a: Array[Double], b: Array[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val probe = all.find(_._1 == 0L).get._2
    val shortlist = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, cos(probe, v)) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(20)
    var chosen = Vector.empty[(Long, Array[Double], Double, Double)]
    while (chosen.size < 10) {
      val pool = shortlist.filterNot(c => chosen.exists(_._1 == c._1))
      val scored = pool.map { case (id, v, rel) =>
        val mmr =
          if (chosen.isEmpty) 0.7 * rel
          else 0.7 * rel - 0.3 * chosen.map(s => cos(v, s._2)).max
        (id, v, rel, mmr)
      }
      chosen :+= (if (chosen.isEmpty)
        scored.minBy { case (id, _, rel, _) => (-rel, id) }
      else scored.minBy { case (id, _, _, m) => (-m, id) })
    }
    val want = chosen.zipWithIndex.map { case ((id, _, rel, m), i) =>
      (i + 1L, id, rel, m)
    }
    // the reference dot sums via indices.map(...).sum vs the engine's
    // sequential while-loop: same order, so doubles are exactly equal
    assert(got == want, s"\n got=$got\nwant=$want")
    // and the whole point — MMR must not degenerate to relevance order
    val relOrder = shortlist.take(10).map(_._1).toSeq
    assert(got.map(_._2) != relOrder,
      "MMR order equals pure-relevance order: no diversification happened")
  }
}
