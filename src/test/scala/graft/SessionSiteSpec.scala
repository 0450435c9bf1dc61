package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]]: a tool or test that builds
  * its own session grows its own conf set, and then the engine it runs is
  * not the engine that ships. Every conf change goes through
  * `GraftSession.scoped`: a write an operator leaves behind changes the
  * engine every later query runs on. Every rename that moves data into
  * place goes through `graft.operators.Commit`, the one crash protocol.
  * Every build-once fixture goes through [[Memo]]: a memo map behind a lock
  * on its whole object serializes unrelated multi-second builds. Every
  * index table goes to disk through `graft.operators.IndexWriter`, which
  * owns its encoding. Every dev-tool timing goes through [[Probe]]'s loop:
  * two timers disagree on what a run is.
  * No SparkSession: a source scan.
  */
class SessionSiteSpec extends AnyFunSuite {

  private def sitesMatching(roots: String*)(hit: String => Boolean): Seq[Path] =
    roots.flatMap { root =>
      Files.walk(Paths.get(root)).iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && hit(Files.readString(p)))
        .toSeq
    }

  private val only = Seq(Paths.get("src/main/scala/graft/GraftSession.scala"))

  test("only GraftSession.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val sites = sitesMatching("src/main/scala", "src/test/scala")(_.contains(needle))
    assert(sites == only,
      s"sessions built outside GraftSession: ${sites.mkString(", ")}")
  }

  test("only GraftSession.scala writes the session conf under src/main") {
    // a chained `.conf` then `.set(` on the next line counts too
    val write = """\.conf\s*\.(set|unset)\(""".r
    val sites = sitesMatching("src/main/scala")(write.findFirstIn(_).isDefined)
    assert(sites == only,
      s"conf written outside GraftSession: ${sites.mkString(", ")}")
  }

  test("no code under src/main names the object-hash fallback threshold") {
    // a top-k whose speed depends on this conf is fast only for callers
    // that scope it; the top-k is bounded in the plan instead
    val sites = sitesMatching("src/main/scala")(_.contains("fallback" + "Threshold"))
    assert(sites.isEmpty,
      s"fallback threshold named in: ${sites.mkString(", ")}")
  }

  test("only Commit.scala renames data into place under src/main") {
    val rename = """fs\.rename\(|RENAME TO""".r
    val sites = sitesMatching("src/main/scala")(rename.findFirstIn(_).isDefined)
    assert(sites == Seq(Paths.get("src/main/scala/graft/operators/Commit.scala")),
      s"renames outside Commit: ${sites.mkString(", ")}")
  }

  test("Indexer and VectorIndex write index tables only through IndexWriter") {
    // the writer owns the format and the encoding; a table written beside
    // it would come out in the session's default encoding
    val write = """saveAsTable\(|\.bucketBy\(|\.format\("parquet"\)|\.write\s*\.""".r
    val sites = Seq("Indexer.scala", "VectorIndex.scala")
      .map(f => Paths.get("src/main/scala/graft/operators", f))
      .filter(p => write.findFirstIn(Files.readString(p)).isDefined)
    assert(sites.isEmpty,
      s"index tables written outside IndexWriter: ${sites.mkString(", ")}")
  }

  test("only Memo, CacheRegistry and Search synchronize under src/main") {
    val allowed = Set("graft/Memo.scala", "graft/CacheRegistry.scala",
      "graft/operators/Search.scala").map(f => Paths.get("src/main/scala", f))
    val sites = sitesMatching("src/main/scala")(_.contains("synchronized"))
    assert(sites.forall(allowed),
      s"synchronized outside Memo: ${sites.filterNot(allowed).mkString(", ")}")
  }

  test("no hand-rolled memo map or set under the query families") {
    val field = """mutable\.(Map|Set)\[""".r
    val sites = sitesMatching("src/main/scala/graft/queries")(
      field.findFirstIn(_).isDefined)
    assert(sites.isEmpty,
      s"mutable Map/Set fields in: ${sites.mkString(", ")}")
  }

  test("only Probe and Bench read System.nanoTime under src/main") {
    val allowed = Set("Probe.scala", "Bench.scala")
      .map(f => Paths.get("src/main/scala/graft", f))
    val sites = sitesMatching("src/main/scala")(_.contains("nanoTime"))
    assert(sites.toSet.subsetOf(allowed),
      s"timers outside Probe and Bench: ${sites.filterNot(allowed).mkString(", ")}")
  }
}
