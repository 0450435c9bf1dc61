package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]]: a tool or test that builds
  * its own session grows its own conf set, and then the engine it runs is
  * not the engine that ships. No SparkSession: a source scan.
  */
class SessionSiteSpec extends AnyFunSuite {

  test("only GraftSession.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .toSeq
    }
    assert(sites == Seq(Paths.get("src/main/scala/graft/GraftSession.scala")),
      s"sessions built outside GraftSession: ${sites.mkString(", ")}")
  }
}
