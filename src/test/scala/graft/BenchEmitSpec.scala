package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's LAST-LINE contract (VERDICT r15 #7): the
  * one-line JSON is the final stdout write of the run — after the artifact
  * file, after the stderr note, and after spark.stop() (whose shutdown
  * logging would otherwise trail the JSON in a combined capture, exactly
  * the stray line that made BENCH_r14.json unparseable for the driver).
  */
class BenchEmitSpec extends AnyFunSuite {

  test("emitResult writes the JSON line LAST, after the note and stop()") {
    val events = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val line = """{"metric":"total","value":1.0}"""
    val out = java.nio.file.Files.createTempFile("graft_bench_emit", ".json")
    try {
      Bench.emitResult(line, out,
        stop = () => events += (("stop", "")),
        stdout = s => events += (("out", s)),
        stderr = s => events += (("err", s)))
      // exactly one stdout write, and it is the LAST event
      assert(events.count(_._1 == "out") == 1)
      assert(events.last == (("out", line)))
      // the stderr note and the stop both happen BEFORE it
      assert(events.map(_._1).toSeq == Seq("err", "stop", "out"))
      assert(events.head._2.contains(out.toString))
      // the artifact file carries the same line
      val content = new String(
        java.nio.file.Files.readAllBytes(out), "UTF-8")
      assert(content == line + "\n")
    } finally java.nio.file.Files.deleteIfExists(out): Unit
  }

  test("a failing stop() goes to stderr and the JSON line still prints LAST") {
    val events = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val line = """{"metric":"total","value":2.0}"""
    val out = java.nio.file.Files.createTempFile("graft_bench_emit", ".json")
    try {
      Bench.emitResult(line, out,
        stop = () => throw new IllegalStateException("shutdown hook failed"),
        stdout = s => events += (("out", s)),
        stderr = s => events += (("err", s)))
      assert(events.map(_._1).toSeq == Seq("err", "err", "out"))
      assert(events(1)._2.contains("shutdown hook failed"))
      assert(events.last == (("out", line)))
    } finally java.nio.file.Files.deleteIfExists(out): Unit
  }
}
