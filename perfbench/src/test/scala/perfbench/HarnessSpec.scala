package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness: input determinism, the percentile
  * rule, the BM25 reference and the names and units it reports.
  */
class HarnessSpec extends AnyFunSuite {

  private val shapes = Workloads.all.map(_.shape)

  test("the same seed gives byte-identical inputs, another seed other inputs") {
    shapes.foreach { shape =>
      val a = Gen.generate(7L, shape).canonicalBytes
      val b = Gen.generate(7L, shape).canonicalBytes
      val c = Gen.generate(8L, shape).canonicalBytes
      assert(java.util.Arrays.equals(a, b))
      assert(!java.util.Arrays.equals(a, c))
    }
  }

  test("generated inputs have the shape the workload asks for") {
    Workloads.all.foreach { w =>
      val in = Gen.generate(3L, w.shape)
      assert(in.docs.size == w.shape.docs)
      assert(in.staged.map(_.size) == Seq.fill(w.shape.stagedFiles)(w.shape.stagedDocsPerFile))
      assert(in.allDocs.map(_.id).distinct.size == in.allDocs.size, "doc ids are unique")
      assert(in.requests.map(_.queryId).distinct.size == in.requests.size,
        "request ids are unique")
      assert(in.requests.forall(_.queryId < w.shape.docs), "every request has a stored vector")
      assert(in.embeddings.size == (if (w.shape.embeddings) w.shape.docs else 0))
    }
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(xs(19)).isEmpty)
    assert(Stats.tail(xs(20)) == Some(50.0 -> 10.0))
    assert(Stats.tail(xs(40)) == Some(75.0 -> 30.0))
    assert(Stats.tail(xs(100)) == Some(90.0 -> 90.0))
    assert(Stats.tail(xs(199)) == Some(90.0 -> 180.0))
    assert(Stats.tail(xs(200)) == Some(95.0 -> 190.0))
    assert(Stats.tail(xs(1000)) == Some(99.0 -> 990.0))
    assert(Stats.tail(xs(10000)) == Some(99.9 -> 9990.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the tokenizer lowercases and splits on (?U)[^\\w\\s]") {
    assert(Bm25Ref.tokenize("Héllo, wörld—x_y 42!") == Seq("héllo", "wörld", "x_y", "42"))
    assert(Bm25Ref.tokenize("  ...  ") == Seq())
  }

  test("BM25 reference on a hand-computed three-document case") {
    // N = 3, lengths 3, 2, 4, average length 3
    val ref = new Bm25Ref(Seq(Gen.Doc(1, "a b a"), Gen.Doc(2, "b c"), Gen.Doc(3, "c c c d")))
    // "a": df 1, idf ln 3; doc 1 has tf 2 at the average length:
    // ln 3 * 2 * 2 / (2 + 1) = 4/3 ln 3
    val a = ref.scores("A!")
    assert(a.keySet == Set(1L))
    assert(math.abs(a(1L) - 1.4648163848908131) < 1e-12)
    // "b c": df 2 each, idf ln 1.5
    //   doc 2: two terms of tf 1 at length 2: 2 * ln 1.5 * 2 / (1 + 0.25 + 0.5)
    //   doc 3: c with tf 3 at length 4: ln 1.5 * 3 * 2 / (3 + 0.25 + 1)
    //   doc 1: b with tf 1 at length 3: ln 1.5 * 2 / 2
    val bc = Bm25Ref.rank(ref.scores("b c c"))
    assert(bc.map(_._1) == Seq(2L, 3L, 1L))
    bc.map(_._2).zip(Seq(0.9267773899615186, 0.5724213290938791, 0.4054651081081644))
      .foreach { case (got, want) => assert(math.abs(got - want) < 1e-12) }
    // a term in every document has idf ln(max(1, 1)) = 0
    val all = new Bm25Ref(Seq(Gen.Doc(1, "x y"), Gen.Doc(2, "x")))
    assert(all.scores("x").values.forall(_ == 0.0))
    assert(ref.scores("zzz").isEmpty)
  }

  test("the top-k check lets tied documents trade places and nothing else") {
    val scores = Map(1L -> 2.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.5)
    val ref = Bm25Ref.rank(scores)
    def check(e: Seq[(Long, Double)]) = Bm25Ref.checkTopK(e, ref, 3, scores.get)
    assert(check(Seq(1L -> 2.0, 2L -> 1.0, 3L -> 1.0)).isEmpty)
    assert(check(Seq(1L -> 2.0, 3L -> 1.0, 2L -> 1.0)).isEmpty)
    assert(check(Seq(1L -> 2.0, 2L -> 1.0, 4L -> 0.5)).nonEmpty)
    assert(check(Seq(1L -> 2.0, 2L -> 1.0)).nonEmpty)
    assert(check(Seq(1L -> 2.0, 2L -> 1.0, 2L -> 1.0)).nonEmpty)
    assert(check(Seq(1L -> 2.1, 2L -> 1.0, 3L -> 1.0)).nonEmpty)
  }

  test("exact cosine top-k excludes the probe and orders by similarity") {
    val v = Seq(1L -> Array(1f, 0f), 2L -> Array(0.9f, 0.1f), 3L -> Array(0f, 1f),
      4L -> Array(0.5f, 0.5f))
    assert(new CosineRef(v).topK(1L, 2) == Seq(2L, 4L))
  }

  // ------------------------------------------------ names and units

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private lazy val spec: JsonNode = {
    var dir = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    while (!new java.io.File(dir, "BENCHMARK.json").exists) dir = dir.getParentFile
    json.readTree(new java.io.File(dir, "BENCHMARK.json"))
  }

  private def entries(key: String, field: String*): Seq[Seq[String]] =
    spec.get(key).elements.asScala.toSeq.map(e => field.map(e.get(_).asText))

  test("the workloads are the ones BENCHMARK.json names") {
    assert(entries("workloads", "name").map(_.head) == Workloads.all.map(_.name))
  }

  test("the summary reports every end-to-end metric with BENCHMARK.json's unit") {
    assert(entries("end_to_end", "name", "unit") ==
      Main.EndToEnd.map { case (n, u) => Seq(n, u) })
  }

  test("the traced summary reports every per-layer metric with BENCHMARK.json's unit") {
    assert(entries("per_layer", "name", "unit") ==
      Workloads.LayerMetrics.map(n => Seq(n, Workloads.unitOf(n))))
  }

  test("the result line carries exactly correct, attempted, failed and metrics") {
    val o = json.readTree(Json.result(correct = true, 3, 0,
      Seq("setup_s" -> (1.5 -> "s"), "op_p50_ms" -> (Double.NaN -> "ms"))))
    assert(o.fieldNames.asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(o.get("correct").asBoolean && o.get("attempted").asLong == 3)
    val m = o.get("metrics")
    assert(m.fieldNames.asScala.toSeq == Seq("setup_s", "op_p50_ms"))
    assert(m.get("setup_s").get("value").asDouble == 1.5)
    assert(m.get("setup_s").get("unit").asText == "s")
    assert(m.get("op_p50_ms").get("value").isNull)
  }

  test("arguments are validated") {
    val ok = Seq("--workload", "index_grow", "--seed", "1", "--seconds", "5",
      "--trace", "0", "--work", "w", "--out", "o")
    assert(Main.parse(ok).isRight)
    assert(Main.parse(ok.updated(5, "0")).isLeft)
    assert(Main.parse(ok.updated(7, "2")).isLeft)
    assert(Main.parse(ok.updated(3, "x")).isLeft)
    assert(Main.parse(ok.take(8)).isLeft)
  }
}
