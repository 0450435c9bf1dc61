package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Indexer, Search}
import graft.sources.Pipelines

/** End-to-end golden test (SURVEY.md §5.3): prepare -> TSV round-trip ->
  * persisted bucketed index build -> BM25 search over it, checked against
  * an independent in-test scorer. Plus TSV / per-doc-file format parity.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    ("1", "First  Doc", "spark makes big data processing simple and fast"),
    ("2", "Second\tDoc", "big data big pipelines big wins"),
    ("3", "Trois — Éé", "héllo naïve_word spark"),
    ("4", "Empty", ""),
    ("5", "Quote \"Q\"", "simple spark, simple data!"))

  private def docsDf = corpus.toDF("id", "title", "text")

  test("prepare: sample+limit+title normalization") {
    val out = Pipelines.prepare(docsDf, 5, corpus.size)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("1") == "First Doc")     // whitespace collapsed
    assert(out("2") == "Second Doc")    // tab collapsed
    assert(out.size == 5)
  }

  test("TSV round-trip preserves rows incl. tabs/quotes in titles") {
    val dir = Files.createTempDirectory("graft_tsv").toString
    val prepared = Pipelines.prepare(docsDf, 5, corpus.size)
    Pipelines.writeTsv(prepared, dir)
    val back = Pipelines.readTsv(spark, dir)
    val a = prepared.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val b = back.collect().map(r => (r.getString(0), r.getString(1),
      Option(r.getString(2)).getOrElse(""))).toSet
    assert(a == b)
  }

  test("ORC round-trip preserves schema types and exact content") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_orc").toString
    import spark.implicits._
    val in = Seq(
      (1L, "plain text", 0.5),
      (2L, "tabs\tand\nnewlines \"quoted\"", -1.25),
      (3L, "", Double.MaxValue)).toDF("id", "text", "score")
    Pipelines.writeOrc(in, dir)
    val back = Pipelines.readOrc(spark, dir)
    // no schema re-application: the files must carry the exact types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      Set(("id", LongType), ("text", StringType), ("score", DoubleType)))
    val a = in.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("TSV round-trip is byte-exact for embedded newlines and edge whitespace") {
    // the writer quotes fields containing the line separator; the
    // multiLine reader must reassemble them as ONE record (default
    // line-mode parsing shreds them into PERMISSIVE garbage), and the
    // writer must not trim edge whitespace (write-side ignore*WhiteSpace
    // defaults true)
    val tricky = Seq(
      ("n1", "multi", "first line\nsecond line\nthird"),
      ("n2", "crlf", "a\r\nb"),
      ("n3", "edges", "  leading and trailing  "),
      ("n4", "quoted", "say \"hi\"\nbye")).toDF("id", "title", "text")
    val dir = Files.createTempDirectory("graft_tsv_nl").toString
    Pipelines.writeTsv(tricky, dir)
    val back = Pipelines.readTsv(spark, dir)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(back("n1") == "first line\nsecond line\nthird")
    // the one documented non-identity: univocity normalizes line
    // separators INSIDE quoted fields to \n on read (CRLF -> LF)
    assert(back("n2") == "a\nb")
    assert(back("n3") == "  leading and trailing  ")
    assert(back("n4") == "say \"hi\"\nbye")
  }

  test("per-doc file sink writes sanitized filenames with content") {
    val dir = Files.createTempDirectory("graft_docs").toString
    Pipelines.writePerDocFiles(docsDf, dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(files.contains("1_First__Doc.txt"))
    assert(files.contains("5_Quote_Q.txt"))
    assert(files.forall(_.matches("[a-zA-Z0-9_-]+\\.txt")))
    val content = scala.io.Source.fromFile(s"$dir/1_First__Doc.txt").mkString
    assert(content == "spark makes big data processing simple and fast")
  }

  test("golden end-to-end: index to parquet, load, search matches independent scorer") {
    // the path the CLI's `index` and `search` run: the persisted
    // term-bucketed tables, searched through their pruned scans
    val prefix = "graft_pipeline_golden"
    val docs = docsDf.select(col("id").as("doc_id"), col("text"))
    Indexer.buildBucketedIndex(spark, docs, prefix)
    val got = Search.searchPrebuilt(spark, "spark data", prefix, k = 10)
      .collect().map(r => r.getAs[String]("doc_id") -> r.getAs[Double]("score"))

    // independent scorer (reference formula, app/query.py:145,170,186-188)
    def tokenize(s: String): Seq[String] =
      "(?U)[^\\w\\s]".r.replaceAllIn(s.toLowerCase, " ").split("\\s+").filter(_.nonEmpty).toSeq
    val toks = corpus.map { case (id, _, text) => id -> tokenize(text) }.toMap
    val n = corpus.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    def score(query: String): Seq[(String, Double)] = {
      val qts = tokenize(query).distinct
      val perDoc = toks.keys.map { d =>
        d -> qts.map { t =>
          val tf = toks(d).count(_ == t).toDouble
          if (tf == 0) 0.0
          else {
            val df = toks.values.count(_.contains(t)).toDouble
            val idf = math.log(math.max(1.0, n / math.max(1.0, df)))
            idf * tf * 2.0 / (tf + (0.25 + 0.75 * toks(d).size / avgdl))
          }
        }.sum
      }.filter(_._2 > 0).toSeq
      perDoc.sortBy { case (d, s) => (-s, d) }
    }
    val expected = score("spark data")
    assert(got.map(_._1).toSeq == expected.map(_._1))
    // engine scores are pinned to the 1e-6 grid (Money.micros); grid the
    // independent scorer the same way and require exact agreement
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(g == math.round(e * 1e6).toDouble / 1e6,
        s"score mismatch: $g vs $e")
    }
  }
}
