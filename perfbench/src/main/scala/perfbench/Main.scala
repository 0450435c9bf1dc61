package perfbench

import java.nio.file.{Files, Path, Paths}

/** Runs one workload once and writes its result object.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json>
  * }}}
  *
  * Prints every metric by name with its unit, the measured input
  * properties, the session fingerprint and each failure on stdout; writes
  * the one-line result object to `--out`. With `--trace 0` the result
  * carries the end-to-end metrics, with `--trace 1` the per-layer ones.
  */
object Main {

  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_cpu_ms" -> "ms", "items_per_cpu_s" -> "1/s",
    "index_bytes_per_text_byte" -> "B/B", "live_heap_mb" -> "MiB",
    "recall_at_10" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  def parse(args: Seq[String]): Either[String, Args] = {
    val m = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload")
      seed <- need("seed").flatMap(_.toLongOption.toRight("--seed expects an integer"))
      secs <- need("seconds").flatMap(_.toIntOption.filter(_ > 0)
        .toRight("--seconds expects a positive integer"))
      trace <- need("trace").flatMap {
        case "0" => Right(false); case "1" => Right(true)
        case _ => Left("--trace expects 0 or 1")
      }
      work <- need("work")
      out <- need("out")
    } yield Args(w, seed, secs, trace, Paths.get(work), Paths.get(out))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq).fold(e => { System.err.println(e); sys.exit(2) }, identity)
    val workload = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload '${a.workload}' (known: " +
        Workloads.all.map(_.name).mkString(", ") + ")")
      sys.exit(2)
    }
    val in = Gen.generate(a.seed, workload.shape)
    Run.log("inputs generated")
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = Session.create(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Run.log("session started")
    val conf = Session.effectiveConf(spark)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val r = new Run(spark, in, a.seconds, tracer, a.work)
    try {
      workload.body(r)
      r.e2e("setup_s") = sessionS + r.setupParts.values.sum -> "s"
      if (a.trace) r.layer("session.conf_drift_keys") = r.confDriftKeys.size.toDouble -> "count"
      Workloads.finish(r)
      Run.log("workload done")
    } finally spark.stop()
    Run.log("session stopped")

    val out = System.out
    out.println(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0}")
    out.println(s"inputs sha256=${in.sha256}")
    Gen.properties(in).foreach { case (k, v) => out.println(f"input $k $v%.6g") }
    out.println(s"session fingerprint=${Session.fingerprint(conf)} " +
      conf.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    Session.diffFromBench(spark).toSeq.sorted.foreach { case (k, (mine, bench)) =>
      out.println(s"session differs_from_graft.Bench $k=$mine (Bench: $bench)")
    }
    out.println(s"session setup_parts session_start_s=$sessionS " +
      r.setupParts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    if (a.trace) out.println("session conf_drift " + r.confDriftKeys.toSeq.sorted.mkString(" "))
    r.details.foreach { case (k, v) => out.println(s"detail $k $v") }
    r.e2e.foreach { case (k, (v, u)) => out.println(s"metric $k $v $u") }
    r.layer.foreach { case (k, (v, u)) => out.println(s"layer $k $v $u") }
    r.failures.foreach(f => out.println(s"failure $f"))
    out.println(s"verdict correct=${r.failures.isEmpty} attempted=${r.attempted} " +
      s"failed=${math.min(r.failures.size.toLong, r.attempted)}")

    val metrics =
      if (a.trace) Workloads.LayerMetrics.map(n => n -> r.layer(n))
      else EndToEnd.map { case (n, u) => n -> r.e2e.getOrElse(n, Double.NaN -> u) }
    Files.write(a.out, (Json.result(r.failures.isEmpty, r.attempted,
      math.min(r.failures.size.toLong, r.attempted), metrics) + "\n").getBytes("UTF-8"))
    out.flush()
  }
}

/** The result object, the benchmark's last line of output. */
object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, (v, u)) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ") + "}}"
}
