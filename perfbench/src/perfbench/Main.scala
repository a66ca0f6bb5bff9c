package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its seed and
  * time budget, and the run's private directories. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     seconds: Double, work: java.io.File, tmp: java.io.File,
                     data: java.io.File) {
  def dir(name: String): java.io.File = {
    val d = new java.io.File(work, name); d.mkdirs(); d
  }
  def path(name: String): String = dir(name).getAbsolutePath
}

/** A metric with its unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back: its recorder, its set-up time, the mean
  * latency of one user operation, its own end-to-end figures (printed
  * for people above the result line), its per-layer metrics and any
  * failed run-level gates. */
final case class Outcome(
    rec: Recorder,
    setupS: Double,
    msPerOp: Double,
    named: Seq[(String, M)],
    layers: Seq[(String, M)],
    gateErrors: Seq[String])

object Main {

  val Workloads = Seq("serve", "curate")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { usage(s"missing --$k"); "" })
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = new java.io.File(need("work-dir"))
    val data = new java.io.File(need("data-dir"))
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = Ctx(spark, tracer, seed, seconds, work, tmp, data)
    val out = try workload match {
      case "serve" => Serve.run(ctx)
      case "curate" => Curate.run(ctx)
    } catch {
      case e: Throwable =>
        // no result line: the run failed before it could measure anything
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    // what the program left in its temp directory (the run deletes it)
    def leftovers(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.getName.startsWith("graft-")) Seq(c) else if (c.isDirectory) leftovers(c) else Nil)
    val residue = leftovers(tmp)
    opts.get("spans").foreach(f => tracer.writeSpans(new java.io.File(f)))

    val errs = out.rec.errors.toSeq ++ out.gateErrors
    val correct = out.rec.failed == 0 && out.gateErrors.isEmpty && out.msPerOp > 0
    val e2e = Seq(
      "setup_s" -> M(out.setupS, "s"),
      "ms_per_op" -> M(out.msPerOp, "ms"),
      "peak_rss_mb" -> M(Proc.peakRssMb, "MB"))
    val layers = out.layers ++ Seq(
      "util.tmp_residue_bytes" -> M(residue.map(Proc.dirBytes).sum.toDouble, "bytes"),
      "util.tmp_residue_entries" -> M(residue.length.toDouble, "count"),
      "trace.spans" -> M(tracer.spanCount.toDouble, "count")) ++
      e2e.map { case (k, m) => s"trace.$k" -> m }

    System.err.println(s"[perfbench] $workload seed=$seed: ${out.rec.attempted} ops, " +
      s"${out.rec.failed} failed")
    errs.foreach(e => System.err.println(s"[perfbench] FAIL $e"))
    println(s"# $workload (seed $seed, ${if (trace) "traced" else "untraced"}) " +
      s"failed_ratio=${Json.num(out.rec.failed.toDouble / math.max(1, out.rec.attempted))}")
    (out.named :+ ("peak_rss_mb" -> e2e.last._2)).foreach { case (k, m) => println(f"#   $k%-28s ${Json.num(m.value)} ${m.unit}") }

    val metrics = if (trace) layers else e2e
    val body = metrics.map { case (k, m) =>
      s""""${Json.esc(k)}":{"value":${Json.num(m.value)},"unit":"${Json.esc(m.unit)}"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${math.max(1, out.rec.attempted)},""" +
      s""""failed":${out.rec.failed},"metrics":$body}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload serve|curate " +
      "--seed N --seconds S --trace 0|1 --work-dir DIR --data-dir DIR [--spans FILE]")
    sys.exit(2)
  }
}
