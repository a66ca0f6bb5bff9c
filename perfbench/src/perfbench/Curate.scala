package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The analytic user: `SparkEntry` query compositions over the bundled
  * test tables. A cold pass runs every query once against a fresh,
  * private artifact directory, so every `DiskArtifact` is built as on a
  * new corpus; warm passes follow until the time budget is spent. The
  * query set is fixed; the seed only permutes the order of each pass. */
object Curate {

  /** Query set by group: one of the queries each ROADMAP open item
    * names, trimmed to what fits one run. `lm` and `kernel` are the
    * native LM-scoring kernels (cold is their artifact build), `graph`
    * an iterative graph loop, `ann` the SQL ANN table function, `dedup`
    * the substring dedup, and `relational` a control no open item
    * touches. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "lm" -> Seq("q122_kn5_quality"),
    "graph" -> Seq("q140_knn_pagerank"),
    "ann" -> Seq("q182_sql_ann_topk"),
    "dedup" -> Seq("q82_substring_dedup"),
    "kernel" -> Seq("q133_fused_quality"),
    "relational" -> Seq("q01_pricing_summary"))

  def queries: Seq[String] = Groups.flatMap(_._2)
  val Dataset = "sf0.01"
  val MinWarmPasses = 2

  /** Pinned (rows, fingerprint) per query on `Dataset`. */
  def pins(data: java.io.File): Map[String, (Long, String)] = {
    val f = new java.io.File(data, s"../pins/curate-$Dataset.tsv")
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(q, n, fp) = l.split("\t")
        q -> (n.toLong, fp)
      }.toMap finally src.close()
    }
  }

  /** Run one query and read its whole result, as a user would. */
  def execute(spark: SparkSession, q: String, dir: String): (DataFrame, Seq[Seq[Any]]) = {
    val df = SparkEntry.queries(q)(spark, dir)
    (df, df.collect().toSeq.map(_.toSeq))
  }

  /** Point the program's artifact cache at a fresh directory. */
  private def artifactsIn(dir: java.io.File): Unit = {
    dir.mkdirs()
    System.setProperty("java.io.tmpdir", dir.getAbsolutePath)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val data = new java.io.File(ctx.data, Dataset).getAbsolutePath
    val pinned = pins(ctx.data)
    val record = sys.env.get("PERFBENCH_RECORD_PINS").map(new java.io.File(_))
    val rng = new Rng(ctx.seed)
    val rec = new Recorder
    val gate = collection.mutable.ArrayBuffer.empty[String]
    if (pinned.isEmpty && record.isEmpty) gate += s"no pinned results for $Dataset"
    record.foreach(f => gate += s"recording pins to $f: results are not checked")

    def check(q: String)(rows: Seq[Seq[Any]]): Option[String] =
      if (record.isDefined) None
      else pinned.get(q) match {
        case None => Some("no pinned result")
        case Some((n, fp)) =>
          val got = Fingerprint.of(rows)
          if (rows.length != n) Some(s"${rows.length} rows, pinned $n")
          else if (got != fp) Some(s"fingerprint $got, pinned $fp")
          else None
      }

    // cold pass: the first queries of this JVM, with an empty artifact
    // directory — what a user pays on a new corpus
    val artifacts = new java.io.File(ctx.tmp, "artifacts")
    artifactsIn(artifacts)
    val coldS = collection.mutable.LinkedHashMap.empty[String, Double]
    val exchanges = collection.mutable.HashMap.empty[String, Int]
    val c0 = System.nanoTime()
    rng.shuffle(queries).foreach { q =>
      val t0 = System.nanoTime()
      rec.attempt(s"cold:$q")(tr.call("cold", s"cold:$q")(execute(spark, q, data))) {
        case (df, rows) =>
          exchanges(q) = Plans.exchanges(df)
          check(q)(rows)
      }.foreach { case (_, rows) =>
        record.foreach(f => appendPin(f, q, rows))
      }
      coldS(q) = Serve.secs(t0)
      System.err.println(f"[perfbench] cold $q ${coldS(q)}%.3f s")
      graft.util.Materialize.releaseAll(spark)
    }
    val coldTotal = Serve.secs(c0)
    val built = Option(artifacts.listFiles()).toSeq.flatten.count(_.getName.startsWith("graft-"))

    // warm passes until the budget is spent (whole passes, at least two);
    // each query starts from a collected heap, so the garbage of whichever
    // query the seed's order put before it is not collected on its clock
    val warmS = collection.mutable.HashMap.empty[String, collection.mutable.ArrayBuffer[Double]]
    val passS = collection.mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    var pass = 0
    while (pass < MinWarmPasses || Serve.secs(w0) < ctx.seconds) {
      pass += 1
      var inPass = 0.0
      rng.shuffle(queries).foreach { q =>
        System.gc()
        val t0 = System.nanoTime()
        rec.attempt(s"warm:$q")(tr.call(s"warm$pass", s"warm:$q")(execute(spark, q, data)))(
          r => check(q)(r._2))
        warmS.getOrElseUpdate(q, collection.mutable.ArrayBuffer.empty) += Serve.secs(t0)
        System.err.println(f"[perfbench] warm $q ${warmS(q).last}%.3f s")
        inPass += warmS(q).last
        graft.util.Materialize.releaseAll(spark)
      }
      passS += inPass
    }
    val window = Serve.secs(w0)

    val warmMed = queries.map(q => q -> Stats.median(warmS(q).toSeq)).toMap
    val named = Seq(
      "curate_cold_s" -> M(coldTotal, "s"),
      "curate_warm_s" -> M(Stats.median(passS.toSeq), "s"),
      "warm_passes" -> M(pass.toDouble, "count"))
    val perQuery = queries.flatMap { q =>
      val short = q.takeWhile(_ != '_')
      Seq(s"queries.$short.cold_s" -> M(coldS(q), "s"),
        s"queries.$short.warm_s" -> M(warmMed(q), "s"))
    }
    val perGroup = Groups.flatMap { case (g, qs) =>
      // per group: the sum over its queries of the mean cost of one run
      def sumCost(pass: String, f: CallCost => Double) = qs.map { q =>
        val cs = tr.costs(s"$pass:$q")
        if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.length
      }.sum
      Seq(
        s"queries.$g.jobs_cold" -> M(sumCost("cold", _.jobs.toDouble), "count"),
        s"queries.$g.jobs_warm" -> M(sumCost("warm", _.jobs.toDouble), "count"),
        s"queries.$g.exchanges" -> M(qs.map(q => exchanges.getOrElse(q, 0)).sum.toDouble, "count"),
        s"queries.$g.shuffle_bytes" -> M(sumCost("warm", _.shuffleBytes.toDouble), "bytes"))
    }
    // a user operation is one warm query; the mean over the fixed set is
    // a pass's time per query
    val msPerOp = queries.map(warmMed).sum * 1e3 / queries.length
    Outcome(rec, coldTotal, msPerOp, named,
      perQuery ++ perGroup :+ ("util.cold_artifacts" -> M(built, "count")), gate.toSeq)
  }

  private def appendPin(f: java.io.File, q: String, rows: Seq[Seq[Any]]): Unit = {
    val w = new java.io.FileWriter(f, true)
    try w.write(s"$q\t${rows.length}\t${Fingerprint.of(rows)}\n") finally w.close()
  }
}
