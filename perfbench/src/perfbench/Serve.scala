package perfbench

import graft.Library
import graft.model.SearchOptions
import graft.operators.HybridSearch
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The interactive user: one client in a closed loop (a local knowledge
  * base has one user, who waits for each answer) over a static warehouse
  * with every serving tier enabled. */
object Serve {

  val Docs = 100
  val PdfEvery = 10 // every 10th document is written as a PDF
  val PoolSize = 400
  /** The call mix is a fixed schedule, so every run weighs the kinds and
    * options alike and the seed only changes the corpus and the queries:
    * a 20-call kind cycle of 50% hybrid `search`, 20% `annSearch`, 15%
    * `ftsSearch` and 15% `multiScaleSearch`; k from {5, 10, 20, 50} in a
    * 12-call cycle; a tag filter (when the target document has tags) on 4
    * of the 20 calls, which reach the hybrid, ANN and multi-scale paths;
    * `expandContext` on 1 of the 10 hybrid calls. The first 10 calls hold
    * every kind and option. */
  val Cycle: Vector[String] = "SASFSMSASFSMSASFSMAS".toVector.map {
    case 'S' => "search"; case 'A' => "ann"; case 'F' => "fts"; case 'M' => "multiscale"
  }
  val KCycle = Vector(5, 10, 20, 50, 10, 50, 5, 20, 50, 20, 10, 5)
  val FilterAt = Set(1, 6, 11, 16)
  val ExpandAt = Set(4)
  val Kinds = Seq("search", "ann", "fts", "multiscale")
  /** A guard against a gross recall-for-speed trade; three probes on a
    * 450-chunk corpus read 0.67–0.93 with the auto-probed sharded tier. */
  val RecallFloor = 0.5
  val RecallProbes = 3
  /** Calls before the loop may stop. */
  val MinCalls = 10

  /** A query of the Zipf-popular pool: a document's needle, alone or
    * with two of the corpus's most common words. */
  final case class Query(doc: GenDoc, text: String) {
    def bare: Boolean = text == doc.needle
  }

  /** A search result row as the benchmark reads it. */
  final case class Hit(docId: String, chunkIndex: Int, content: String, score: Double)

  def hits(rows: Array[Row]): Vector[Hit] = rows.toVector.map(r => Hit(
    r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"),
    Option(r.getAs[String]("content")).getOrElse(""), r.getAs[Double]("score")))

  def wellFormed(h: Seq[Hit], k: Int): Option[String] =
    if (h.isEmpty) Some("no hits")
    else if (h.length > k) Some(s"${h.length} hits for k=$k")
    else if (h.zip(h.drop(1)).exists { case (a, b) => a.score < b.score })
      Some("hits not sorted by score")
    else None

  private def isNeedle(h: Hit, docId: String, needle: String) =
    h.docId == docId && h.content.contains(needle)

  /** `ftsSearch`: the needle's chunk ranks first. The needle is the only
    * rare term of the query, so BM25 puts its chunk on top. */
  def needleFirst(h: Seq[Hit], docId: String, needle: String, k: Int): Option[String] =
    wellFormed(h, k).orElse(
      if (isNeedle(h.head, docId, needle)) None
      else Some(s"needle $needle: rank 1 is ${h.head.docId}#${h.head.chunkIndex}, want $docId"))

  /** Hybrid `search` for a bare needle: the needle's chunk is among the
    * hits. That is what the fusion rule promises: the chunk is the only
    * full-text hit, so it ranks first unless it is also a vector hit, and
    * then its fused score is at least its vector score, which keeps it in
    * the top k. Rank 1 is not promised: a chunk found by both legs is
    * capped at 1.0 while a vector-only hit keeps its own score. */
  def needleFound(h: Seq[Hit], docId: String, needle: String, k: Int): Option[String] =
    wellFormed(h, k).orElse(
      if (h.exists(isNeedle(_, docId, needle))) None
      else Some(s"needle $needle: not among ${h.length} hybrid hits"))

  /** Exact cosine top-k over the library's embeddings, computed here. */
  final class BruteForce(lib: Library) {
    private val rows: Array[(String, Array[Float])] = lib.embeddings
      .select("chunkId", "embedding").collect()
      .map(r => (r.getString(0), r.getAs[Seq[Float]](1).toArray))

    private def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }

    /** Recall of `got` (chunk ids) against the exact top-`k`; a hit tied
      * with the k-th exact score counts as exact. */
    def recall(q: Array[Float], got: Seq[String], k: Int): Double = {
      val scored = rows.map { case (id, v) => id -> cos(q, v) }
      val kth = scored.map(_._2).sorted(Ordering[Double].reverse).take(k).last - 1e-6
      val byId = scored.toMap
      got.take(k).count(id => byId.get(id).exists(_ >= kth)).toDouble / math.min(k, scored.length)
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val corpus = new Gen.Corpus(ctx.seed)
    val isPdf = (d: GenDoc) => d.name.takeRight(5).toInt % PdfEvery == PdfEvery - 1
    // a PDF has no frontmatter, so it carries none of the generated tags
    val docs = (0 until Docs).map(i => corpus.doc(i)).map(d => if (isPdf(d)) d.copy(tags = Nil) else d)
    val input = ctx.dir("serve-input")
    docs.foreach { d =>
      val (name, bytes) =
        if (isPdf(d)) (s"${d.name}.pdf", d.pdf) else (s"${d.name}.md", Gen.utf8(d.markdown))
      java.nio.file.Files.write(new java.io.File(input, name).toPath, bytes)
    }

    // set-up: what the user runs once — ingest the directory, then enable
    // the FTS postings, the IVF index, the sharded tier and the summaries
    val lib = new Library(ctx.spark, ctx.path("serve-warehouse"))
    val phases = collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      tr.call("setup", s"library.$name")(body)
      phases(name) = secs(t0)
    }
    val s0 = System.nanoTime()
    phase("ingest")(lib.ingestDirectory(input.getAbsolutePath))
    phase("fts_build")(lib.rebuildFtsIndex())
    phase("ivf_build")(lib.buildVectorIndex(nCells = 16, nProbe = 4))
    phase("sharded_build")(lib.enableShardedServing())
    phase("summaries")(lib.buildClusterSummaries(k = 8))
    val setupS = secs(s0)

    val ids = lib.documents.select("id", "path").collect().map { r =>
      r.getString(1).split("/").last.replaceAll("\\.(md|pdf)$", "") -> r.getString(0)
    }.toMap
    val rec = new Recorder
    rec.attempt("stats")(lib.stats()) { got =>
      val chunks = docs.map(_.expectedChunks.toLong).sum
      if (got == ((Docs.toLong, chunks, chunks))) None
      else Some(s"stats $got, generated ($Docs, $chunks, $chunks)")
    }
    val brute = new BruteForce(lib)

    val rng = new Rng(ctx.seed * 31 + 7)
    val common = corpus.vocab.take(20)
    val pool = Vector.tabulate(PoolSize) { _ =>
      val d = docs(rng.int(docs.length))
      Query(d, if (rng.chance(0.5)) d.needle
               else Seq(d.needle, rng.pick(common), rng.pick(common)).mkString(" "))
    }
    val popularity = new Zipf(PoolSize, 1.0)
    val embedUs = collection.mutable.ArrayBuffer.empty[Double]
    var filtered = 0
    val seen = collection.mutable.HashSet.empty[Int]
    var repeats = 0

    // untimed: one hybrid call loads the sharded tier and warms the path
    lib.search(pool.head.text).collect()

    System.gc() // the set-up's garbage is not the first call's to collect
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinCalls || secs(t0) < ctx.seconds) {
      val kind = Cycle(n % Cycle.length)
      n += 1
      val qi = popularity.sample(rng)
      if (!seen.add(qi)) repeats += 1
      val q = pool(qi)
      val docId = ids(q.doc.name)
      val k = KCycle((n - 1) % KCycle.length)
      val tag =
        if (q.doc.tags.nonEmpty && FilterAt((n - 1) % Cycle.length)) Some(rng.pick(q.doc.tags.toVector))
        else None
      if (tag.isDefined) filtered += 1
      val opts = SearchOptions(limit = k, tags = tag.toSeq)
      val req = s"r$n"
      kind match {
        case "search" =>
          val o = if (ExpandAt((n - 1) % Cycle.length)) opts.copy(expandContext = Some(600)) else opts
          rec.attempt(kind)(tr.call(req, kind)(hits(lib.search(q.text, o).collect()))) { h =>
            if (q.bare) needleFound(h, docId, q.doc.needle, k) else wellFormed(h, k)
          }
          if (tr.on) reexecuteHybrid(ctx, lib, req, q.text, o)
        case "ann" =>
          val e0 = System.nanoTime()
          val qv = lib.embedder.embed(q.text)
          embedUs += (System.nanoTime() - e0) / 1e3
          // a tag filter applies after the ANN probe, so it may leave no hits
          rec.attempt(kind)(tr.call(req, kind)(hits(lib.annSearch(qv, opts).collect())))(h =>
            if (h.isEmpty && tag.isDefined) None else wellFormed(h, k))
        case "fts" =>
          rec.attempt(kind)(tr.call(req, kind)(hits(lib.ftsSearch(q.text, opts).collect())))(
            needleFirst(_, docId, q.doc.needle, k))
        case "multiscale" =>
          rec.attempt(kind)(tr.call(req, kind)(hits(lib.multiScaleSearch(q.text, opts).collect())))(
            wellFormed(_, k))
      }
    }
    val window = secs(t0)

    // ANN recall, untimed: unfiltered top-10 of fixed probe queries against
    // the exact cosine top-10 computed here
    val recalls = pool.take(RecallProbes).map { q =>
      val qv = lib.embedder.embed(q.text)
      val got = rec.attempt("recall_probe")(hits(lib.annSearch(qv, SearchOptions(limit = 10)).collect()))(
        wellFormed(_, 10))
      brute.recall(qv, got.toSeq.flatten.map(x => s"${x.docId}-${x.chunkIndex}"), 10)
    }
    val recall = recalls.sum / recalls.length
    val gate = if (recall < RecallFloor)
      Seq(f"ann_recall_at_10 $recall%.3f below the floor $RecallFloor") else Nil

    def p(kind: String, pct: Double) =
      rec.ms(kind) match { case Seq() => 0.0; case xs => Stats.percentile(xs, pct) }
    val share = Kinds.map(k => k -> Cycle.count(_ == k).toDouble / Cycle.length).toMap
    val searches = rec.ms("search").length
    val named = Seq(
      "setup_s" -> M(setupS, "s"),
      "search_p50_ms" -> M(p("search", 50), "ms")) ++
      Stats.supportedRank(searches, Seq(90.0, 75.0)).map(r =>
        s"search_p${r.toInt}_ms" -> M(p("search", r), "ms")).toSeq ++ Seq(
      "ann_p50_ms" -> M(p("ann", 50), "ms"),
      "fts_p50_ms" -> M(p("fts", 50), "ms"),
      "multiscale_p50_ms" -> M(p("multiscale", 50), "ms"),
      "serve_ops_per_s" -> M(rec.ms(Kinds).length / window, "1/s"),
      "ann_recall_at_10" -> M(recall, "ratio"),
      "search_calls" -> M(searches.toDouble, "count"))

    val layers = Seq(
      "workload.repeat_share" -> M(repeats.toDouble / n, "ratio"),
      "workload.filtered_share" -> M(filtered.toDouble / n, "ratio"),
      "workload.ann_recall_at_10" -> M(recall, "ratio"),
      "sources.embed_query_us" -> M(if (embedUs.isEmpty) 0 else Stats.median(embedUs.toSeq), "us")) ++
      (if (tr.on) sourceCosts(docs, isPdf, lib) else Nil) ++
      phases.toSeq.map { case (k, v) => s"library.index.${k}_s" -> M(v, "s") } ++
      ingestCosts(tr) ++
      Kinds.flatMap(k => serveCosts(tr, k))
    // a user operation is one call; its cost is the latency of a typical
    // call under the fixed mix: each kind's median, weighted by its share
    val msPerOp = Kinds.map(k => share(k) * p(k, 50)).sum
    Outcome(rec, setupS, msPerOp, named, layers, gate)
  }

  /** Median per-call Spark cost of every traced call named `kind`. */
  def serveCosts(tr: Tracer, kind: String): Seq[(String, M)] = {
    val cs = tr.costs(kind)
    def med(f: CallCost => Double) = if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
    val p = s"library.serve.$kind"
    Seq(
      s"$p.jobs_per_call" -> M(med(_.jobs.toDouble), "count"),
      s"$p.tasks_per_call" -> M(med(_.tasks.toDouble), "count"),
      s"$p.job_ms_per_call" -> M(med(_.jobMs), "ms"),
      s"$p.driver_ms_per_call" -> M(med(_.driverMs), "ms"),
      s"$p.bytes_read_per_call" -> M(med(_.bytesRead.toDouble), "bytes"))
  }

  /** Spark cost of the set-up's directory ingest (one batch). */
  def ingestCosts(tr: Tracer): Seq[(String, M)] = {
    val c = tr.costs("library.ingest").headOption.getOrElse(CallCost(0, 0, 0, 0, 0, 0, 0))
    Seq(
      "library.ingest.jobs_per_batch" -> M(c.jobs.toDouble, "count"),
      "library.ingest.tasks_per_batch" -> M(c.tasks.toDouble, "count"),
      "library.ingest.job_s_per_batch" -> M(c.jobMs / 1e3, "s"),
      "library.ingest.driver_s_per_batch" -> M(c.driverMs / 1e3, "s"),
      "library.ingest.shuffle_bytes_per_batch" -> M(c.shuffleBytes.toDouble, "bytes"),
      "library.ingest.spill_bytes_per_batch" -> M(c.spillBytes.toDouble, "bytes"))
  }

  /** Traced runs only: time the source layer from outside the engine,
    * with its public chunker, PDF extractor and embedder, on the same
    * documents the set-up ingested. */
  def sourceCosts(docs: Seq[GenDoc], isPdf: GenDoc => Boolean, lib: Library): Seq[(String, M)] = {
    val chunkUs, pdfMs, embedUs = collection.mutable.ArrayBuffer.empty[Double]
    docs.foreach { d =>
      if (isPdf(d)) {
        val bytes = d.pdf
        val t0 = System.nanoTime()
        val (pages, _) = new graft.sources.JvmPdfExtractor().extract(bytes)
        pdfMs += (System.nanoTime() - t0) / 1e6 / math.max(1, pages)
      } else {
        val md = d.markdown
        val t0 = System.nanoTime()
        val chunks = graft.sources.MarkdownSource.extractChunks(md)
        chunkUs += (System.nanoTime() - t0) / 1e3
        val e0 = System.nanoTime()
        chunks.foreach(c => lib.embedder.embed(c._3))
        embedUs += (System.nanoTime() - e0) / 1e3 / math.max(1, chunks.length)
      }
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq(
      "sources.chunk_us_per_doc" -> M(med(chunkUs.toSeq), "us"),
      "sources.pdf_extract_ms_per_page" -> M(med(pdfMs.toSeq), "ms"),
      "sources.embed_us_per_chunk" -> M(med(embedUs.toSeq), "us"))
  }

  /** Traced runs only: time the parts of a hybrid request as child spans
    * by running them again one by one. These are re-executions and are
    * labelled so; the request's own latency comes from the call itself. */
  def reexecuteHybrid(ctx: Ctx, lib: Library, req: String, text: String,
                      opts: SearchOptions): Unit = {
    val tr = ctx.tracer
    val note = "re-execution"
    tr.call(req, "search.parts", note) {
      val qv = tr.call(req, "embedder.embed", note)(lib.embedder.embed(text))
      def collected(df: => org.apache.spark.sql.DataFrame) = { val d = df; (d.schema, d.collect()) }
      val vec = tr.call(req, "annSearch", note)(collected(lib.annSearch(qv, opts)))
      val fts = tr.call(req, "ftsSearch", note)(collected(lib.ftsSearch(text, opts)))
      val keys = Seq("docId", "page", "chunkIndex")
      tr.call(req, "HybridSearch.fuseTopK", note) {
        def leg(l: (org.apache.spark.sql.types.StructType, Array[Row])) =
          ctx.spark.createDataFrame(java.util.Arrays.asList(l._2: _*), l._1)
            .select((keys :+ "score").map(col): _*)
        HybridSearch.fuseTopK(leg(vec), leg(fts), keys, opts.limit).collect()
      }
    }
  }
}
