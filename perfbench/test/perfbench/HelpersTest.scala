package perfbench

/** Tests of the benchmark's pure helpers. No Spark session and no test
  * framework: run with `python3 perfbench/build.py test`, which exits
  * non-zero when any check fails. */
object HelpersTest {

  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def corpus(seed: Long, n: Int): Seq[GenDoc] = {
    val c = new Gen.Corpus(seed)
    (0 until n).map(i => c.doc(i))
  }

  def main(args: Array[String]): Unit = {
    check("the generator is identical for a seed") {
      val a = corpus(7, 40); val b = corpus(7, 40)
      a == b && a.map(_.markdown) == b.map(_.markdown) &&
        a.map(d => d.pdf.toSeq) == b.map(d => d.pdf.toSeq)
    }
    check("the generator differs across seeds") {
      corpus(7, 40).map(_.markdown) != corpus(8, 40).map(_.markdown)
    }
    check("needles are unique and appear once, in their section") {
      val docs = corpus(3, 200)
      val text = docs.map(_.markdown).mkString("\n")
      docs.map(_.needle).distinct.length == docs.length &&
        docs.forall(d => text.split("\\s+").count(_ == d.needle) == 1 &&
          d.sections(d.needleSection).contains(d.needle))
    }
    check("every section fits one chunk, so chunks = sections") {
      corpus(5, 200).forall(d => d.sections.forall(s => s.length + 12 < 512))
    }
    check("tags are skewed: one tag on most documents, most tags rare") {
      val docs = corpus(11, 2000)
      val freq = docs.flatMap(_.tags).groupBy(identity).map { case (t, v) => t -> v.length }
      val top = freq("t0").toDouble / docs.length
      val rare = freq.count { case (t, n) => t != "t0" && n < docs.length / 100 }
      top > 0.75 && top < 0.83 && rare > freq.size / 2
    }
    check("a generated PDF is read back by the program's extractor") {
      val d = corpus(2, 1).head
      val (pages, text) = new graft.sources.JvmPdfExtractor().extract(d.pdf)
      pages == d.sections.length &&
        text.map(_._2.split("\\s+").mkString(" ").trim) == d.sections
    }

    check("percentile uses the nearest-rank rule") {
      val xs = (1 to 10).map(_.toDouble)
      Stats.percentile(xs, 50) == 5.0 && Stats.percentile(xs, 90) == 9.0 &&
        Stats.percentile(xs, 91) == 10.0 && Stats.percentile(xs, 100) == 10.0 &&
        Stats.percentile(Seq(3.0), 50) == 3.0 &&
        Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 75) == 3.0
    }
    check("a tail percentile needs ten samples beyond it") {
      Stats.supportedRank(100, Seq(90.0, 99.0)) == Some(90.0) &&
        Stats.supportedRank(99, Seq(90.0)) == None &&
        Stats.supportedRank(1000, Seq(90.0, 99.0)) == Some(99.0)
    }

    check("a call that throws counts as failed and leaves no sample") {
      val r = new Recorder
      r.attempt("x")(throw new IllegalStateException("boom"))(_ => None)
      r.attempted == 1 && r.failed == 1 && r.ms("x").isEmpty
    }
    check("a call with a wrong result counts as failed and leaves no sample") {
      val r = new Recorder
      val got = r.attempt("x")(41)(v => if (v == 42) None else Some("wrong"))
      got.isEmpty && r.failed == 1 && r.ms("x").isEmpty && r.errors.nonEmpty
    }
    check("a right call leaves one sample and no failure") {
      val r = new Recorder
      val got = r.attempt("x")(42)(v => if (v == 42) None else Some("wrong"))
      got.contains(42) && r.failed == 0 && r.ms("x").length == 1 && r.attempted == 1
    }

    check("the fingerprint does not depend on row order") {
      val rows = Seq(Seq[Any]("a", 1, 0.5), Seq[Any]("b", 2, null), Seq[Any]("c", 3, Seq(1.0, 2.0)))
      val fp = Fingerprint.of(rows)
      rows.permutations.forall(p => Fingerprint.of(p) == fp)
    }
    check("the fingerprint sees content, duplicates and float noise apart") {
      val rows = Seq(Seq[Any]("a", 1.0), Seq[Any]("b", 2.0))
      Fingerprint.of(rows) != Fingerprint.of(Seq(Seq[Any]("a", 1.0), Seq[Any]("b", 2.5))) &&
        Fingerprint.of(rows) != Fingerprint.of(rows :+ rows.head) &&
        Fingerprint.of(rows) == Fingerprint.of(Seq(Seq[Any]("a", 1.0 + 1e-13), Seq[Any]("b", 2.0)))
    }

    println(if (failures == 0) "all helper tests passed" else s"$failures helper test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
