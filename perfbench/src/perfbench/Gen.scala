package perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Seeded input generation. Everything a workload feeds the program is
  * made here from the `--seed` argument alone, so one seed always gives
  * byte-identical inputs. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))
  def shuffle[A](xs: Seq[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}

/** Zipf(s) over ranks 0 until n: rank r is drawn with weight 1/(r+1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: Rng): Int = {
    val u = rng.double()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated document. `sections` are the bodies under each `##`
  * heading; every section is shorter than the chunker's window, so a
  * markdown document yields exactly one chunk per section and a PDF one
  * chunk per page. The needle is a token no other document contains;
  * `needleSection` is where it sits. */
final case class GenDoc(
    name: String,
    title: String,
    tags: Seq[String],
    sections: Seq[String],
    needle: String,
    needleSection: Int) {

  def expectedChunks: Int = sections.length

  def markdown: String = {
    val sb = new StringBuilder
    sb.append("---\n").append(s"title: $title\n")
    if (tags.nonEmpty) sb.append(tags.mkString("tags: [", ", ", "]\n"))
    sb.append("---\n")
    sections.zipWithIndex.foreach { case (s, i) =>
      sb.append(s"\n## Part ${i + 1}\n\n").append(s).append('\n')
    }
    sb.toString
  }

  /** A minimal, well-formed PDF: one page per section, each line shown
    * with `Tj`, uncompressed content streams and a correct xref table. */
  def pdf: Array[Byte] = Gen.pdf(sections)
}

object Gen {

  val TagCount = 200
  val TopTagShare = 0.79

  /** A vocabulary of pronounceable pseudo-words, fixed per seed. */
  def vocabulary(rng: Rng, size: Int): Vector[String] = {
    val on = Vector("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p",
      "r", "s", "t", "v", "w", "br", "st", "tr", "pl", "gr", "sh", "ch")
    val nu = Vector("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syl = 1 + rng.int(3)
      seen += (0 until syl).map(_ => rng.pick(on) + rng.pick(nu)).mkString
    }
    seen.toVector
  }

  /** Tags skewed like the reference corpus: one tag on ~79% of documents,
    * a long tail where most tags cover under 1% of them. */
  def tags(rng: Rng, tail: Zipf): Seq[String] = {
    val top = if (rng.chance(TopTagShare)) Seq("t0") else Nil
    val n = rng.int(3)
    (top ++ (0 until n).map(_ => s"t${1 + tail.sample(rng)}")).distinct
  }

  /** Needle tokens: letters and digits only (the index tokenizer splits
    * on whitespace, so punctuation would change the token), unique per
    * document index and run seed, and never a vocabulary word. */
  def needle(seed: Long, i: Int): String = {
    val h = java.lang.Long.toString(
      (seed * 0x9E3779B97F4A7C15L ^ (i.toLong * 0xBF58476D1CE4E5B9L)) >>> 4, 36)
    s"zq$i" + "x" + h.take(6)
  }

  final class Corpus(seed: Long) {
    private val rng = new Rng(seed)
    val vocab: Vector[String] = vocabulary(rng, 3000)
    private val words = new Zipf(vocab.length, 1.07)
    private val tagTail = new Zipf(TagCount - 1, 1.2)

    private def sentence(len: Int): Vector[String] =
      Vector.fill(len)(vocab(words.sample(rng)))

    /** Document number `i` (names are unique per `i`). */
    def doc(i: Int): GenDoc = {
      val nSec = 3 + rng.int(4)
      val needleSec = rng.int(nSec)
      val nd = needle(seed, i)
      val sections = (0 until nSec).map { s =>
        // trimmed to stay well under the 512-character chunk window
        var body = sentence(40 + rng.int(25))
        while (body.map(_.length + 1).sum > 440) body = body.dropRight(1)
        if (s == needleSec) {
          val at = 5 + rng.int(body.length - 10)
          (body.take(at) ++ Vector(nd) ++ body.drop(at)).mkString(" ")
        } else body.mkString(" ")
      }
      val title = sentence(3).mkString(" ")
      GenDoc(f"doc$i%05d", title, tags(rng, tagTail), sections, nd, needleSec)
    }
  }

  def pdf(pages: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val n = pages.length
    // objects: 1 catalog, 2 pages, 3 font, then (page, content) pairs
    val kids = (0 until n).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    val bodies = Vector.newBuilder[String]
    bodies += "<< /Type /Catalog /Pages 2 0 R >>"
    bodies += s"<< /Type /Pages /Kids [$kids] /Count $n >>"
    bodies += "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    pages.zipWithIndex.foreach { case (text, i) =>
      val lines = text.split(" ").grouped(10).map(_.mkString(" ")).toSeq
      val stream = lines.zipWithIndex.map { case (l, j) =>
        val y = 720 - 14 * j
        s"BT /F1 11 Tf 72 $y Td (${l.replace("\\", "\\\\")
          .replace("(", "\\(").replace(")", "\\)")}) Tj ET"
      }.mkString("\n")
      bodies += s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * i} 0 R >>"
      bodies += s"<< /Length ${stream.getBytes(ISO_8859_1).length} >>\nstream\n" +
        s"$stream\nendstream"
    }
    w("%PDF-1.4\n")
    val offsets = bodies.result().zipWithIndex.map { case (b, i) =>
      val off = out.size()
      w(s"${i + 1} 0 obj\n$b\nendobj\n")
      off
    }
    val xref = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
}
