package perfbench

import scala.collection.mutable

/** Order statistics used for every reported latency. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile rank $p outside (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of `ranks` that keeps at least `tail` samples strictly
    * beyond it, so a reported tail percentile always rests on data. */
  def supportedRank(n: Int, ranks: Seq[Double], tail: Int = 10): Option[Double] =
    ranks.sorted.reverse.find(p => n - math.ceil(p / 100.0 * n) >= tail)
}

/** Counts attempts and failures per operation kind, and keeps latency
  * samples only for operations that completed and passed their check.
  * A call that throws or returns a wrong result is counted once as
  * failed and never enters the samples. */
final class Recorder {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val attempts = mutable.LinkedHashMap.empty[String, Int]
  private val failures = mutable.LinkedHashMap.empty[String, Int]
  val errors = mutable.ArrayBuffer.empty[String]

  /** Run `call`, then `check` on its result; `check` returns None when the
    * result is right and Some(reason) when it is not. Only the call is
    * timed. Returns the result when it passed. */
  def attempt[A](kind: String)(call: => A)(check: A => Option[String]): Option[A] = {
    attempts(kind) = attempts.getOrElse(kind, 0) + 1
    val t0 = System.nanoTime()
    val res = try Right(call) catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) =>
        try check(a) catch { case e: Throwable if scala.util.control.NonFatal(e) =>
          Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    verdict match {
      case None =>
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        res.toOption
      case Some(why) =>
        failures(kind) = failures.getOrElse(kind, 0) + 1
        if (errors.length < 20) errors += s"$kind: $why"
        None
    }
  }

  def ms(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def ms(kinds: Seq[String]): Seq[Double] = kinds.flatMap(ms)
  def attempted: Int = attempts.values.sum
  def failed: Int = failures.values.sum
}

/** Order-insensitive content fingerprint of a result set. Each row is
  * rendered to a canonical string (doubles rounded to 6 significant
  * digits so float summation order cannot flip it) and hashed; the row
  * hashes are combined with a commutative sum and xor, so any row order
  * gives the same fingerprint. */
object Fingerprint {

  def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.5e"
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => cell(b.doubleValue)
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "→" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def of(rows: Seq[Seq[Any]]): String = {
    var sum = 0L; var xor = 0L
    rows.foreach { r =>
      val h = hash64(r.map(cell).mkString("\u0001"))
      sum += h; xor ^= h
    }
    f"$sum%016x$xor%016x"
  }
}
