package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The local property Spark stores a thread's job group under. */
private[perfbench] object JobGroupKey {
  val key = "spark.jobGroup.id"
}

/** Spark work attributed to one job group. */
final class GroupCounts {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val bytesRead = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** (start ms, end ms) per finished job, for the busy-interval union. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private[perfbench] val open = new ConcurrentHashMap[Int, java.lang.Long]
}

/** A listener that attributes jobs and task metrics to the job group the
  * benchmark sets around each call. It reads only what Spark's public
  * listener events carry. */
final class GroupListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  def counts(group: String): GroupCounts =
    groups.computeIfAbsent(group, _ => new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroupKey.key))).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val c = counts(g)
    c.jobs.incrementAndGet()
    c.open.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val c = counts(g)
      Option(c.open.remove(e.jobId)).foreach(t0 => c.intervals.add((t0.longValue, e.time)))
    }
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counts(g)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  /** Listener events arrive asynchronously; wait until every started job
    * has been seen to end and the counts stop moving. */
  def settle(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(50)
      val now = ended.get() * 31 + groups.values.asScala.map(_.tasks.get).sum
      if (started.get() == ended.get() && now == last) stable += 1 else stable = 0
      last = now
    }
  }
}

/** Measurements of one traced call, read back after the run settles. */
final case class CallCost(jobs: Long, tasks: Long, jobMs: Double, driverMs: Double,
                          bytesRead: Long, shuffleBytes: Long, spillBytes: Long)

/** One span: a timed region, its parent and the request it belongs to. */
final case class Span(id: Int, parent: Int, request: String, name: String,
                      startNs: Long, endNs: Long, note: String)

/** Tracing for `--trace 1`: job groups around each call, the group
  * listener, and spans kept in memory until the run ends. With tracing
  * off every method is a plain pass-through. */
final class Tracer(val sc: SparkContext, val on: Boolean) {
  private val listener = if (on) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)
  private val spans = collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val calls = collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var seq = 0L

  /** Time `body` as a span named `name`; when tracing, also tag its Spark
    * jobs with a fresh job group so their cost can be read back. */
  def call[A](request: String, name: String, note: String = "")(body: => A): A =
    if (!on) body
    else {
      seq += 1
      settled = false
      val group = s"pb-$seq"
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val prev = Option[String](sc.getLocalProperty(JobGroupKey.key))
      sc.setJobGroup(group, s"$request $name", interruptOnCancel = false)
      val wall0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime(); val wall1 = System.currentTimeMillis()
        prev match {
          case Some(p) => sc.setJobGroup(p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        stack = stack.tail
        spans += Span(id, parent, request, name, t0, t1, note)
        calls += ((name, group, wall0, wall1))
      }
    }

  private var settled = false

  /** Per-call Spark cost of every traced call named `name`. */
  def costs(name: String): Seq[CallCost] = listener match {
    case None => Nil
    case Some(l) =>
      if (!settled) { l.settle(); settled = true }
      calls.filter(_._1 == name).map { case (_, g, w0, w1) =>
        val c = l.counts(g)
        val busy = unionMs(c.intervals.asScala.toSeq)
        CallCost(c.jobs.get, c.tasks.get, busy, math.max(0.0, (w1 - w0) - busy),
          c.bytesRead.get, c.shuffleBytes.get, c.spillBytes.get)
      }.toSeq
  }

  def spanCount: Int = spans.length

  def writeSpans(file: java.io.File): Unit = if (on) {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"request":"${Json.esc(s.request)}",""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""note":"${Json.esc(s.note)}"}""")
    } finally w.close()
  }

  /** Total length covered by possibly overlapping [start, end] intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total.toDouble
  }
}

object Plans {
  /** Exchange operators (shuffle and broadcast) in a query's executed
    * plan, looking through adaptive execution wrappers. */
  def exchanges(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: Exchange => 1 + e.children.map(walk).sum
      case other => other.children.map(walk).sum +
        other.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}

/** Process-level readings from /proc (Linux). */
object Proc {
  private def field(file: String, key: String): Option[Long] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key)).map(
        _.drop(key.length).trim.split("\\s+")(0).toLong)
      finally src.close()
    } catch { case _: Exception => None }

  def peakRssMb: Double = field("/proc/self/status", "VmHWM:").map(_ / 1024.0).getOrElse(0.0)

  def dirBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
