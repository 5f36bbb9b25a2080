package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  /** Samples that must lie above a percentile's rank for it to be reported. */
  val Beyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`, reported only when at
    * least [[Beyond]] samples lie above its rank, so a p90 needs 100
    * samples and a p50 needs 20. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt max 1
    if (s.length - rank >= Beyond) Some(s(rank - 1)) else None
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of the union of `intervals` outside the union of `excluded`. */
  def unionOutside(intervals: Seq[(Long, Long)], excluded: Seq[(Long, Long)]): Long =
    unionLength(intervals) - unionLength(for {
      (s, e) <- intervals
      (xs, xe) <- excluded
    } yield (s max xs, e min xe))

  /** Wall time of [start, end) during which no job of `jobs` ran: the
    * driver-side share of an operation. Jobs are clipped to the window. */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs.map { case (s, e) => (s max start, e min end) })
}

/** Spark work of one job group, as the listener saw it. */
final class GroupStats {
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val sqls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val rowsRead = new AtomicLong
  val bytesRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  def jobIntervals: Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
  def sqlIntervals: Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    sqls.asScala.toSeq
  }
}

/** Groups Spark jobs and task metrics by the job group the bench sets per
  * operation (`SparkContext.setJobGroup` is thread-local, so concurrent
  * sessions keep their work apart). */
final class GroupListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val open = new AtomicLong
  private val sqlStart = new ConcurrentHashMap[Long, (String, Long)]()

  def group(name: String): GroupStats = groups.computeIfAbsent(name, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.remove(e.jobId)
    val s = jobStart.remove(e.jobId)
    if (g != null && s != null) group(g).jobs.add((s.longValue, e.time))
    open.decrementAndGet()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      open.incrementAndGet()
      sqlStart.put(s.executionId, (s.jobGroupId.getOrElse(""), s.time))
    case x: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(x.executionId)).foreach { case (g, t) =>
        group(g).sqls.add((t, x.time))
        open.decrementAndGet()
      }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val st = group(g)
      st.tasks.incrementAndGet()
      st.taskMs.addAndGet(m.executorRunTime)
      st.rowsRead.addAndGet(m.inputMetrics.recordsRead)
      st.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      st.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      st.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Waits until every started job's end event has been delivered (the
    * listener bus is asynchronous), for at most `timeoutMs`. */
  def quiesce(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200)
    while (open.get() > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}

/** One recorded span: wall-clock milliseconds, the id of the enclosing span
  * (0 at the root) and the request (or operation) it belongs to. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, request: String) {
  def ms: Long = end - start
}

/** Span recorder. Spans are kept in memory and written once, when the run
  * ends; when tracing is off [[span]] only runs its body. Nesting follows a
  * per-thread stack, so concurrent sessions keep separate trees. */
final class Tracer(val on: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)

  def span[T](name: String, request: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val req = if (request.nonEmpty) request else outer.headOption.fold("")(_._2)
      stack.set((id, req) :: outer)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        spans.add(Span(id, name, t0, System.currentTimeMillis(),
          outer.headOption.fold(0L)(_._1), req))
        stack.set(outer)
      }
    }

  /** Records an already-measured interval (a Spark job seen by the
    * listener) as a span under `parent`. */
  def add(name: String, start: Long, end: Long, parent: Long, request: String): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, start, end, parent, request))

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq
  }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(s => (s.start, s.id)).foreach { s =>
      out.println(Json.write(Json.obj("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "request" -> s.request)))
    } finally out.close()
  }
}

object Tracer {

  /** Self time per span: its duration minus the union of its children's
    * intervals (children may overlap when they are Spark jobs). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
      s.id -> (s.ms - Stats.unionLength(ch))
    }.toMap
  }

  /** Share of the root spans named `root` covered by their children. */
  def coverage(spans: Seq[Span], root: String): Double = {
    val roots = spans.filter(_.name == root)
    val self = selfTimes(spans)
    val total = roots.map(_.ms).sum.toDouble
    if (total <= 0) 0.0 else 1.0 - roots.map(r => self(r.id)).sum / total
  }
}

/** JSON for the result line and the span file, through the Jackson that
  * ships with Spark. Objects keep their keys in the order given. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def write(v: Any): String = mapper.writeValueAsString(v)
}
