package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the job-group listener, the
  * span recorder and a scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val listener: GroupListener,
    val tracer: Tracer, val work: String, val seed: Long, val seconds: Int) {

  private val dirs = new java.util.concurrent.atomic.AtomicInteger
  private val born = System.nanoTime()

  /** Progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - born) / 1e9}%8.2f s $msg")

  /** A fresh directory path under the scratch directory. */
  def dir(name: String): String = s"$work/$name-${dirs.incrementAndGet()}"

  /** Runs `body` under job group `group` (on this thread only) and span
    * `span`, restoring the thread's previous group afterwards. Returns the
    * result and the wall interval in epoch milliseconds. */
  def op[T](group: String, span: String, request: String = "")(body: => T): (T, Long, Long) = {
    val sc = spark.sparkContext
    val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(group, span)
    val t0 = System.currentTimeMillis()
    try {
      val r = tracer.span(span, request)(body)
      (r, t0, System.currentTimeMillis())
    } finally prev.fold(sc.clearJobGroup())(sc.setJobGroup(_, span))
  }

  /** A failed correctness gate: counted, reported, and it fails the run. */
  val gateFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def gate(ok: Boolean, what: => String): Boolean = {
    if (!ok) gateFailures.add(what)
    ok
  }
}

/** A workload's result: attempted and failed operations, and the metrics
  * it reports (end-to-end without tracing, per-layer with it). */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)])
