package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites — one session per JVM
  * (getOrCreate reuses across suites since tests fork a single JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** The executed plans (as strings) of every query `body` runs in
    * `spark`, e.g. a probe whose shortlist is collected by one query
    * and re-ranked by another. Listener events arrive in order, so
    * once a sentinel query's plan has been seen, every earlier one has
    * been too. */
  def executedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1)
        .select(org.apache.spark.sql.functions.lit(sentinel)).collect()
      val deadline = System.currentTimeMillis() + 30000L
      while (!plans.toArray.exists(_.toString.contains(sentinel)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(plans.toArray.exists(_.toString.contains(sentinel)),
        "listener bus stalled")
    } finally spark.listenerManager.unregister(listener)
    plans.toArray.map(_.toString).filterNot(_.contains(sentinel)).toSeq
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
