package graft.tools

import graft.sources.{LakeLayout, LakeQueries, Tables}
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

/** Scratch: job timeline of ONE file-granular upsert commit. */
object ProfileUpsert {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = graft.Bench.makeSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Int)]()
    val starts = scala.collection.mutable.Map[Int, (Long, Int)]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.synchronized { starts(j.jobId) = (j.time, j.stageInfos.size) }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.synchronized {
          starts.remove(j.jobId).foreach { case (t0, n) =>
            jobs.synchronized { jobs += ((j.jobId, t0, j.time, n)) } }
        }
    })
    val orders = Tables.load(s, dir, "orders")
    val batch = orders.filter(pmod(col("o_orderkey"), lit(4)) === 0)
      .withColumn("o_orderpriority", lit("9-UPD"))
    // warm
    locally {
      val lake = LakeQueries.cloneLake(s, LakeQueries.stagedOrders(s, dir, 6))
      LakeLayout.upsertIntoLake(s, lake, batch, "o_orderkey", "registry", 1L)
    }
    val lake = LakeQueries.cloneLake(s, LakeQueries.stagedOrders(s, dir, 6))
    jobs.synchronized { jobs.clear() }
    val t0 = System.nanoTime()
    LakeLayout.upsertIntoLake(s, lake, batch, "o_orderkey", "registry", 1L)
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    println(f"TOTAL $total%.3f s, jobs=${jobs.size}")
    var lastEnd = 0L
    jobs.sortBy(_._2).foreach { case (id, a, b, n) =>
      val gap = if (lastEnd == 0) 0.0 else (a - lastEnd) / 1000.0
      lastEnd = b
      println(f"job $id%3d ${(b - a) / 1000.0}%7.3f s (gap $gap%6.3f) stages=$n")
    }
    println(f"SUMJOBS ${jobs.map(j => (j._3 - j._2) / 1000.0).sum}%.3f")
    s.stop()
  }
}
