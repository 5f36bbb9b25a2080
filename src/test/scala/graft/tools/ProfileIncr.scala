package graft.tools

import graft.operators.IncrementalAgg
import graft.sources.{LakeLayout, LakeQueries, Tables}
import org.apache.spark.sql.functions._

/** Scratch phase-timer for the q_lake_incr_agg drive (guide §1). */
object ProfileIncr {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = graft.Bench.makeSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def phase[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PHASE $tag ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    // warm: full drive once (stages the base, pays codegen)
    IncrementalAgg.qLakeIncrAgg(s, dir)
      .write.format("noop").mode("overwrite").save()
    s.catalog.clearCache()
    println("--- timed ---")
    val tAll = System.nanoTime()
    val orders = Tables.load(s, dir, "orders")
    val lake = phase("clone") {
      LakeQueries.cloneLake(s, LakeQueries.stagedOrders(s, dir, 6)) }
    phase("upsert-v1") { LakeLayout.upsertIntoLake(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(4)) === 0)
        .withColumn("o_orderpriority", lit("9-UPD")),
      "o_orderkey", "registry", 1L) }
    phase("delete-v2") { LakeLayout.deleteFromLake(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(10)) === 3)
        .select(col("o_orderkey")),
      "o_orderkey", "registry", 2L) }
    phase("compact-v3") { LakeLayout.compactLake(s, lake, "o_orderkey") }
    val state0 = phase("plan-state0") {
      IncrementalAgg.fullAgg(LakeLayout.readLakeVersion(s, lake, 0L),
        "o_orderpriority", "o_orderkey") }
    val state3 = phase("plan-advances") {
      val s1 = IncrementalAgg.advance(s, lake, state0,
        "o_orderpriority", "o_orderkey", 0L, 1L)
      val s2 = IncrementalAgg.advance(s, lake, s1,
        "o_orderpriority", "o_orderkey", 1L, 2L)
      IncrementalAgg.advance(s, lake, s2,
        "o_orderpriority", "o_orderkey", 2L, 3L)
    }
    phase("final-noop") {
      state3.select(col("o_orderpriority"),
          col("cnt").as("n_orders"),
          col("total").cast("long").as("sum_key"))
        .orderBy(col("o_orderpriority"))
        .write.format("noop").mode("overwrite").save()
    }
    println(f"PHASE all ${(System.nanoTime() - tAll) / 1e9}%7.3f s")
    s.stop()
  }
}
