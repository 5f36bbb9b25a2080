package graft

import graft.operators.IncrementalAgg
import graft.sources.LakeLayout
import org.apache.spark.sql.functions._

class IncrementalAggSpec extends SparkSuite {

  import spark.implicits._

  private def stateOf(df: org.apache.spark.sql.DataFrame): Map[Option[String], (Long, Long)] =
    df.collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getString(0))) ->
        ((r.getLong(1), r.getLong(2)))
    }.toMap

  test("advance equals full recompute across upsert, merge, delete, and a cross-span jump") {
    val table = java.nio.file.Files.createTempDirectory("graft-incr").toString
    // null group is first-class from the start
    val base = (0L until 40L).map(k =>
      (k, if (k % 5 == 0) null else s"g${k % 3}", k)).toDF("id", "g", "v")
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"))

    // v1: upsert — move some keys between groups, add new keys
    LakeLayout.upsertIntoLake(spark,
      table, ((0L until 10L).map(k => (k, "g9", k * 10)) ++
        (100L until 105L).map(k => (k, "gNew", k))).toDF("id", "g", "v"),
      "id", "ck", 1L)
    // v2: merge — update 20, delete 21-24, insert 200
    LakeLayout.upsertIntoLake(spark, table,
      (Seq((20L, "g9", 7L, false), (200L, "gNew", 1L, false)) ++
        (21L until 25L).map(k => (k, "x", 0L, true)))
        .toDF("id", "g", "v", "del")
        .select(col("id"), col("g"), col("v"), col("del")),
      "id", "ck", 2L, evolveSchema = true, deleteWhen = Some(col("del")))
    // v3: file-granular delete
    LakeLayout.deleteFromLake(spark, table,
      Seq(30L, 31L, 100L).toDF("id"), "id", "ck", 3L)

    def recompute(v: Long) = IncrementalAgg.fullAgg(
      LakeLayout.readLakeVersion(spark, table, v).select("id", "g", "v"),
      "g", "v")
    var state = recompute(0L)
    for (v <- 1L to 3L) {
      state = IncrementalAgg.advance(spark, table, state, "g", "v", v - 1, v)
      assert(stateOf(state) == stateOf(recompute(v)),
        s"incremental state diverges from full recompute at version $v")
    }

    // the change-region algebra is exact over ANY span, not just
    // adjacent versions: one jump 0 -> 3 lands on the same state
    val jumped = IncrementalAgg.advance(spark, table, recompute(0L),
      "g", "v", 0L, 3L)
    assert(stateOf(jumped) == stateOf(recompute(3L)))

    // compaction rewrites bytes, not rows: its delta must be zero
    val v4 = LakeLayout.compactLake(spark, table, "id")
    val afterCompact = IncrementalAgg.advance(spark, table, state,
      "g", "v", 3L, v4)
    assert(stateOf(afterCompact) == stateOf(state),
      "compaction must not move the maintained aggregate")

    // a group whose rows all vanish drops out of the state
    LakeLayout.deleteFromLake(spark, table,
      (100L until 105L).map(Tuple1(_)).toDF("id").union(Seq(Tuple1(200L)).toDF("id")),
      "id", "ck", 5L)
    state = IncrementalAgg.advance(spark, table, afterCompact,
      "g", "v", v4, v4 + 1)
    assert(!stateOf(state).contains(Some("gNew")),
      "emptied group must leave the state")
    assert(stateOf(state) == stateOf(recompute(v4 + 1)))
  }

  test("advanceMany: 20+ version walk commits state on cadence and keeps plan depth bounded") {
    val table = java.nio.file.Files.createTempDirectory("graft-incrmany").toString
    val stateTable = java.nio.file.Files.createTempDirectory("graft-incrstate").toString
    val base = (0L until 60L).map(k => (k, s"g${k % 3}", k)).toDF("id", "g", "v")
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(3, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"))
    // 22 data versions: each upsert moves 4 keys into a new group and
    // bumps their value — every version has a non-trivial delta
    val last = 22L
    (1L to last).foreach { b =>
      LakeLayout.upsertIntoLake(spark, table,
        (0L until 4L).map(i => (b * 2 + i, s"g${(b + i) % 4}", b * 100 + i))
          .toDF("id", "g", "v"),
        "id", "ck", b)
    }
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    val state0 = IncrementalAgg.fullAgg(
      LakeLayout.readLakeVersion(spark, table, 0L), "g", "v")
    // naive chain: plan grows with every advance (the trap)
    val naive = (1L to last).foldLeft(state0)((st, v) =>
      IncrementalAgg.advance(spark, table, st, "g", "v", v - 1, v))
    // cadenced walk: state committed every 6 advances, plan restarts
    // from the committed parquet
    val walked = IncrementalAgg.advanceMany(spark, table, state0,
      "g", "v", 0L, last, stateTable, cadence = 6)
    val expected = IncrementalAgg.fullAgg(
      LakeLayout.readLakeVersion(spark, table, last), "g", "v")
    assert(stateOf(walked) == stateOf(expected),
      "cadenced walk must land exactly on the full recompute")
    assert(stateOf(naive) == stateOf(expected))
    val (nWalked, nNaive) = (planNodes(walked), planNodes(naive))
    assert(nWalked * 2 < nNaive,
      s"cadence must bound the plan ($nWalked nodes) far below the " +
        s"unmaterialized chain ($nNaive nodes)")
    // depth is O(cadence): at most (cadence) advances stacked on a scan
    assert(nWalked < 120, s"walked plan has $nWalked nodes — not bounded")
    // the state table is itself a versioned lake: last commit carries
    // the walk's provenance and the committed bytes match the state
    val committed = LakeLayout.readLake(spark, stateTable).get
    assert(stateOf(committed.select(col("g"), col("cnt"), col("total")))
      == stateOf(walked.select(col("g"), col("cnt"), col("total"))),
      "committed state must equal the in-flight state at walk end")
  }
}
