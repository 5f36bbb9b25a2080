package graft.operators

import graft.sources.{LakeLayout, LakeQueries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a grouped aggregate over a
  * manifest-committed lake table — the INCREMENTAL-CONSUMER side of the
  * lake's commit contract. A downstream metrics/reporting job keeps a
  * per-group (count, sum) state current across table versions WITHOUT
  * rescanning the table.
  *
  * The change feed is derived from the manifests alone: between any two
  * versions, files present only in the FROM list were rewritten away
  * (they hold the old copies of every touched row) and files present
  * only in the TO list are the commits' own writes (the new copies).
  * Unchanged rows inside rewritten files appear on BOTH sides and
  * cancel in any linear aggregate, so
  *
  *   delta = agg(new-only files) − agg(from-only files)
  *
  * is EXACT for count/sum-class aggregates over ANY version pair, not
  * just adjacent ones — carried-by-reference files never enter the
  * computation. Cost is O(touched files across the span), the same
  * order as the commits themselves; a 100 TB table whose day saw a few
  * GB of upserts advances its metrics by reading a few GB. (Compaction
  * rewrites files without changing rows — its delta is provably zero
  * but costs the compacted bytes; advance across spans that are pure
  * compaction is wasted work, use [[graft.sources.LakeLayout.lakeDiff]]
  * emptiness to skip.)
  *
  * Only LINEAR aggregates can be maintained this way (count, sum, and
  * anything derived from them such as mean); min/max need the full
  * group on deletion and are out of scope. */
object IncrementalAgg {

  /** The maintained state: one row per `groupCol` value with row count
    * `cnt` and `sum(valueCol)` as `total`. Null groups are first-class
    * (union + re-aggregate, never joined on the group key). */
  def fullAgg(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("total"))

  /** The (oldCopies, newCopies) change regions between two committed
    * versions: rows of files rewritten away vs rows of files added,
    * each read under its own version's schema. */
  def changeRegions(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): (DataFrame, DataFrame) = {
    val from = LakeLayout.lakeCommitAt(spark, tablePath, fromVersion)
    val to = LakeLayout.lakeCommitAt(spark, tablePath, toVersion)
    val toByPath = to.files.map(f => f.path -> f).toMap
    val fromByPath = from.files.map(f => f.path -> f).toMap
    val oldOnly = from.files.filterNot(f => toByPath.contains(f.path))
    val newOnly = to.files.filterNot(f => fromByPath.contains(f.path))
    // a file present on BOTH sides with a DIFFERENT deletion-vector
    // reference changed LOGICAL content in place (merge-on-read
    // delete): its old-dv read joins the removed region, its new-dv
    // read the added one — the downstream signed-union/diff machinery
    // then sees exactly the dv-deleted rows disappear
    val dvChanged = from.files.filter(f =>
      toByPath.get(f.path).exists(t => t.dv != f.dv))
    val dvChangedNew = dvChanged.map(f => toByPath(f.path))
    (LakeLayout.filesFrame(spark, tablePath, oldOnly ++ dvChanged,
        from.schema),
      LakeLayout.filesFrame(spark, tablePath, newOnly ++ dvChangedNew,
        to.schema))
  }

  /** Advance a maintained (cnt, total) state from `fromVersion`'s table
    * to `toVersion`'s, reading ONLY the two change regions. `groupCol`
    * and `valueCol` must exist in both versions' schemas. Groups whose
    * count reaches zero drop out of the state. */
  def advance(spark: SparkSession, tablePath: String, prev: DataFrame,
      groupCol: String, valueCol: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    // op-typed short-circuit: a span of pure `compact` commits moves
    // bytes, never rows — the delta is zero BY MANIFEST TYPE, so the
    // state advances without reading the compacted bytes (which the
    // file-list diff would otherwise scan on both sides, the one
    // O(compacted bytes) cost this consumer can be spared). A vacuumed
    // middle manifest → cannot prove the span pure → normal path (which
    // only needs the two END manifests anyway).
    val pureCompact = try {
      fromVersion < toVersion &&
        ((fromVersion + 1) to toVersion).forall(v =>
          LakeLayout.lakeCommitAt(spark, tablePath, v).op == "compact")
    } catch { case _: IllegalArgumentException => false }
    if (pureCompact) return prev
    val (oldCopies, newCopies) =
      changeRegions(spark, tablePath, fromVersion, toVersion)
    val signed = newCopies
      .select(col(groupCol), lit(1L).as("cnt"), col(valueCol).as("v"))
      .unionByName(oldCopies
        .select(col(groupCol), lit(-1L).as("cnt"), (-col(valueCol)).as("v")))
    val delta = signed.groupBy(col(groupCol))
      .agg(sum(col("cnt")).as("cnt"), sum(col("v")).as("total"))
    prev.unionByName(delta)
      .groupBy(col(groupCol))
      .agg(sum(col("cnt")).as("cnt"), sum(col("total")).as("total"))
      .filter(col("cnt") > 0)
  }

  /** Walk the state across MANY versions with a state-commit CADENCE —
    * the long-running-consumer form of [[advance]]. A bare advance
    * chain is lazy: after N versions the state's logical plan stacks N
    * delta unions, and every action re-derives all of them (plan depth
    * — and analysis/optimization time — grows linearly with versions;
    * the classic unmaterialized-lineage trap). Here the state is
    * COMMITTED every `cadence` advances to `stateTable` — a lake table
    * of its own, so the checkpoint is atomic, versioned, and replayable
    * — and the walk restarts from the committed bytes: plan depth stays
    * O(cadence) no matter how far the state advances, and a crashed
    * consumer resumes from its last committed state version instead of
    * re-walking the source history. Pure-compact spans still
    * short-circuit per [[advance]]. */
  def advanceMany(spark: SparkSession, tablePath: String, prev: DataFrame,
      groupCol: String, valueCol: String,
      fromVersion: Long, toVersion: Long,
      stateTable: String, cadence: Int = 8): DataFrame = {
    require(cadence >= 1, "cadence must be at least 1")
    var state = prev
    var sinceCommit = 0
    for (v <- (fromVersion + 1) to toVersion) {
      state = advance(spark, tablePath, state, groupCol, valueCol, v - 1, v)
      sinceCommit += 1
      // the walk's end is always committed (even off-cadence): a
      // resuming consumer picks up at `toVersion` from bytes, and the
      // returned frame is the committed state, not live lineage
      if (sinceCommit >= cadence || v == toVersion) {
        LakeLayout.commitLakeVersion(state, stateTable, "incr-state", v)
        state = LakeLayout.readLake(spark, stateTable).get
        sinceCommit = 0
      }
    }
    state
  }

  /** Registry drive: maintain a per-priority (count, sum-of-keys)
    * aggregate over an orders lake across an upsert and a delete,
    * advancing version-by-version from the manifests' change regions —
    * never rescanning the table. The oracle recomputes the FINAL state
    * directly over plain orders, so a hash match proves the
    * incremental path lands exactly on the full-recompute answer. */
  def qLakeIncrAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    // base v0 from the staged orders-6 lake (cloned — this drive
    // commits on top): the timed span is the incremental advance, not
    // the one-time base staging write
    val lake = LakeQueries.cloneLake(s, LakeQueries.stagedOrders(s, dir, 6))
    LakeLayout.upsertIntoLake(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(4)) === 0)
        .withColumn("o_orderpriority", lit("9-UPD")),
      "o_orderkey", "registry", 1L)
    LakeLayout.deleteFromLake(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(10)) === 3)
        .select(col("o_orderkey")),
      "o_orderkey", "registry", 2L)
    // v3: pure-compact span — the timed drive must exercise the
    // op-typed manifest skip (state passes through without reading the
    // compacted bytes; see OpTypedSkipSpec for the zero-file-open proof)
    // full compactLake: after the delete wave the table may already sit
    // in one file, which the small-files path would no-op on — the
    // drive needs the compact COMMIT to exist, deterministically
    val v3 = LakeLayout.compactLake(s, lake, "o_orderkey")
    require(v3 == 3L, s"expected compact to publish v3, got $v3")
    val state0 = fullAgg(LakeLayout.readLakeVersion(s, lake, 0L),
      "o_orderpriority", "o_orderkey")
    val state1 = advance(s, lake, state0, "o_orderpriority", "o_orderkey", 0L, 1L)
    val state2 = advance(s, lake, state1, "o_orderpriority", "o_orderkey", 1L, 2L)
    val state3 = advance(s, lake, state2, "o_orderpriority", "o_orderkey", 2L, 3L)
    state3.select(col("o_orderpriority"),
        col("cnt").as("n_orders"),
        col("total").cast("long").as("sum_key"))
      .orderBy(col("o_orderpriority"))
  }

  val qLakeIncrAggSql: String =
    """WITH final AS (
         SELECT CASE WHEN o_orderkey % 4 = 0 THEN '9-UPD'
                     ELSE o_orderpriority END AS o_orderpriority,
                o_orderkey
         FROM orders WHERE o_orderkey % 10 <> 3)
       SELECT o_orderpriority, COUNT(*) AS n_orders,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
       FROM final GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lake_incr_agg" -> (qLakeIncrAgg _))

  val oracle: Map[String, String] = Map(
    "q_lake_incr_agg" -> qLakeIncrAggSql)
}
