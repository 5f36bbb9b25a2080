package graft.streaming

import graft.operators.IncrementalAgg
import graft.sources.{LakeLayout, LakeQueries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** CHANGE-DATA FEED over a manifest-committed lake table: the
  * incremental-consumer contract ([[LakeLayout.lakeDiff]] gives the
  * key-level form between two pinned versions) as a LIVE stream — a
  * downstream pipeline subscribes to a table and receives one row per
  * changed ROW per commit, tagged insert/update/delete, without ever
  * re-reading the table.
  *
  * Two scale properties make this the 100 TB shape:
  *  - the STREAM is the commit log itself: the file source tails the
  *    `.manifest` files under `_commits` (tiny metadata files,
  *    atomically renamed in, so never seen half-written), and its
  *    checkpoint delivers each version exactly once across restarts;
  *  - the CHANGES for a version are computed from its change regions
  *    only — the files the commit rewrote vs added
  *    ([[IncrementalAgg.changeRegions]]) — joined full-outer on the key
  *    with a row-hash compare. Cost is O(batch + touched files) per
  *    version, never O(table); rows merely COPIED into a rewritten
  *    file (carried neighbors of a touched key) hash equal and emit
  *    nothing.
  *
  * Consumed versions must still be live: vacuum grace must cover
  * consumer lag (the same retention contract as any CDC log). */
object CdfStream {

  private val ManifestName = "v(\\d+)\\.manifest".r

  /** Change-set computations performed this JVM — the observability
    * counter the replication no-re-diff contract is asserted against
    * (a fully-applied replica's sync must perform ZERO of these). */
  private[graft] val changeSetComputations =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Row-level changes committed by version `v` of `tablePath`, for a
    * key-upserted table: postimage rows for insert/update, preimage
    * rows for delete, plus `_change` and `_version`. The first live
    * version (no live predecessor — a fresh table, or a consumer
    * starting past the vacuum horizon) streams as a full snapshot of
    * inserts: the CDC bootstrap. Versions straddling a schema
    * evolution emit over the union of columns, missing side
    * null-filled (same contract as [[LakeLayout.lakeDiff]]). */
  def changesForVersion(spark: SparkSession, tablePath: String, v: Long,
      key: String): DataFrame = {
    changeSetComputations.incrementAndGet()
    val live = LakeLayout.lakeVersions(spark, tablePath)
    require(live.contains(v),
      s"version $v of $tablePath is not live (vacuumed or never committed)")
    val cur = LakeLayout.lakeCommitAt(spark, tablePath, v)
    // op-typed short-circuit: a compact commit provably moves only
    // bytes — its change set is empty BY MANIFEST TYPE, so the feed
    // emits zero rows without opening (or even listing for the scan) a
    // single data file. Without this, every compaction costs the CDC
    // consumer a full diff of the compacted bytes for a guaranteed-
    // empty result.
    if (cur.op == "compact" && live.contains(v - 1)) {
      // Build the zero-row frame through the same read and column
      // derivations as the data paths (the table schema as a file read
      // gives it; lit()-derived _change/_version, both non-nullable) so
      // the change feed's schema+nullability is identical for every
      // version op — a consumer unioning or writing per-version frames
      // under strict schema checks must never see a compact version
      // differ. Still opens/lists no data files.
      LakeLayout.filesFrame(spark, tablePath, Seq.empty, cur.schema)
        .withColumn("_change", lit("compact"))
        .withColumn("_version", lit(v))
    } else if (cur.op == "dvdelete" && live.contains(v - 1)) {
      // op-typed fast path for MERGE-ON-READ deletes: the generic diff
      // would read every affected file TWICE (old-dv-applied vs
      // new-dv-applied) and hash-join the copies; but a dvdelete's
      // change set is exactly "rows present at v−1 whose key is in
      // this commit's sidecar" — one read of the affected files under
      // their OLD vectors, one broadcast semi-join against the sidecar
      // (the commit's own dataDir). Previously-deleted keys are absent
      // from the old-dv-applied read, so they cannot re-emit; keys in
      // the sidecar but present nowhere emit nothing — identical
      // semantics to the generic path at half the I/O, which matters
      // when a scattered delete affects every file of a 100 TB table.
      val prev = LakeLayout.lakeCommitAt(spark, tablePath, v - 1)
      val curByPath = cur.files.map(f => f.path -> f).toMap
      val affectedOld = prev.files.filter(f =>
        curByPath.get(f.path).exists(_.dv != f.dv))
      val base =
        LakeLayout.filesFrame(spark, tablePath, affectedOld, prev.schema)
      val sidecar = spark.read.parquet(s"$tablePath/${cur.dataDir}")
      base.join(broadcast(sidecar.select(col(key)).distinct()),
          Seq(key), "left_semi")
        .select(base.columns.map(col).toIndexedSeq: _*)
        .withColumn("_change", lit("delete"))
        .withColumn("_version", lit(v))
    } else if (!live.contains(v - 1)) {
      val snap = LakeLayout.readLakeVersion(spark, tablePath, v)
      snap.withColumn("_change", lit("insert"))
        .withColumn("_version", lit(v))
    } else {
      val (oldR, newR) = IncrementalAgg.changeRegions(spark, tablePath, v - 1, v)
      val union = (oldR.columns ++
        newR.columns.filterNot(oldR.columns.contains)).toIndexedSeq
      def aligned(df: DataFrame): DataFrame =
        df.select(union.map(c =>
          if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
      def hashed(df: DataFrame, side: String): DataFrame =
        aligned(df).select(col(key).as("__k"),
          xxhash64(struct(union.map(col): _*)).as(s"__h_$side"),
          struct(union.map(col): _*).as(s"__row_$side"))
      val j = hashed(oldR, "old").join(hashed(newR, "new"),
          Seq("__k"), "full_outer")
        .withColumn("_change",
          when(col("__h_old").isNull, lit("insert"))
            .when(col("__h_new").isNull, lit("delete"))
            .when(col("__h_old") =!= col("__h_new"), lit("update")))
        .filter(col("_change").isNotNull)
      val pick = coalesce(col("__row_new"), col("__row_old"))
      // coalesce is a runtime no-op (the filter above dropped nulls) but
      // flips _change to non-nullable — same schema as the bootstrap and
      // compact paths, so per-version frames union without nullability
      // drift.
      j.select(union.map(c => pick.getField(c).as(c)) :+
        coalesce(col("_change"), lit("update")).as("_change") :+
        lit(v).as("_version"): _*)
    }
  }

  /** The table's commit log as a stream: one row per committed
    * manifest, `wholetext` so a manifest is one record and `path`
    * identifies its version. Exactly-once version delivery is the file
    * source's own checkpointing. */
  def versionStream(spark: SparkSession, tablePath: String): DataFrame =
    spark.readStream
      .format("text")
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.manifest")
      .load(s"$tablePath/_commits")
      .select(col("_metadata.file_path").as("path"))

  /** Pump the change-data feed into `outTable`, an APPEND-ONLY lake
    * log ([[LakeLayout.appendToLake]] — each version's changes land as
    * new files, all prior log files carry by reference). Per
    * micro-batch the driver sees only the NEW manifest paths (bounded
    * by commits per trigger, never table data); versions are processed
    * ascending and are replay-idempotent via ("cdf", version)
    * provenance, so a restart from the same checkpoint — or a crash
    * between the append and the sink checkpoint — never duplicates a
    * version's changes. Blocks until the current log drains. */
  def runCdfToLake(spark: SparkSession, tablePath: String, key: String,
      outTable: String, checkpoint: String): StreamingQuery = {
    val q = versionStream(spark, tablePath).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val versions = batch.select(col("path")).distinct().collect()
          .flatMap { r =>
            val name = new org.apache.hadoop.fs.Path(r.getString(0)).getName
            ManifestName.findFirstMatchIn(name).map(_.group(1).toLong)
          }.sorted
        versions.foreach { v =>
          if (!LakeLayout.lakeHasCommit(s, outTable, "cdf", v)) {
            // op-typed skip, stream edition: a compact version's change
            // set is empty BY MANIFEST TYPE (same condition as
            // changesForVersion's short-circuit — a vacuumed v-1 means
            // v feeds as a bootstrap snapshot and must NOT skip), so
            // appending a zero-row log version per compaction would
            // only bloat the out table's history. Restart-safe: the
            // file-source checkpoint delivers each manifest once, and a
            // re-delivered compact version skips again by the same
            // test.
            val compactNoop = {
              val c = LakeLayout.lakeCommitAt(s, tablePath, v)
              c.op == "compact" &&
                LakeLayout.lakeVersions(s, tablePath).contains(v - 1)
            }
            if (!compactNoop)
              LakeLayout.appendToLake(s, outTable,
                changesForVersion(s, tablePath, v, key), "cdf", v)
          }
        }
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** CDC REPLICATION: converge a downstream lake table to a source
    * lake table by applying the change-data feed version by version —
    * the table-mirror shape (read replicas, cross-region copies,
    * downstream materializations that must track a canonical table
    * without ever re-copying it). Cost per sync is
    * O(changed rows + touched replica files), never O(table); a sync
    * with nothing new is pure metadata (one raw-manifest provenance
    * read per live version of each side, no data files opened).
    *
    * Each source version lands as AT MOST two replica commits — an
    * upsert of the version's insert/update postimages and a delete of
    * its delete keys (one source version never both deletes and
    * upserts the same key, so their order is immaterial) — carrying
    * ("cdf-upsert", v) / ("cdf-delete", v) provenance. A version whose
    * OTHER half is empty commits exactly once with a `-final` mark
    * ("cdf-upsert-final" / "cdf-delete-final"): the mark records that
    * the version is fully applied by its single commit, so an
    * upsert-only version sitting at the provenance high-water mark is
    * skipped outright on later syncs instead of being re-diffed on
    * every trigger forever. Replays are detected in bulk through
    * [[LakeLayout.lakeProvenance]]: a re-run after a crash BETWEEN the
    * two commits applies exactly the missing half, and a
    * fully-applied sync re-runs as a no-op (versions at or below the
    * high-water mark are skipped without even computing their change
    * set). Versions with an empty change set (compaction, Z-order
    * maintenance) publish nothing.
    *
    * Contracts (both standard for any CDC consumer): the replica is
    * PASSIVE — replication must be its only writer — and the source's
    * vacuum grace must cover replication lag. Source schema evolution
    * flows through (the upsert side evolves the replica). Returns the
    * number of source versions that applied at least one commit this
    * call. */
  def replicateLake(spark: SparkSession, srcPath: String, key: String,
      dstPath: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(dstPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val finalsDir = new org.apache.hadoop.fs.Path(dstPath, "_cdf")
    val applied = LakeLayout.lakeProvenance(spark, dstPath)
    val appliedV = applied.collect {
      case (c, v) if c.startsWith("cdf-") => v
    }
    // a `-final` mark records that a version is FULLY applied even
    // though only one (or zero) replica commits carry it. Two forms:
    // provenance marks ("cdf-upsert-final"/"cdf-delete-final", written
    // with the commit itself when the other half was empty) and
    // BACKFILL marker files under the replica's `_cdf/` dir — written
    // when a later sync proves a version needs nothing more (a
    // pre-r17 replica whose high-water commit predates the provenance
    // marks, or a non-compact source version whose change set was
    // empty). The marker file is the one-time cure for the
    // re-diff-forever tail: replicas are passive (this is their only
    // writer), so a plain create is race-free.
    val markedV: Set[Long] =
      if (!fs.exists(finalsDir)) Set.empty
      else fs.listStatus(finalsDir).iterator.flatMap { st =>
        st.getPath.getName match {
          case n if n.startsWith("final-") =>
            scala.util.Try(n.drop(6).toLong).toOption
          case _ => None
        }
      }.toSet
    val fullV = applied.collect {
      case (c, v) if c.endsWith("-final") => v
    } ++ markedV
    def markFinal(v: Long): Unit = {
      fs.mkdirs(finalsDir)
      fs.create(new org.apache.hadoop.fs.Path(finalsDir, s"final-$v"),
        true).close()
    }
    // versions strictly below the high-water mark are fully applied
    // (syncs process ascending, so a crash leaves at most the MAX
    // applied version half-done); empty versions below it were
    // correctly skipped and never need re-diffing
    val hwm = if (appliedV.isEmpty) Long.MinValue else appliedV.max
    var n = 0
    LakeLayout.lakeVersions(spark, srcPath).sorted
      .dropWhile(_ < hwm)
      .foreach { v =>
        val needUp = !fullV.contains(v) &&
          !applied.contains(("cdf-upsert", v))
        val needDel = !fullV.contains(v) &&
          !applied.contains(("cdf-delete", v))
        if (needUp || needDel) {
          val changes = changesForVersion(spark, srcPath, v, key).persist()
          try {
            val dataCols = changes.columns
              .filterNot(c => c == "_change" || c == "_version")
              .toIndexedSeq
            val ups = changes
              .filter(col("_change").isin("insert", "update"))
              .select(dataCols.map(col): _*)
            val dels = changes.filter(col("_change") === "delete")
              .select(col(key))
            var any = false
            if (needUp && !ups.isEmpty) {
              // a version whose delete half is EMPTY commits exactly
              // once — mark that commit FINAL so later syncs read the
              // version as fully applied instead of re-diffing it
              // forever while it sits at the high-water mark
              val mark = if (needDel && dels.isEmpty) "cdf-upsert-final"
                else "cdf-upsert"
              LakeLayout.upsertIntoLake(spark, dstPath, ups, key,
                mark, v, evolveSchema = true)
              any = true
            }
            if (needDel && !dels.isEmpty) {
              val mark = if (needUp && ups.isEmpty) "cdf-delete-final"
                else "cdf-delete"
              LakeLayout.deleteFromLake(spark, dstPath, dels, key,
                mark, v)
              any = true
            }
            if (any) n += 1
            else
              // this sync PROVED the version needs nothing more (its
              // missing halves were empty) — mark it final so later
              // syncs skip it outright instead of re-diffing it every
              // trigger while it sits at the high-water mark (the
              // pre-final-provenance replica shape) or above it (a
              // non-compact empty version)
              markFinal(v)
          } finally changes.unpersist()
        }
      }
    n
  }

  /** LIVE replication: tail the source's commit log and keep the
    * replica converged continuously. The manifest stream is only the
    * TRIGGER — each micro-batch hands off to [[replicateLake]], which
    * re-derives the unapplied set from replica provenance, so the
    * stream needs no state of its own: a restart from (or without) the
    * checkpoint, a crash mid-sync, or a duplicate trigger all land on
    * the same idempotent sync. Blocks until the current log drains. */
  def runReplication(spark: SparkSession, srcPath: String, key: String,
      dstPath: String, checkpoint: String): StreamingQuery = {
    val q = versionStream(spark, srcPath).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          replicateLake(batch.sparkSession, srcPath, key, dstPath)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** The deterministic 5-commit mutation chain shared by the CDF and
    * replication drives: an update wave (priority rewritten for every
    * key ≡ 0 mod 4), a takedown (every key ≡ 3 mod 10 deleted), an
    * insert wave (fresh keys offset by 10M), a compaction (change set
    * empty BY MANIFEST TYPE — exercises the op-typed short-circuit;
    * proof in OpTypedSkipSpec), and a MERGE-ON-READ delete (every key
    * ≡ 1 mod 25 — never ≡ 3 mod 10, and disjoint from the ≡ 7 mod 25
    * inserts, so the oracle stays a plain predicate over base orders;
    * the feed takes the dvdelete fast path). */
  private def mutationChain(s: SparkSession, dir: String,
      lake: String): Unit = {
    val orders = Tables.load(s, dir, "orders")
    LakeLayout.upsertIntoLake(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(4)) === 0)
        .withColumn("o_orderpriority", lit("9-UPD")),
      "o_orderkey", "registry", 1L)
    LakeLayout.deleteFromLake(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(10)) === 3)
        .select(col("o_orderkey")),
      "o_orderkey", "registry", 2L)
    LakeLayout.upsertIntoLake(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(100)) === 7)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)),
      "o_orderkey", "registry", 3L)
    val v4 = LakeLayout.compactLake(s, lake, "o_orderkey")
    require(v4 == 4L, s"expected compact to publish v4, got $v4")
    val v5 = LakeLayout.deleteFromLakeDv(s, lake,
      orders.filter(pmod(col("o_orderkey"), lit(25)) === 1)
        .select(col("o_orderkey")),
      "o_orderkey", "registry", 4L)
    require(v5 == 5L, s"expected dv delete to publish v5, got $v5")
  }

  /** Registry drive: a deterministic commit history on an orders lake
    * ([[mutationChain]]) and the change-data feed summarized per
    * (version, change). The oracle recomputes each version's expected
    * change set directly from plain orders, so a hash match proves the
    * feed emits EXACTLY the changed rows: carried neighbors inside
    * rewritten files (same file, unchanged bytes-of-row) must not
    * surface. */
  def qLakeCdf(s: SparkSession, dir: String): DataFrame = {
    // base v0 from the process-lifetime staged orders-6 lake (cloned —
    // this drive mutates): the timed span is the commit chain + feed,
    // not the one-time base staging write
    val lake = LakeQueries.cloneLake(s, LakeQueries.stagedOrders(s, dir, 6))
    mutationChain(s, dir, lake)
    (1L to 5L).map(v => changesForVersion(s, lake, v, "o_orderkey"))
      .reduce(_ unionByName _)
      .groupBy(col("_version"), col("_change"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).cast("long").as("sum_key"))
      .orderBy(col("_version"), col("_change"))
  }

  val qLakeCdfSql: String =
    """WITH changes AS (
         SELECT CAST(1 AS BIGINT) AS _version, 'update' AS _change, o_orderkey
         FROM orders WHERE o_orderkey % 4 = 0 AND o_orderpriority <> '9-UPD'
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'delete', o_orderkey
         FROM orders WHERE o_orderkey % 10 = 3
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'insert', o_orderkey + 10000000
         FROM orders WHERE o_orderkey % 100 = 7
         UNION ALL
         SELECT CAST(5 AS BIGINT), 'delete', o_orderkey
         FROM orders WHERE o_orderkey % 25 = 1)
       SELECT _version, _change, COUNT(*) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
       FROM changes GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Process-lifetime staged SOURCE chain for the replication drive —
    * keyed by the staged-orders base path (itself fingerprint-keyed,
    * so a re-generated sfDir re-stages automatically): the timed
    * registry span measures REPLICATION of the 5-version history into
    * a fresh replica, not the one-time source mutation chain. */
  private val chainCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedChain(s: SparkSession, dir: String): String =
    chainCache.computeIfAbsent(LakeQueries.stagedOrders(s, dir, 6), {
      base =>
        val lake = LakeQueries.cloneLake(s, base)
        mutationChain(s, dir, lake)
        lake
    })

  /** Registry drive for [[replicateLake]]: replicate the staged
    * 5-version source history (bootstrap snapshot + update wave +
    * takedown + insert wave + compaction no-op + merge-on-read delete)
    * into a FRESH replica, then aggregate the REPLICA's snapshot. The
    * oracle reproduces the source's final state relationally over
    * plain orders, so a hash match proves the replica converged to the
    * source through every change type the feed emits. */
  def qLakeReplicate(s: SparkSession, dir: String): DataFrame = {
    val src = stagedChain(s, dir)
    val dst = LakeQueries.registryLakeRoot(s)
    val applied = replicateLake(s, src, "o_orderkey", dst)
    require(applied >= 1, s"replication applied $applied source versions")
    LakeLayout.readLake(s, dst).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).cast("long").as("sum_key"))
      .orderBy(col("o_orderpriority"))
  }

  val qLakeReplicateSql: String =
    """WITH rep AS (
         SELECT CASE WHEN o_orderkey % 4 = 0 THEN '9-UPD'
                     ELSE o_orderpriority END AS o_orderpriority,
           o_orderkey
         FROM orders
         WHERE o_orderkey % 10 <> 3 AND o_orderkey % 25 <> 1
         UNION ALL
         SELECT o_orderpriority, o_orderkey + 10000000
         FROM orders WHERE o_orderkey % 100 = 7)
       SELECT o_orderpriority, COUNT(*) AS n_orders,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
       FROM rep GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lake_cdf" -> (qLakeCdf _),
    "q_lake_replicate" -> (qLakeReplicate _))

  val oracle: Map[String, String] = Map(
    "q_lake_cdf" -> qLakeCdfSql,
    "q_lake_replicate" -> qLakeReplicateSql)
}
