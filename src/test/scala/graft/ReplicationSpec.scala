package graft

import graft.sources.LakeLayout
import graft.streaming.CdfStream
import org.apache.spark.sql.functions._

/** CDC replication ([[CdfStream.replicateLake]]): a passive replica
  * must CONVERGE to the source snapshot through every change type the
  * feed emits (bootstrap, update, file-granular delete, compaction
  * no-op, merge-on-read delete, insert), syncs must be incremental
  * (only unapplied source versions do work) and idempotent (a no-new-
  * versions sync publishes nothing), and a crash between a version's
  * two replica commits must re-apply exactly the missing half. */
class ReplicationSpec extends SparkSuite {
  import spark.implicits._

  private def snapshot(path: String): Set[Seq[Any]] =
    LakeLayout.readLake(spark, path).get.collect().map(_.toSeq).toSet

  test("replica converges through every change type, incrementally and idempotently") {
    val src = java.nio.file.Files
      .createTempDirectory("graft-repl-src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft-repl-dst").toString + "/replica"
    LakeLayout.commitLakeVersion(
      (0L until 100L).map(k => (k, s"v$k")).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      src, "seed", 0L, statsKey = Some("id"))
    LakeLayout.upsertIntoLake(spark, src,
      (0L until 100L by 10).map(k => (k, "UPD")).toDF("id", "v"),
      "id", "w", 1L)
    LakeLayout.deleteFromLake(spark, src,
      Seq(3L, 13L, 23L).toDF("id"), "id", "w", 2L)

    val n1 = CdfStream.replicateLake(spark, src, "id", dst)
    assert(n1 == 3, s"bootstrap + update + delete must apply, got $n1")
    assert(snapshot(dst) == snapshot(src), "replica == source after sync 1")
    assert(LakeLayout.readLake(spark, dst).get.columns.toSeq ==
      Seq("id", "v"), "feed meta columns must never leak into the replica")

    // incremental: compaction (change set empty BY MANIFEST TYPE),
    // a merge-on-read delete, an insert wave
    LakeLayout.compactLake(spark, src, "id")
    LakeLayout.deleteFromLakeDv(spark, src,
      Seq(7L, 17L).toDF("id"), "id", "w", 3L)
    LakeLayout.upsertIntoLake(spark, src,
      Seq((200L, "NEW"), (201L, "NEW")).toDF("id", "v"), "id", "w", 4L)
    val dstBefore = LakeLayout.lakeVersions(spark, dst).size
    val n2 = CdfStream.replicateLake(spark, src, "id", dst)
    assert(n2 == 2, s"compaction applies nothing; dv delete + insert do, got $n2")
    assert(LakeLayout.lakeVersions(spark, dst).size == dstBefore + 2,
      "exactly one replica commit per non-empty source version here")
    assert(snapshot(dst) == snapshot(src), "replica == source after sync 2")

    // single-half versions must self-seal with a FINAL mark: without
    // it the tail version pins the high-water mark and every later
    // sync re-diffs it — an unbounded stream of redundant change-set
    // jobs on a live replication trigger
    val prov = LakeLayout.lakeProvenance(spark, dst)
    assert(prov.contains(("cdf-upsert-final", 5L)),
      s"the upsert-only insert wave must carry a final mark, got $prov")
    assert(prov.contains(("cdf-delete-final", 4L)),
      s"the delete-only dv wave must carry a final mark, got $prov")

    // idempotence: nothing new on the source → nothing on the replica
    val versions = LakeLayout.lakeVersions(spark, dst)
    assert(CdfStream.replicateLake(spark, src, "id", dst) == 0,
      "a fully-applied sync must be a no-op")
    assert(LakeLayout.lakeVersions(spark, dst) == versions,
      "a no-op sync must publish no replica versions")
  }

  test("live replication tails the commit log and survives a restart") {
    val src = java.nio.file.Files
      .createTempDirectory("graft-repl-live-src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft-repl-live-dst").toString + "/replica"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-repl-live-ck").toString
    LakeLayout.commitLakeVersion(
      (0L until 50L).map(k => (k, s"v$k")).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      src, "seed", 0L, statsKey = Some("id"))
    val q1 = CdfStream.runReplication(spark, src, "id", dst, ckpt)
    q1.stop()
    assert(snapshot(dst) == snapshot(src), "bootstrap replicated live")

    // new commits while the stream is DOWN, then a restart from the
    // same checkpoint must catch the replica up exactly once
    LakeLayout.upsertIntoLake(spark, src,
      Seq((1L, "UPD"), (60L, "NEW")).toDF("id", "v"), "id", "w", 1L)
    LakeLayout.deleteFromLake(spark, src, Seq(2L).toDF("id"), "id", "w", 2L)
    val q2 = CdfStream.runReplication(spark, src, "id", dst, ckpt)
    q2.stop()
    assert(snapshot(dst) == snapshot(src), "restart caught up")
    // bootstrap(1) + upsert(1) + delete(1) = exactly 3 replica commits
    assert(LakeLayout.lakeVersions(spark, dst).size == 3,
      "no duplicate applies across the restart")
  }

  test("a crash between a version's two commits re-applies exactly the missing half") {
    val src = java.nio.file.Files
      .createTempDirectory("graft-repl-crash-src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft-repl-crash-dst").toString + "/replica"
    LakeLayout.commitLakeVersion(
      (0L until 10L).map(k => (k, s"v$k", false)).toDF("id", "v", "del")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      src, "seed", 0L, statsKey = Some("id"))
    assert(CdfStream.replicateLake(spark, src, "id", dst) == 1)

    // v1 carries BOTH kinds: update id 1, insert id 100, delete id 2
    LakeLayout.upsertIntoLake(spark, src,
      Seq((1L, "UPD", false), (100L, "INS", false), (2L, "gone", true))
        .toDF("id", "v", "del"),
      "id", "w", 1L, deleteWhen = Some(col("del")))

    // simulate the crash: apply only the upsert half with replication's
    // own provenance, as if the process died before the delete commit
    val changes = CdfStream.changesForVersion(spark, src, 1L, "id")
    LakeLayout.upsertIntoLake(spark, dst,
      changes.filter(col("_change").isin("insert", "update"))
        .select(col("id"), col("v"), col("del")),
      "id", "cdf-upsert", 1L)
    assert(snapshot(dst) != snapshot(src), "half-applied by construction")

    val before = LakeLayout.lakeVersions(spark, dst).size
    assert(CdfStream.replicateLake(spark, src, "id", dst) == 1,
      "the re-sync must apply version 1's missing half")
    assert(LakeLayout.lakeVersions(spark, dst).size == before + 1,
      "exactly ONE commit — the delete half; the upsert must not replay")
    assert(snapshot(dst) == snapshot(src), "replica converged after recovery")
  }

  test("a pre-final-provenance replica is backfilled once and never re-diffs its high-water version again") {
    val src = java.nio.file.Files
      .createTempDirectory("graft-repl-old-src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft-repl-old-dst").toString + "/replica"
    LakeLayout.commitLakeVersion(
      (0L until 20L).map(k => (k, s"v$k")).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      src, "seed", 0L, statsKey = Some("id"))

    // an OLD-FORMAT replica: version 0 (the bootstrap — insert-only,
    // delete half empty) applied under the plain pre-r17 provenance
    // mark, no `-final`; its high-water version re-diffed on EVERY
    // sync before the backfill existed
    val changes = CdfStream.changesForVersion(spark, src, 0L, "id")
    LakeLayout.upsertIntoLake(spark, dst,
      changes.filter(col("_change").isin("insert", "update"))
        .select(col("id"), col("v")),
      "id", "cdf-upsert", 0L)
    assert(snapshot(dst) == snapshot(src), "old replica is converged")

    // sync 1: proves v0's missing half is empty and backfills the
    // final mark (one last change-set computation), publishing nothing
    val versions = LakeLayout.lakeVersions(spark, dst)
    assert(CdfStream.replicateLake(spark, src, "id", dst) == 0)
    assert(LakeLayout.lakeVersions(spark, dst) == versions,
      "the backfill sync must publish no replica versions")

    // sync 2: ZERO change-set computations — the marker seals v0
    val diffsBefore = CdfStream.changeSetComputations.get()
    assert(CdfStream.replicateLake(spark, src, "id", dst) == 0)
    assert(CdfStream.changeSetComputations.get() == diffsBefore,
      "a sealed high-water version must never be re-diffed")

    // and the seal never wedges progress: a new source commit applies
    LakeLayout.upsertIntoLake(spark, src,
      Seq((100L, "NEW")).toDF("id", "v"), "id", "w", 1L)
    assert(CdfStream.replicateLake(spark, src, "id", dst) == 1)
    assert(snapshot(dst) == snapshot(src), "replica advanced past the seal")
  }
}
