package graft

import graft.sources.LakeLayout
import org.apache.spark.sql.functions._

/** The delta-manifest commit protocol (format:5 + sidecar checkpoints)
  * — the fix for the one O(live files) scale-killer the full-list
  * manifests carried: at 100 TB / ~800 k files a full manifest is
  * ~80 MB rewritten per commit, while a steady-state upsert changes a
  * handful of files. These specs pin, through the PUBLIC API plus
  * direct `_commits/` inspection:
  *  - a small upsert on a many-file table publishes a format:5 delta
  *    whose byte size is O(changed files), not O(live files);
  *  - full rewrites/compactions self-select the full form;
  *  - every checkpointEvery-th version gains a sidecar `.checkpoint`
  *    and historical reads resolve identically through chains,
  *    checkpoints, and vacuum;
  *  - vacuum materializes a checkpoint for the oldest kept version so
  *    retained deltas never strand. */
class DeltaManifestSpec extends SparkSuite {

  import spark.implicits._

  private def commits(table: String): Map[String, Long] =
    new java.io.File(s"$table/_commits").listFiles()
      .filterNot(_.getName.startsWith("."))
      .map(f => f.getName -> f.length()).toMap

  private def firstLine(table: String, name: String): String = {
    val src = scala.io.Source.fromFile(s"$table/_commits/$name", "UTF-8")
    try src.getLines().next() finally src.close()
  }

  test("small upsert on a many-file table writes an O(changed-files) delta manifest") {
    val table = java.nio.file.Files.createTempDirectory("graft-delta").toString
    // 32 key-ranged files — a miniature of the 800k-file production shape
    val base = spark.range(0, 64000).select($"id", ($"id" % 997).as("v"))
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(32, $"id").sortWithinPartitions($"id"),
      table, "ck", 0L, statsKey = Some("id"))
    val fullBytes = commits(table)("v" + "0" * 19 + "0.manifest")
    assert(firstLine(table, "v" + "0" * 19 + "0.manifest") == "format:4",
      "a first commit has no parent and must be the full form")

    // one-key upsert: touches exactly one of 32 files
    val r = LakeLayout.upsertIntoLake(spark, table,
      Seq((5L, 424242L)).toDF("id", "v"), "id", "ck", 1L)
    assert(r.filesRewritten == 1 && r.filesCarried == 31, s"$r")
    val m1name = "v" + "0" * 19 + "1.manifest"
    assert(firstLine(table, m1name) == "format:5",
      "a 1-of-32-file change must publish as a delta")
    val deltaBytes = commits(table)(m1name)
    // delta lists ~2 changed files + header + schema vs 32 f-lines +
    // header + schema: require a hard separation, not a few % shaved
    assert(deltaBytes * 4 < fullBytes,
      s"delta manifest ($deltaBytes B) must be far smaller than the " +
        s"full list ($fullBytes B)")

    // resolution: latest commit sees all 32 file entries with stats
    val m1 = LakeLayout.latestLakeCommit(spark, table).get
    assert(m1.files.size == 32, s"resolved list must be complete: ${m1.files.size}")
    assert(m1.files.forall(f => f.minKey.isDefined && f.maxKey.isDefined))
    val got = LakeLayout.readLake(spark, table).get.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got.size == 64000 && got(5L) == 424242L)
  }

  test("delta chains resolve across many commits; checkpoint sidecar lands every 8th; history reads stay exact") {
    val table = java.nio.file.Files.createTempDirectory("graft-chain").toString
    val base = spark.range(0, 8000).select($"id", lit(0L).as("v"))
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(8, $"id").sortWithinPartitions($"id"),
      table, "ck", 0L, statsKey = Some("id"))
    // 12 single-key upserts → versions 1..12, all deltas, no vacuum
    (1L to 12L).foreach { b =>
      LakeLayout.upsertIntoLake(spark, table,
        Seq((b * 100, b)).toDF("id", "v"), "id", "ck", b)
    }
    val names = commits(table).keySet
    assert((1L to 12L).forall(v =>
        firstLine(table, f"v$v%020d.manifest") == "format:5"),
      "every steady-state upsert must publish as a delta")
    assert(names.contains(f"v${8L}%020d.checkpoint"),
      s"version 8 must carry its sidecar checkpoint: $names")
    // every historical version must resolve to exactly its prefix of
    // the upsert sequence — walking chains and through the checkpoint
    (0L to 12L).foreach { v =>
      val got = LakeLayout.readLakeVersion(spark, table, v).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      val want = (0L until 8000L).map(i => i -> 0L).toMap ++
        (1L to v).map(b => (b * 100) -> b).toMap
      assert(got == want, s"version $v must replay its exact prefix")
    }
  }

  test("full compaction self-selects the full manifest form and resets the chain") {
    val table = java.nio.file.Files.createTempDirectory("graft-reset").toString
    LakeLayout.commitLakeVersion(
      spark.range(0, 4000).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"),
      table, "ck", 0L, statsKey = Some("id"))
    (1L to 3L).foreach { b =>
      LakeLayout.upsertIntoLake(spark, table,
        Seq((b, b)).toDF("id", "v"), "id", "ck", b)
    }
    LakeLayout.compactLake(spark, table, "id")
    val m = f"v${4L}%020d.manifest"
    assert(firstLine(table, m) != "format:5",
      "a full rewrite (delta = all-removes + all-adds) must publish full")
    val got = LakeLayout.readLake(spark, table).get.count()
    assert(got == 4000)
  }

  test("vacuum materializes a checkpoint for the oldest kept delta; retained versions stay resolvable; dropped checkpoints are reclaimed") {
    val table = java.nio.file.Files.createTempDirectory("graft-vacckpt").toString
    LakeLayout.commitLakeVersion(
      spark.range(0, 8000).select($"id", lit(0L).as("v"))
        .repartitionByRange(8, $"id").sortWithinPartitions($"id"),
      table, "ck", 0L, statsKey = Some("id"))
    (1L to 10L).foreach { b =>
      LakeLayout.upsertIntoLake(spark, table,
        Seq((b * 10, b)).toDF("id", "v"), "id", "ck", b)
    }
    // keep v9 (a delta, no sidecar of its own) and v10
    LakeLayout.vacuumLake(spark, table, keep = 2)
    val names = commits(table).keySet
    assert(names.contains(f"v${9L}%020d.checkpoint"),
      s"vacuum must checkpoint the oldest kept delta version: $names")
    assert(!names.exists(_.startsWith(f"v${8L}%020d")),
      s"v8's manifest AND checkpoint must both be reclaimed: $names")
    // both kept versions resolve correctly with every ancestor gone
    // keys b*10 all pre-exist in the base, so upserts are pure updates
    val v9 = LakeLayout.readLakeVersion(spark, table, 9L).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(v9.size == 8000 && v9(90L) == 9L && v9(100L) == 0L,
      "v9 must show updates 1..9 and key 100 still at its base value")
    val v10 = LakeLayout.readLake(spark, table).get.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(v10.size == 8000 && v10(100L) == 10L)
    // and the table keeps working: another upsert + read
    LakeLayout.upsertIntoLake(spark, table,
      Seq((90L, 999L)).toDF("id", "v"), "id", "ck", 11L)
    assert(LakeLayout.readLake(spark, table).get
      .filter($"id" === 90L).head().getLong(1) == 999L)
  }

  test("crash window: a 30-commit chain with EVERY checkpoint suppressed still resolves exactly; vacuum re-materializes") {
    // checkpoints are best-effort AFTER the atomic claim — a crash in
    // that window loses the sidecar but never the commit. This drives
    // the worst case: the crash hits every single checkpoint write, so
    // resolution must walk the raw delta chain 30 deep to the base.
    val table = java.nio.file.Files.createTempDirectory("graft-crashwin").toString
    val base = spark.range(0, 8000).select($"id", lit(0L).as("v"))
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(8, $"id").sortWithinPartitions($"id"),
      table, "ck", 0L, statsKey = Some("id"))
    val commitsDir = new java.io.File(s"$table/_commits")
    def suppressCheckpoints(): Unit =
      commitsDir.listFiles().filter(_.getName.endsWith(".checkpoint"))
        .foreach(f => assert(f.delete(), s"could not suppress $f"))
    var model = (0L until 8000L).map(id => id -> 0L).toMap
    val snapshots = scala.collection.mutable.ArrayBuffer(model)
    (1L to 30L).foreach { b =>
      LakeLayout.upsertIntoLake(spark, table,
        Seq((b * 101, b)).toDF("id", "v"), "id", "ck", b)
      suppressCheckpoints() // the crash window, hit every time
      model += (b * 101) -> b
      snapshots += model
    }
    assert(!commitsDir.listFiles().exists(_.getName.endsWith(".checkpoint")),
      "setup: no checkpoint may survive")
    assert((1L to 30L).forall(v =>
      firstLine(table, f"v$v%020d.manifest") == "format:5"),
      "every post-base commit must be a raw delta")
    assert(LakeLayout.lakeVersions(spark, table) == (0L to 30L))
    // every version's METADATA resolves through the chain (no data read)
    (0L to 30L).foreach { v =>
      val c = LakeLayout.lakeCommitAt(spark, table, v)
      assert(c.files.size == 8,
        s"v$v must resolve to the complete 8-file list, got ${c.files.size}")
    }
    // spot-check DATA exactness across the chain, including the
    // never-checkpointed 8/16/24 boundaries
    Seq(0L, 7L, 8L, 16L, 24L, 29L, 30L).foreach { v =>
      val got = LakeLayout.readLakeVersion(spark, table, v).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == snapshots(v.toInt), s"v$v diverged from the model")
    }
    // vacuum must materialize the oldest KEPT version's checkpoint
    // (v29 is a delta whose ancestors are about to vanish)
    LakeLayout.vacuumLake(spark, table, keep = 2)
    assert(LakeLayout.lakeVersions(spark, table) == Seq(29L, 30L))
    assert(new java.io.File(s"$table/_commits/v${"0" * 18}29.checkpoint").exists(),
      "vacuum must write the oldest-kept delta's checkpoint before " +
        "dropping its ancestors")
    Seq(29L, 30L).foreach { v =>
      val got = LakeLayout.readLakeVersion(spark, table, v).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == snapshots(v.toInt), s"post-vacuum v$v diverged")
    }
  }

  test("manifest bytes per commit stay flat as the table grows (the 100 TB argument, measured)") {
    val table = java.nio.file.Files.createTempDirectory("graft-flat").toString
    LakeLayout.commitLakeVersion(
      spark.range(0, 128000).select($"id", lit(0L).as("v"))
        .repartitionByRange(64, $"id").sortWithinPartitions($"id"),
      table, "ck", 0L, statsKey = Some("id"))
    // appends GROW the live file count each commit; under full-list
    // manifests the manifest would grow with it
    val sizes = (1L to 6L).map { b =>
      LakeLayout.appendToLake(spark, table,
        Seq((200000L + b, b)).toDF("id", "v").repartition(1),
        "ck", b, statsKey = Some("id"))
      commits(table)(f"v$b%020d.manifest")
    }
    val files = LakeLayout.latestLakeCommit(spark, table).get.files.size
    assert(files == 64 + 6, s"each append must add one live file: $files")
    // delta manifests: byte size independent of the live file count
    assert(sizes.max <= sizes.min + 16,
      s"manifest bytes must not grow with table size: $sizes")
  }
}
