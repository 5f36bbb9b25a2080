package graft

import graft.sources.LakeLayout
import org.apache.spark.sql.functions._

/** Round-16 metadata-plane contracts:
  *  - file BYTES recorded in manifest entries make census / DESCRIBE /
  *    write accounting O(manifest) — physically proven by destroying
  *    every data byte and still answering;
  *  - commit INSTANTS persisted inside manifests make AS-OF resolution
  *    survive copy tools that re-stamp mtimes, and are monotonized
  *    against store-clock regression (Delta's adjusted timestamps);
  *  - checkpoints encode the FULL entry (dv/rows/bytes) — a dv-delete
  *    landing on a checkpoint boundary must not resurrect rows;
  *  - [[LakeLayout.cloneLakeShallow]] forks a table at O(manifest)
  *    with absolute file references the clone's vacuum can never
  *    reclaim;
  *  - dv sidecar writes shard with the wave instead of funneling
  *    through one task. */
class LakeMetadataSpec extends SparkSuite {
  import spark.implicits._

  private def hconf = spark.sessionState.newHadoopConf()
  private def fsOf(p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)

  /** Byte-wise recursive copy through plain NIO — every copied file
    * gets a FRESH mtime (the migration-tool failure mode both instant
    * tests simulate) and no Hadoop .crc sidecars. */
  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(c =>
        copyTree(c, new java.io.File(dst, c.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def freshOrders(parts: Int = 4): String = {
    val t = java.nio.file.Files.createTempDirectory("graft-meta").toString
    LakeLayout.commitLakeVersion(
      (0L until 4000L).map(k => (k, k % 7, s"p$k")).toDF("id", "grp", "pay")
        .repartitionByRange(parts, $"id").sortWithinPartitions($"id"),
      t, "ck", 0L, statsKey = Some("id"))
    t
  }

  test("manifest entries record exact file bytes; census, DESCRIBE, and accounting answer with every data byte destroyed") {
    val t = freshOrders()
    val fs = fsOf(t)
    val cur = LakeLayout.latestLakeCommit(spark, t).get
    assert(cur.files.nonEmpty)
    cur.files.foreach { f =>
      val real = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(t, f.path)).getLen
      assert(f.bytes.contains(real),
        s"${f.path}: manifest bytes ${f.bytes} != physical $real")
    }
    val expectedTotal = cur.files.flatMap(_.bytes).sum
    // destroy every data byte: the metadata plane must not notice
    cur.files.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(t, f.path), false))
    val d = LakeLayout.describeLake(spark, t).collect()(0)
    assert(d.getAs[Long]("total_bytes") == expectedTotal,
      "DESCRIBE DETAIL must answer sizes from the manifest alone")
    assert(d.getAs[Long]("n_rows_meta") == 4000L)
    // maintainLake's census path (thresholds tuned to decide "nothing
    // to do") must also complete without a single data-file stat
    val r = LakeLayout.maintainLake(spark, t, "id", "maint",
      keep = 10, minSmallFiles = Int.MaxValue, orphanGraceMs = 0L)
    assert(r.compactedTo.isEmpty && r.dvMaterializedTo.isEmpty,
      s"idle maintenance decision must be metadata-only: $r")
  }

  test("upsert/append/delete accounting comes from recorded bytes and matches physical truth") {
    val t = freshOrders()
    val fs = fsOf(t)
    val up = LakeLayout.upsertIntoLake(spark, t,
      (100L until 150L).map(k => (k, -1L, "upd")).toDF("id", "grp", "pay"),
      "id", "ck", 1L)
    val cur = LakeLayout.latestLakeCommit(spark, t).get
    val physical = cur.files.map(f => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(t, f.path)).getLen).sum
    assert(up.tableBytes == physical,
      s"accounting ${up.tableBytes} must equal physical $physical")
    assert(cur.files.forall(_.bytes.isDefined),
      "every rewritten/carried entry must keep its recorded length")
  }

  test("checkpoint fidelity: a dv-delete landing on the checkpoint boundary does not resurrect deleted rows") {
    val t = freshOrders()
    // advance to v7 with small upserts (each publishes a delta)
    (1L to 7L).foreach { b =>
      LakeLayout.upsertIntoLake(spark, t,
        Seq((b, -b, s"u$b")).toDF("id", "grp", "pay"), "id", "ck", b)
    }
    // v8 = the checkpointEvery boundary — make it a dv delete, so the
    // sidecar checkpoint is written from a dv-carrying file list
    val v = LakeLayout.deleteFromLakeDv(spark, t,
      (0L until 4000L by 10).toDF("id"), "id", "ck", 8L)
    assert(v == 8L, s"the dv delete must land exactly on v8, got $v")
    val commitsDir = new java.io.File(s"$t/_commits")
    assert(commitsDir.listFiles().exists(_.getName.endsWith(".checkpoint")),
      "v8 must have written its sidecar checkpoint")
    // resolution prefers the checkpoint: if it dropped the dv field,
    // the 400 deleted keys would come back
    assert(LakeLayout.readLake(spark, t).get.count() == 3600L,
      "checkpoint resolution must preserve deletion vectors")
    assert(LakeLayout.readLake(spark, t).get
      .filter($"id" % 10 === 0).count() == 0L)
    // and the recorded rows/bytes survive checkpoint resolution too
    val viaCkpt = LakeLayout.lakeCommitAt(spark, t, 8L)
    assert(viaCkpt.files.forall(f => f.rows.isDefined && f.bytes.isDefined),
      "checkpoint entries must keep rows and bytes fields")
  }

  test("persisted instants: AS-OF pins survive a _commits copy that re-stamps every mtime") {
    val t = freshOrders()
    (1L to 3L).foreach { b =>
      LakeLayout.upsertIntoLake(spark, t,
        Seq((b * 1000L, -b, s"u$b")).toDF("id", "grp", "pay"), "id", "ck", b)
      Thread.sleep(15)
    }
    val instants = LakeLayout.lakeCommitInstants(spark, t)
    assert(instants.size == 4)
    // copy the WHOLE table byte-wise through read+write (fresh mtimes
    // on every manifest — the migration-tool failure mode)
    val t2 = java.nio.file.Files.createTempDirectory("graft-meta-cp").toString
    Thread.sleep(30) // guarantee the copy's mtimes differ from commit time
    copyTree(new java.io.File(t), new java.io.File(t2))
    val instants2 = LakeLayout.lakeCommitInstants(spark, t2)
    assert(instants2 == instants,
      s"persisted instants must survive the copy: $instants2 vs $instants")
    // every pin resolves to the same version on the copy
    instants.foreach { case (v, ts) =>
      assert(LakeLayout.lakeVersionAsOf(spark, t2, ts)
        == LakeLayout.lakeVersionAsOf(spark, t, ts))
    }
  }

  test("instant monotonization: a regressed store instant cannot make AS-OF serve future state") {
    val t = freshOrders()
    LakeLayout.upsertIntoLake(spark, t,
      Seq((1L, -1L, "u1")).toDF("id", "grp", "pay"), "id", "ck", 1L)
    Thread.sleep(15)
    LakeLayout.upsertIntoLake(spark, t,
      Seq((2L, -2L, "u2")).toDF("id", "grp", "pay"), "id", "ck", 2L)
    val base = LakeLayout.lakeCommitInstants(spark, t)
    // fork the table and rewrite v2's persisted instant to BEFORE v1's
    // (store-clock skew between metadata nodes); edit before any read
    // of the fork so the parse cache never sees the unedited bytes
    val t2 = java.nio.file.Files.createTempDirectory("graft-meta-mono").toString
    copyTree(new java.io.File(t), new java.io.File(s"$t2/tbl"))
    val tbl = s"$t2/tbl"
    val v2m = new java.io.File(s"$tbl/_commits/v${"0" * 19}2.manifest")
    val regressed = base(1L) - 60000L
    val edited = new String(
      java.nio.file.Files.readAllBytes(v2m.toPath), "UTF-8")
      .linesIterator.map(l =>
        if (l.startsWith("t\t")) s"t\t$regressed" else l)
      .mkString("\n") + "\n"
    java.nio.file.Files.write(v2m.toPath, edited.getBytes("UTF-8"))
    val inst = LakeLayout.lakeCommitInstants(spark, tbl)
    assert(inst(2L) == inst(1L) + 1,
      s"regressed v2 must monotonize to v1+1ms: $inst")
    // AS OF v1's instant must serve v1, not the future v2
    assert(LakeLayout.lakeVersionAsOf(spark, tbl, inst(1L)) == Some(1L),
      "a regressed later commit must stay invisible at v1's instant")
    // TIES adjust too (coarse store clocks): v2 stamped EXACTLY at
    // v1's instant must still resolve AS OF v1's pin to v1 — ties
    // resolve toward the earlier version, never future state
    val t3 = java.nio.file.Files.createTempDirectory("graft-meta-tie").toString
    copyTree(new java.io.File(t), new java.io.File(s"$t3/tbl"))
    val tieM = new java.io.File(s"$t3/tbl/_commits/v${"0" * 19}2.manifest")
    val tied = new String(
      java.nio.file.Files.readAllBytes(tieM.toPath), "UTF-8")
      .linesIterator.map(l =>
        if (l.startsWith("t\t")) s"t\t${base(1L)}" else l)
      .mkString("\n") + "\n"
    java.nio.file.Files.write(tieM.toPath, tied.getBytes("UTF-8"))
    val instTie = LakeLayout.lakeCommitInstants(spark, s"$t3/tbl")
    assert(instTie(2L) == instTie(1L) + 1,
      s"an equal-instant later commit must adjust to +1ms: $instTie")
    assert(LakeLayout.lakeVersionAsOf(spark, s"$t3/tbl", instTie(1L))
      == Some(1L))
  }

  test("the persisted cluster axis clears itself when a full rewrite drops the column; maintenance keeps working") {
    val t = java.nio.file.Files.createTempDirectory("graft-meta-axis")
      .toString
    val rows = (0L until 4000L).map(k => (k, (k * 7919) % 4000, k % 7))
      .toDF("k", "t", "grp")
    LakeLayout.commitLakeVersion(
      rows.repartitionByRange(4, $"k").sortWithinPartitions($"k"),
      t, "ck", 0L, statsKey = Some("k"), tsStatsKey = Some("t"))
    assert(LakeLayout.latestLakeCommit(spark, t).get.tsClusterCol
      .contains("t"))
    // a full rewrite WITHOUT the cluster column: the property must
    // clear, not dangle — a dangling axis would crash every later
    // maintenance pass with no way to unset it
    LakeLayout.commitLakeVersion(
      LakeLayout.readLake(spark, t).get.drop("t")
        .repartitionByRange(4, $"k").sortWithinPartitions($"k"),
      t, "ck", 1L, statsKey = Some("k"))
    assert(LakeLayout.latestLakeCommit(spark, t).get.tsClusterCol.isEmpty,
      "dropping the cluster column must clear the table property")
    val r = LakeLayout.maintainLake(spark, t, "k", "maint",
      minSmallFiles = 2, smallFileMB = 1024, targetFileMB = 1,
      minFiles = 4)
    assert(r.compactedTo.isDefined,
      "maintenance after the axis cleared must run key-sorted, not crash")
    assert(LakeLayout.readLake(spark, t).get.count() == 4000L)
  }

  test("shallow clone: O(manifest) fork reads identically; writes diverge; the clone's vacuum never reclaims source files") {
    val t = freshOrders()
    val srcFiles = LakeLayout.latestLakeCommit(spark, t).get.files
    val c = java.nio.file.Files.createTempDirectory("graft-clone").toString
    LakeLayout.cloneLakeShallow(spark, t, c)
    // zero data bytes under the clone; manifest references are absolute
    assert(!new java.io.File(s"$c/data").exists() ||
      new java.io.File(s"$c/data").listFiles().isEmpty)
    val cloneFiles = LakeLayout.latestLakeCommit(spark, c).get.files
    assert(cloneFiles.forall(_.path.contains(":/")),
      s"clone entries must be absolute URIs: ${cloneFiles.map(_.path)}")
    assert(LakeLayout.readLake(spark, c).get.count() == 4000L)
    // a write on the clone diverges the clone only
    LakeLayout.deleteFromLake(spark, c,
      (0L until 4000L by 2).toDF("id"), "id", "ck", 1L)
    assert(LakeLayout.readLake(spark, c).get.count() == 2000L)
    assert(LakeLayout.readLake(spark, t).get.count() == 4000L,
      "the source must be untouched by clone writes")
    // vacuum the clone below the cloned version: only the clone's OWN
    // data dir is swept — every source file must survive
    LakeLayout.vacuumLake(spark, c, keep = 1)
    val fs = fsOf(t)
    srcFiles.foreach(f => assert(fs.exists(
      new org.apache.hadoop.fs.Path(t, f.path)),
      s"clone vacuum must never delete source file ${f.path}"))
    assert(LakeLayout.readLake(spark, t).get.count() == 4000L)
    assert(LakeLayout.readLake(spark, c).get.count() == 2000L)
  }

  test("dv sidecar write shards with the wave (no single-task funnel) and reads stay exact") {
    val t = freshOrders()
    // a wave big enough that the ~8 MB shard target needs >1 task
    LakeLayout.deleteFromLakeDv(spark, t,
      spark.range(0L, 2000000L).toDF("id"), "id", "ck", 1L)
    val cur = LakeLayout.latestLakeCommit(spark, t).get
    val dvDir = cur.files.flatMap(_.dv).distinct
    assert(dvDir.size == 1)
    val shards = new java.io.File(s"$t/${dvDir.head}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(shards >= 2,
      s"a 2M-key wave must shard the sidecar write, got $shards file(s)")
    assert(LakeLayout.readLake(spark, t).get.count() == 0L,
      "every key was deleted — the sharded sidecar must apply in full")
  }

  test("qualified and bare path spellings share one manifest cache entry space") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cachekey")
      .toString
    val qualified = s"file:$dir"
    LakeLayout.commitLakeVersion(
      Seq((1L, "a")).toDF("id", "pay"), qualified, "ck", 0L,
      statsKey = Some("id"))
    assert(LakeLayout.readLake(spark, qualified).get.count() == 1L)
    // drop + invalidate under the BARE spelling; re-create at the same
    // physical location — the stale-parse hazard the cache documents
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    LakeLayout.invalidateManifestCache(dir)
    LakeLayout.commitLakeVersion(
      Seq((1L, "b"), (2L, "b")).toDF("id", "pay"), dir, "ck", 0L,
      statsKey = Some("id"))
    assert(LakeLayout.readLake(spark, qualified).get.count() == 2L,
      "a bare-path invalidation must evict the qualified-path parse")
  }

  test("restore rolls back as a metadata-only commit; history survives and vacuum keeps the restored files live") {
    val t = freshOrders()
    val v0Rows = LakeLayout.readLake(spark, t).get
      .orderBy($"id").collect().toSeq
    // a bad wave lands (v1), then restore to v0 — the rollback is a
    // NEW version on top, not a history rewrite
    LakeLayout.upsertIntoLake(spark, t,
      (0L until 4000L by 2).map(k => (k, -1L, "bad")).toDF("id", "grp", "pay"),
      "id", "ck", 1L)
    val dataBytesBefore = fsOf(t).getContentSummary(
      new org.apache.hadoop.fs.Path(s"$t/data")).getLength
    val v2 = LakeLayout.restoreLake(spark, t, 0L)
    assert(v2 == 2L, s"restore must publish the next version, got $v2")
    assert(fsOf(t).getContentSummary(
      new org.apache.hadoop.fs.Path(s"$t/data")).getLength
      == dataBytesBefore,
      "restore must move ZERO data bytes")
    assert(LakeLayout.readLake(spark, t).get
      .orderBy($"id").collect().toSeq == v0Rows,
      "the restored snapshot must equal the restored-from version")
    // history keeps the bad commit inspectable, typed on top
    val hist = LakeLayout.lakeHistory(spark, t).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("op"))).toSeq
    assert(hist.take(1) == Seq((2L, "restore")) && hist.size == 3,
      s"history must show the restore op on top of the bad wave: $hist")
    assert(LakeLayout.readLakeVersion(spark, t, 1L)
      .filter($"grp" === -1L).count() == 2000L,
      "time travel must still reach the bad commit across the restore")
    // vacuum to the restore + one: v0 (the restored-FROM version) is
    // dropped, but its files stay live because the restore manifest
    // references them — the read must not dangle
    LakeLayout.vacuumLake(spark, t, keep = 2)
    assert(LakeLayout.lakeVersions(spark, t) == Seq(1L, 2L))
    assert(LakeLayout.readLake(spark, t).get
      .orderBy($"id").collect().toSeq == v0Rows,
      "restored files must survive vacuum dropping the version they " +
        "were restored from")
  }
}
