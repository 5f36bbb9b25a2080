package graft

import graft.sources.{LakeLayout, LakeQueries}
import org.apache.spark.sql.functions._

class LakeLayoutSpec extends SparkSuite {

  import spark.implicits._

  test("z-order key matches a driver-side Morton reference on sampled rows") {
    val rows = LakeQueries.zorderKeyed(spark, sfDir)
      .select($"user_id", $"ts", $"zkey").limit(64).collect()
    // independent reference: textbook bit-by-bit interleave
    def interleave(a: Long, b: Long): Long = {
      var out = 0L
      for (i <- 0 until 16)
        out |= ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      out
    }
    val ev = LakeQueries.zorderKeyed(spark, sfDir)
      .agg(min($"user_id"), max($"user_id"), min($"ts"), max($"ts")).head()
    val (uLo, uHi, tLo, tHi) = (ev.getLong(0), ev.getLong(1), ev.getLong(2), ev.getLong(3))
    // the dual-path bin: multiply-scale small ranges so they FILL the
    // 16-bit space, step-divide huge (epoch-ns) ranges to avoid overflow
    def bin(v: Long, lo: Long, hi: Long): Long =
      if (hi - lo >= 2147483648L) (v - lo) / ((hi - lo) / 65536 + 1)
      else (v - lo) * 65535 / math.max(hi - lo, 1L)
    rows.foreach { r =>
      val want = interleave(
        bin(r.getLong(0), uLo, uHi), bin(r.getLong(1), tLo, tHi))
      assert(r.getLong(2) == want,
        s"zkey mismatch for (user=${r.getLong(0)}, ts=${r.getLong(1)})")
    }
  }

  test("schema evolution: mergeSchema unifies old and new layouts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/gen=1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "gen"))
    val old = merged.filter($"gen" === 1).collect().head
    assert(old.isNullAt(old.fieldIndex("v2")), "missing column must read as null")
    assert(merged.count() == 2)
  }

  test("ORC round-trip with explicit schema") {
    val out = java.nio.file.Files.createTempDirectory("graft-orc").toString + "/ev"
    val src = graft.sources.Tables.load(spark, sfDir, "events")
    src.write.orc(out)
    val back = spark.read
      .schema(graft.sources.Tables.schemaOf("events"))
      .orc(out)
    assert(back.count() == src.count())
    assert(back.schema == src.schema)
    val a = src.orderBy("event_id").limit(1).collect().head
    val b = back.orderBy("event_id").limit(1).collect().head
    assert(a == b)
  }

  test("CSV round-trip with explicit schema") {
    val out = java.nio.file.Files.createTempDirectory("graft-csv").toString + "/ev"
    val src = graft.sources.Tables.load(spark, sfDir, "events")
    src.write.option("header", "true").csv(out)
    val back = spark.read
      .schema(graft.sources.Tables.schemaOf("events"))
      .option("header", "true")
      .csv(out)
    assert(back.count() == src.count())
    assert(back.schema == src.schema)
    // spot-check a full row survives the text round-trip
    val a = src.orderBy("event_id").limit(1).collect().head
    val b = back.orderBy("event_id").limit(1).collect().head
    assert(a == b)
  }

  test("time travel and key-level diff across committed versions") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-tt").toString
    LakeLayout.commitLakeVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), table, "ck", 0L)
    LakeLayout.commitLakeVersion(
      Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v"), table, "ck", 1L)
    assert(LakeLayout.lakeVersions(spark, table) == Seq(0L, 1L))
    // as-of reads pin each committed state exactly
    assert(LakeLayout.readLakeVersion(spark, table, 0L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // diff: 2 updated, 3 deleted, 4 inserted, 1 untouched (absent)
    val diff = LakeLayout.lakeDiff(spark, table, 0L, 1L, "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "update", 3L -> "delete", 4L -> "insert"),
      s"got $diff")
    // a vacuumed version refuses loudly instead of resolving garbage
    LakeLayout.commitLakeVersion(
      Seq((1L, "a")).toDF("id", "v"), table, "ck", 2L)
    LakeLayout.vacuumLake(spark, table, keep = 2)
    intercept[IllegalArgumentException] {
      LakeLayout.readLakeVersion(spark, table, 0L)
    }
  }

  test("lake compaction republishes the same rows in fewer, key-clustered files") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // a fragmented version: 64 tiny files, the streaming-upsert shape
    LakeLayout.commitLakeVersion(
      spark.range(0, 2000).select($"id", ($"id" % 7).as("v"))
        .repartition(64),
      table, "ck", 0L)
    val before = LakeLayout.readLake(spark, table).get
    assert(before.inputFiles.length == 64)
    val v = LakeLayout.compactLake(spark, table, key = "id")
    assert(v == 1L)
    val after = LakeLayout.readLake(spark, table).get
    assert(after.inputFiles.length < 8,
      s"2000 tiny rows must compact to few files, got ${after.inputFiles.length}")
    assert(after.count() == 2000)
    // compaction moves bytes, not rows: the key-level diff is EMPTY
    assert(LakeLayout.lakeDiff(spark, table, 0L, 1L, "id").count() == 0L)
    // pre-compaction readers keep their version (immutable data dirs)
    assert(before.count() == 2000)
  }

  test("file-granular upsert rewrites only key-intersecting files, carries the rest by reference") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-filegran").toString
    // v0: 4 key-clustered files with disjoint ranges (the compacted shape)
    val base = spark.range(0, 4000).select($"id", ($"id" % 97).as("v"))
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(4, $"id").sortWithinPartitions($"id"),
      table, "ck", 0L, statsKey = Some("id"))
    val m0 = LakeLayout.latestLakeCommit(spark, table).get
    assert(m0.files.size == 4, s"want 4 ranged files, got ${m0.files.size}")
    assert(m0.files.forall(f => f.minKey.isDefined && f.maxKey.isDefined),
      "every file must carry key stats")
    def bytesOf(rel: String): (Long, Long) = {
      val st = new java.io.File(s"$table/$rel")
      (st.length(), st.lastModified())
    }
    val before = m0.files.map(f => f.path -> bytesOf(f.path)).toMap

    // batch: one update inside the lowest range + one pure insert past
    // every range
    val r1 = LakeLayout.upsertIntoLake(spark, table,
      Seq((5L, 1000L), (4200L, 2000L)).toDF("id", "v"), "id", "ck", 1L)
    assert(r1.filesRewritten == 1 && r1.filesCarried == 3,
      s"only the range containing key 5 may rewrite: $r1")
    assert(r1.bytesWritten < r1.tableBytes / 2,
      s"write amplification must be sub-table: $r1")
    val m1 = LakeLayout.latestLakeCommit(spark, table).get
    val carried = m1.files.map(_.path).toSet intersect m0.files.map(_.path).toSet
    assert(carried.size == 3, "3 of v0's files must appear in v1 verbatim")
    carried.foreach { p =>
      assert(bytesOf(p) == before(p), s"carried file $p must be byte-untouched")
    }
    // merged content is the batch-applied truth
    val got = LakeLayout.readLake(spark, table).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 4000L).map(i => i -> (i % 97)).toMap +
      (5L -> 1000L) + (4200L -> 2000L)
    assert(got == want)
    // the key-level diff across the commit is exactly the batch's effect
    val diff = LakeLayout.lakeDiff(spark, table, 0L, 1L, "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(5L -> "update", 4200L -> "insert"), s"got $diff")

    // a pure-insert batch (keys beyond every range) rewrites NOTHING
    val r2 = LakeLayout.upsertIntoLake(spark, table,
      Seq((9000L, 1L)).toDF("id", "v"), "id", "ck", 2L)
    assert(r2.filesRewritten == 0,
      s"keys outside every file range must touch no file: $r2")

    // vacuum is reference-counting, not per-version dir drops: v0's
    // carried files are referenced by live manifests and must survive
    // v0's manifest being dropped
    LakeLayout.vacuumLake(spark, table, keep = 2)
    intercept[IllegalArgumentException] {
      LakeLayout.readLakeVersion(spark, table, 0L)
    }
    carried.foreach { p =>
      assert(new java.io.File(s"$table/$p").isFile,
        s"carried file $p must survive vacuuming the version that wrote it")
    }
    val after = LakeLayout.readLake(spark, table).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == want + (9000L -> 1L), "vacuum must not change the live table")
  }

  test("partial compaction consolidates small files only; range reads prune by stats; delete is file-granular") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-partial").toString
    // v0: ONE large file (~8 MB, above the 1 MB small-file threshold
    // used below) holding keys 0..199999
    val bigDf = spark.range(0, 200000).select($"id",
      md5($"id".cast("string")).as("payload"))
    LakeLayout.commitLakeVersion(bigDf.coalesce(1), table, "ck", 0L,
      statsKey = Some("id"))
    val bigFile = LakeLayout.latestLakeCommit(spark, table).get.files match {
      case Seq(f) => f
      case other => fail(s"want one big file, got $other")
    }
    def statOf(rel: String): (Long, Long) = {
      val f = new java.io.File(s"$table/$rel")
      (f.length(), f.lastModified())
    }
    assert(statOf(bigFile.path)._1 > 1024 * 1024, "setup: file must exceed 1 MB")
    val bigStat = statOf(bigFile.path)

    // three small upsert batches → three fragments next to the big file
    for (b <- 1 to 3)
      LakeLayout.upsertIntoLake(spark, table,
        Seq((500000L + b, "x")).toDF("id", "payload"), "id", "ck", b.toLong)
    val frag = LakeLayout.latestLakeCommit(spark, table).get.files
    assert(frag.size == 4, s"big + 3 fragments, got ${frag.size}")

    // partial compaction: fragments consolidate, the big file is
    // carried byte-untouched (a full compaction would rewrite 8 MB)
    val v = LakeLayout.compactLakeSmallFiles(spark, table, "id",
      smallFileMB = 1)
    val compacted = LakeLayout.latestLakeCommit(spark, table).get
    assert(compacted.version == v)
    assert(compacted.files.map(_.path).contains(bigFile.path),
      "large file must carry by reference")
    assert(statOf(bigFile.path) == bigStat, "large file must be byte-untouched")
    assert(compacted.files.size == 2,
      s"3 fragments must consolidate to 1, got ${compacted.files.map(_.path)}")
    assert(LakeLayout.lakeDiff(spark, table, v - 1, v, "id").count() == 0L,
      "compaction moves bytes, not rows")
    // idempotent: a second pass has nothing to consolidate
    assert(LakeLayout.compactLakeSmallFiles(spark, table, "id",
      smallFileMB = 1) == v, "no-op when fewer than two small files")

    // stats-pruned range read: a key band inside the SMALL consolidated
    // file's range must not scan the 8 MB file
    val ranged = LakeLayout.readLakeKeyRange(spark, table, "id",
      500001L, 500003L).get
    assert(ranged.count() == 3)
    assert(ranged.inputFiles.length == 1 &&
      !ranged.inputFiles.head.contains(bigFile.path.split('/').last),
      s"range read must prune the non-intersecting large file: ${ranged.inputFiles.toSeq}")
    // and an empty band beyond every range reads nothing
    assert(LakeLayout.readLakeKeyRange(spark, table, "id",
      900000L, 900010L).get.count() == 0)
    // parity with the unpruned filter
    val full = LakeLayout.readLake(spark, table).get
      .filter($"id".between(500001L, 500003L))
    assert(ranged.exceptAll(full).count() == 0 &&
      full.exceptAll(ranged).count() == 0)

    // file-granular delete: keys in the small file only → the big file
    // carries again; deleted keys vanish; diff records the deletes
    val before = LakeLayout.readLake(spark, table).get.count()
    val r = LakeLayout.deleteFromLake(spark, table,
      Seq(500001L, 500002L).toDF("id"), "id", "ck-del", 99L)
    assert(r.filesRewritten == 1 && r.bytesWritten < bigStat._1 / 4,
      s"delete must rewrite only the small file: $r")
    assert(statOf(bigFile.path) == bigStat)
    assert(LakeLayout.readLake(spark, table).get.count() == before - 2)
    val diff = LakeLayout.lakeDiff(spark, table, r.version - 1, r.version, "id")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(diff == Map(500001L -> "delete", 500002L -> "delete"), s"got $diff")
    // a miss-everything delete publishes a no-op version
    val r2 = LakeLayout.deleteFromLake(spark, table,
      Seq(999999L).toDF("id"), "id", "ck-del", 100L)
    assert(r2.filesRewritten == 0 &&
      LakeLayout.readLake(spark, table).get.count() == before - 2)
  }

  test("manifest commits: versioned publish, crash-orphan safety, vacuum") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    assert(LakeLayout.readLake(spark, table).isEmpty, "no commit, no table")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val v0 = LakeLayout.commitLakeVersion(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table, "ckptA", 0L)
    assert(v0 == 0L)
    assert(rows(LakeLayout.readLake(spark, table).get) == Set((1L, "a"), (2L, "b")))

    // a reader that resolved v0 BEFORE the next commit still reads v0's
    // immutable data dir after it — the no-mixed-version property
    val pinnedV0 = LakeLayout.readLake(spark, table).get
    val v1 = LakeLayout.commitLakeVersion(
      Seq((1L, "A"), (3L, "c")).toDF("id", "v"), table, "ckptA", 1L)
    assert(v1 == 1L)
    assert(rows(pinnedV0) == Set((1L, "a"), (2L, "b")),
      "pre-commit reader keeps its version")
    assert(rows(LakeLayout.readLake(spark, table).get) == Set((1L, "A"), (3L, "c")),
      "post-commit reader sees the new version")
    assert(LakeLayout.latestLakeCommit(spark, table)
      .exists(c => c.checkpoint == "ckptA" && c.batchId == 1L),
      "provenance survives the manifest round-trip")

    // crash window: data dir written but manifest rename never happened —
    // readers are unaffected (orphan is unreferenced), and the retry
    // claims the same version number by overwriting the orphan
    Seq((9L, "orphan")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$table/data/v${"0" * 19}2")
    assert(rows(LakeLayout.readLake(spark, table).get) == Set((1L, "A"), (3L, "c")),
      "an uncommitted data dir must be invisible")
    val v2 = LakeLayout.commitLakeVersion(
      Seq((4L, "d")).toDF("id", "v"), table, "ckptA", 2L)
    assert(v2 == 2L, "retry reuses the orphaned version slot")
    assert(rows(LakeLayout.readLake(spark, table).get) == Set((4L, "d")))

    // vacuum keeps the newest 2 manifests + data dirs, drops the rest
    LakeLayout.vacuumLake(spark, table, keep = 2)
    val manifests = new java.io.File(s"$table/_commits").listFiles()
      .map(_.getName).filter(_.endsWith(".manifest")).sorted
    assert(manifests.length == 2 && manifests.last.contains("2"),
      s"want the 2 newest manifests, got ${manifests.mkString(",")}")
    val dataDirs = new java.io.File(s"$table/data").listFiles().map(_.getName)
    assert(dataDirs.length == 2, s"want 2 data dirs, got ${dataDirs.mkString(",")}")
    assert(rows(LakeLayout.readLake(spark, table).get) == Set((4L, "d")),
      "vacuum never touches the live version")
  }

  /** Run `body` for each writer id on its own thread behind one start
    * latch (maximal overlap), surfacing any worker throwable. */
  private def raceWriters(writerIds: Seq[String])(body: String => Unit): Unit = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writerIds.map { w =>
      new Thread(() => {
        start.await()
        try body(w)
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer failed: ${Option(errors.peek())}")
  }

  test("OCC: racing writers on disjoint keys all commit, none lost") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-occ1").toString
    val batchesPerWriter = 3
    raceWriters(Seq("wA", "wB")) { w =>
      val base = if (w == "wA") 0L else 50L
      (0 until batchesPerWriter).foreach { b =>
        val batch = (base until base + 50L).map(k => (k, s"$w-b$b")).toDF("id", "v")
        LakeLayout.upsertIntoLakeOcc(spark, table, batch, "id", w, b.toLong)
      }
    }
    val versions = LakeLayout.lakeVersions(spark, table)
    assert(versions == (0L until 2L * batchesPerWriter),
      s"version chain must be contiguous, got $versions")
    // every batch's provenance landed in exactly one live manifest
    for (w <- Seq("wA", "wB"); b <- 0 until batchesPerWriter) {
      assert(LakeLayout.lakeHasCommit(spark, table, w, b.toLong),
        s"commit ($w, $b) was lost")
      assert(versions.count { v =>
        val c = LakeLayout.lakeCommitAt(spark, table, v)
        c.checkpoint == w && c.batchId == b.toLong
      } == 1)
    }
    // last batch per writer wins on its own keys
    val got = LakeLayout.readLake(spark, table).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 100)
    assert(got(0L) == s"wA-b${batchesPerWriter - 1}")
    assert(got(99L) == s"wB-b${batchesPerWriter - 1}")
    // full serializability replay — this is what holds the REBASE fast
    // path (which only disjoint-key races can take; a rebased commit's
    // data dir is named for the version its merge originally targeted)
    // to the same contract as a clean publish, whenever it fired
    val rebased = versions.count { v =>
      val c = LakeLayout.lakeCommitAt(spark, table, v)
      "data/v(\\d+)-".r.findFirstMatchIn(c.dataDir)
        .exists(_.group(1).toLong != v)
    }
    info(s"rebased commits this run: $rebased/${versions.size}")
    versions.foldLeft(Map.empty[Long, String]) { (prev, v) =>
      val c = LakeLayout.lakeCommitAt(spark, table, v)
      val base = if (c.checkpoint == "wA") 0L else 50L
      val expected = prev ++
        (base until base + 50L).map(k => k -> s"${c.checkpoint}-b${c.batchId}")
      val cur = LakeLayout.readLakeVersion(spark, table, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(cur == expected,
        s"version $v (${c.checkpoint}, b${c.batchId}) diverges from replay")
      cur
    }
  }

  test("OCC: contended same-key writers serialize — history replays exactly") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-occ2").toString
    val keys = 0L until 20L
    def batchRows(w: String, b: Int): Seq[(Long, String)] =
      keys.map(k => (k, s"$w-b$b"))
    raceWriters(Seq("wA", "wB")) { w =>
      (0 until 3).foreach { b =>
        LakeLayout.upsertIntoLakeOcc(spark, table,
          batchRows(w, b).toDF("id", "v"), "id", w, b.toLong)
      }
    }
    val versions = LakeLayout.lakeVersions(spark, table)
    assert(versions == (0L until 6L), s"got $versions")
    // serializability: version v's table must equal version v-1's table
    // with exactly v's recorded batch upserted — for EVERY v
    def tableAt(v: Long): Map[Long, String] =
      LakeLayout.readLakeVersion(spark, table, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    versions.foldLeft(Map.empty[Long, String]) { (prev, v) =>
      val c = LakeLayout.lakeCommitAt(spark, table, v)
      val expected = prev ++ batchRows(c.checkpoint, c.batchId.toInt).toMap
      val got = tableAt(v)
      assert(got == expected,
        s"version $v (${c.checkpoint}, ${c.batchId}) diverges from replay")
      got
    }
    // replay detection scans all live versions, not just the latest
    assert(LakeLayout.lakeHasCommit(spark, table, "wA", 0L))
    assert(!LakeLayout.lakeHasCommit(spark, table, "wA", 99L))
  }

  test("schema evolution: evolving upsert adds a column, old files null-fill, history stays diffable") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    LakeLayout.commitLakeVersion(
      (0L until 8L).map(k => (k, s"v$k")).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"))

    // strict mode still rejects a widened batch
    val widened = Seq((0L, "V0", "W0"), (1L, "V1", "W1")).toDF("id", "v", "w")
    intercept[IllegalArgumentException] {
      LakeLayout.upsertIntoLake(spark, table, widened, "id", "ck", 1L)
    }

    val r1 = LakeLayout.upsertIntoLake(spark, table, widened, "id", "ck", 1L,
      evolveSchema = true)
    assert(r1.filesCarried >= 1,
      "evolution must not force a full rewrite: the untouched file carries")
    val cur = LakeLayout.readLake(spark, table).get
    assert(cur.columns.sameElements(Array("id", "v", "w")))
    val rows = cur.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(rows(0L) == (("V0", Some("W0"))) && rows(1L) == (("V1", Some("W1"))))
    (2L until 8L).foreach { k =>
      assert(rows(k) == ((s"v$k", None)),
        s"pre-evolution row $k must null-fill the new column")
    }

    // a NARROWER batch under the evolved schema null-fills the column
    LakeLayout.upsertIntoLake(spark, table, Seq((2L, "VV2")).toDF("id", "v"),
      "id", "ck", 2L, evolveSchema = true)
    val after = LakeLayout.readLake(spark, table).get.filter(col("id") === 2L).head()
    assert(after.getString(1) == "VV2" && after.isNullAt(2))

    // time travel reads each version under ITS schema
    assert(LakeLayout.readLakeVersion(spark, table, 0L).columns
      .sameElements(Array("id", "v")))

    // diff across the evolution boundary: exactly the touched keys
    def diff(a: Long, b: Long): Set[(Long, String)] =
      LakeLayout.lakeDiff(spark, table, a, b, "id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff(0L, 1L) == Set((0L, "update"), (1L, "update")))
    assert(diff(1L, 2L) == Set((2L, "update")))

    // shared-column type conflicts are rejected, not silently coerced
    intercept[IllegalArgumentException] {
      LakeLayout.upsertIntoLake(spark, table,
        Seq((3L, "x", 9)).toDF("id", "v", "w"), "id", "ck", 3L,
        evolveSchema = true)
    }

    // delete and partial compaction keep honoring the evolved schema
    LakeLayout.deleteFromLake(spark, table,
      Seq(Tuple1(7L)).toDF("id"), "id", "ck", 4L)
    LakeLayout.compactLakeSmallFiles(spark, table, "id", smallFileMB = 64)
    val fin = LakeLayout.readLake(spark, table).get
    assert(fin.columns.sameElements(Array("id", "v", "w")))
    assert(fin.count() == 7)
  }

  test("appendToLake: O(batch) append-only commits carry prior files by reference, keep duplicate keys") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-append").toString
    val r0 = LakeLayout.appendToLake(spark, table,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "log", 0L, Some("id"))
    assert(r0.version == 0L && r0.filesCarried == 0 && r0.filesAdded >= 1)
    val r1 = LakeLayout.appendToLake(spark, table,
      Seq((1L, "a2")).toDF("id", "v"), "log", 1L, Some("id"))
    assert(r1.filesCarried >= 1 && r1.filesRewritten == 0,
      "an append must never rewrite existing files")
    // every v0 file carried verbatim into v1's manifest
    val v0Paths = LakeLayout.lakeCommitAt(spark, table, 0L).files.map(_.path).toSet
    val v1Paths = LakeLayout.lakeCommitAt(spark, table, 1L).files.map(_.path).toSet
    assert(v0Paths.subsetOf(v1Paths), "append must carry all prior files by reference")
    // a log keeps duplicate keys — append is not upsert
    val got = LakeLayout.readLake(spark, table).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (1L, "a2")))
    // provenance recorded per append (the CDF pump's replay guard)
    assert(LakeLayout.lakeHasCommit(spark, table, "log", 1L))
    // a drifted batch schema is rejected — an append log never evolves silently
    intercept[IllegalArgumentException] {
      LakeLayout.appendToLake(spark, table,
        Seq((1L, "x", 1.0)).toDF("id", "v", "w"), "log", 2L)
    }
  }

  test("mergeIntoLake: update, insert, and delete clauses land in one atomic file-granular version") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-merge").toString
    LakeLayout.commitLakeVersion(
      (0L until 8L).map(k => (k, s"v$k", false)).toDF("id", "v", "del")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"))
    // source: update 1, delete 2, insert 100, delete-marked-unmatched 101
    val source = Seq(
      (1L, "UPD", false), (2L, "gone", true),
      (100L, "INS", false), (101L, "noop", true)).toDF("id", "v", "del")
    val r = LakeLayout.upsertIntoLake(spark, table, source, "id", "ck", 1L,
      deleteWhen = Some(col("del")))
    assert(r.version == 1L, "all three clauses in one committed version")
    assert(r.filesCarried >= 1,
      s"file holding keys 4-7 must carry by reference, got $r")
    val rows = LakeLayout.readLake(spark, table).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "UPD", "matched source row updates")
    assert(!rows.contains(2L), "delete-marked matched row is removed")
    assert(rows(100L) == "INS", "unmatched source row inserts")
    assert(!rows.contains(101L), "delete-marked unmatched key is a no-op")
    assert(rows.size == 8, s"0,1,3..7 + 100, got ${rows.keySet.toSeq.sorted}")
    // diff sees exactly the merge's effects
    val d = LakeLayout.lakeDiff(spark, table, 0L, 1L, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((1L, "update"), (2L, "delete"), (100L, "insert")))
  }

  test("string-keyed upsert stays file-granular: StrKey stats carry untouched files by reference") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-strkey").toString
    // md5-hex keys — the corpus norm (dedup keys on md5 doc ids)
    val base = spark.range(0, 4000)
      .select(md5($"id".cast("string")).as("k"), ($"id" % 97).as("v"))
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(4, $"k").sortWithinPartitions($"k"),
      table, "ck", 0L, statsKey = Some("k"))
    val m0 = LakeLayout.latestLakeCommit(spark, table).get
    assert(m0.files.size == 4, s"want 4 ranged files, got ${m0.files.size}")
    assert(m0.files.forall(f =>
        f.minKey.exists(_.isInstanceOf[LakeLayout.StrKey]) &&
        f.maxKey.exists(_.isInstanceOf[LakeLayout.StrKey])),
      "a string-keyed table must record STRING stats, not nulled longs")
    def bytesOf(rel: String): (Long, Long) = {
      val st = new java.io.File(s"$table/$rel")
      (st.length(), st.lastModified())
    }
    val before = m0.files.map(f => f.path -> bytesOf(f.path)).toMap
    // batch confined to the table's lowest keys — one file's range
    val lowKeys = base.orderBy($"k").limit(3).collect().map(_.getString(0))
    val r1 = LakeLayout.upsertIntoLake(spark, table,
      lowKeys.toSeq.map(k => (k, 1000L)).toDF("k", "v"), "k", "ck", 1L)
    assert(r1.filesCarried > 0,
      s"string stats must keep the upsert file-granular (carried=0 means " +
        s"every commit is an O(table) rewrite): $r1")
    assert(r1.filesRewritten == 1,
      s"3 keys inside one file's range may rewrite only that file: $r1")
    val m1 = LakeLayout.latestLakeCommit(spark, table).get
    val carried = m1.files.map(_.path).toSet intersect m0.files.map(_.path).toSet
    carried.foreach { p =>
      assert(bytesOf(p) == before(p), s"carried file $p must be byte-untouched")
    }
    // merged truth survives the string round-trip through the manifest
    val got = LakeLayout.readLake(spark, table).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 4000)
    lowKeys.foreach(k => assert(got(k) == 1000L))
    // string-band range read prunes at the manifest before the scan
    val all = LakeLayout.readLake(spark, table).get.inputFiles.length
    val band = LakeLayout.readLakeKeyRangeStr(spark, table, "k",
      lowKeys.min, lowKeys.max).get
    assert(band.inputFiles.length < all,
      s"StrKey pruning must hand Spark fewer than all $all files")
    assert(band.count() >= 3)
  }

  test("op-typed manifests: compact commits are skipped by CDF and incremental agg without reading data") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-optyped").toString
    LakeLayout.commitLakeVersion(
      (0L until 100L).map(k => (k, k % 7)).toDF("id", "v").repartition(8),
      table, "ck", 0L, statsKey = Some("id"))
    LakeLayout.upsertIntoLake(spark, table,
      Seq((5L, 999L), (200L, 1L)).toDF("id", "v"), "id", "ck", 1L)
    val vCompact = LakeLayout.compactLake(spark, table, "id")
    assert(vCompact == 2L)
    assert(LakeLayout.lakeCommitAt(spark, table, vCompact).op == "compact",
      "compaction must publish an op-typed (format:4) manifest")
    assert(LakeLayout.lakeCommitAt(spark, table, 1L).op == "data")
    // CDF: the compact version emits ZERO rows from ZERO data files —
    // the manifest type alone decides, no diff of the compacted bytes
    val ch = graft.streaming.CdfStream.changesForVersion(
      spark, table, vCompact, "id")
    assert(ch.inputFiles.isEmpty,
      "a compact version's change set must not open any data file")
    assert(ch.count() == 0L)
    assert(ch.columns.contains("_change") && ch.columns.contains("_version"))
    // data versions still emit through the normal path
    val ch1 = graft.streaming.CdfStream.changesForVersion(spark, table, 1L, "id")
    assert(ch1.count() == 2L)
    // incremental agg: advancing across a pure-compaction span returns
    // the state AS IS (same plan — no delta union stacked on top)
    val st1 = graft.operators.IncrementalAgg.fullAgg(
      LakeLayout.readLakeVersion(spark, table, 1L), "v", "id")
    val st2 = graft.operators.IncrementalAgg.advance(
      spark, table, st1, "v", "id", 1L, vCompact)
    assert(st2 eq st1, "a pure-compact span must short-circuit to prev")
    // delete commits are typed too — but stay visible to CDF
    LakeLayout.deleteFromLake(spark, table, Seq(Tuple1(5L)).toDF("id"),
      "id", "ck", 3L)
    assert(LakeLayout.lakeCommitAt(spark, table, 3L).op == "delete")
    assert(graft.streaming.CdfStream.changesForVersion(spark, table, 3L, "id")
      .count() == 1L, "delete commits change rows and must emit")
  }

  test("insert-path writes are sized by batch volume, not touched-file count") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-inssize").toString
    spark.conf.set("graft.lake.targetFileMB", "1")
    try {
      LakeLayout.commitLakeVersion(
        (0L until 100L).map(k => (k, "seed")).toDF("id", "payload").coalesce(1),
        table, "ck", 0L, statsKey = Some("id"))
      // pure-insert wave, ~8 MB of rows beyond every existing range:
      // rewrites nothing, but must NOT funnel through one task/file
      val wave = spark.range(10000, 210000)
        .select($"id", md5($"id".cast("string")).as("payload"))
      val r = LakeLayout.upsertIntoLake(spark, table, wave, "id", "ck", 1L)
      assert(r.filesRewritten == 0, s"pure insert touches nothing: $r")
      assert(r.filesAdded > 1,
        s"a multi-MB insert must spread across files (1-MB target): $r")
      // the new files' key ranges are tight and pairwise disjoint —
      // the property upsert touch-sets and OCC rebases ride on
      val newFiles = LakeLayout.lakeCommitAt(spark, table, 1L).files
        .filter(_.path.startsWith("data/v00000000000000000001"))
      val ranges = newFiles.flatMap(f => (f.minKey, f.maxKey) match {
        case (Some(LakeLayout.LongKey(a)), Some(LakeLayout.LongKey(b))) =>
          Some((a, b))
        case _ => None
      }).sorted
      assert(ranges.size == r.filesAdded)
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) =>
          assert(hi1 < lo2, s"file ranges must be disjoint: $ranges")
        case _ =>
      }
    } finally spark.conf.unset("graft.lake.targetFileMB")
  }

  test("OCC merge with deletes: contended two-writer history replays serializably") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-occmerge").toString
    LakeLayout.commitLakeVersion(
      (0L until 40L).map(k => (k, "base", false)).toDF("id", "v", "del")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"))
    // each writer's batch b: update its even keys, DELETE its odd keys,
    // insert one fresh key — overlapping bands force real contention
    def src(w: String, b: Int): Seq[(Long, String, Boolean)] = {
      val band = if (w == "wA") 0L until 20L else 10L until 30L
      band.map(k => (k, s"$w-b$b", k % 2 == 1)) :+
        ((1000L + (if (w == "wA") 0L else 100L) + b, s"$w-ins$b", false))
    }
    raceWriters(Seq("wA", "wB")) { w =>
      (0 until 3).foreach { b =>
        LakeLayout.upsertIntoLakeOcc(spark, table,
          src(w, b).toDF("id", "v", "del"), "id", w, b.toLong,
          deleteWhen = Some(col("del")))
      }
    }
    val versions = LakeLayout.lakeVersions(spark, table)
    assert(versions == (0L to 6L), s"got $versions")
    // serializable: every version = predecessor + its batch's 3 clauses
    def tableAt(v: Long): Map[Long, String] =
      LakeLayout.readLakeVersion(spark, table, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    versions.tail.foldLeft(tableAt(0L)) { (prev, v) =>
      val c = LakeLayout.lakeCommitAt(spark, table, v)
      val batch = src(c.checkpoint, c.batchId.toInt)
      val expected = (prev -- batch.filter(_._3).map(_._1)) ++
        batch.filterNot(_._3).map(t => t._1 -> t._2)
      val got = tableAt(v)
      assert(got == expected,
        s"version $v (${c.checkpoint}, b${c.batchId}) diverges from " +
          "sequential replay")
      got
    }
  }

  test("footer-derived key bounds equal Spark-computed truth, long and string keys") {
    // fileStats now reads per-file min/max from parquet footer chunk
    // statistics instead of a groupBy(input_file_name) job; this pins
    // the two sources byte-equal on representative tables (multi-file,
    // range-clustered, both key types) so a parquet-stats surprise
    // (dropped/reordered stats) surfaces as a failure here, not as a
    // silent pruning bug three layers up.
    import spark.implicits._
    def truthBounds(paths: Seq[String], key: String): Map[String, (Any, Any)] =
      spark.read.parquet(paths: _*)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(key)).as("lo"), max(col(key)).as("hi"))
        .collect()
        .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName,
          (r.get(1), r.get(2)))).toMap
    def check(table: String, key: String): Unit = {
      val c = LakeLayout.lakeCommitAt(spark, table,
        LakeLayout.lakeVersions(spark, table).last)
      assert(c.files.nonEmpty)
      val truth = truthBounds(
        c.files.map(f => s"$table/${f.path}"), key)
      c.files.foreach { f =>
        val name = f.path.split('/').last
        val (lo, hi) = truth(name)
        val (gotLo, gotHi) = (f.minKey.get, f.maxKey.get)
        (gotLo, gotHi) match {
          case (LakeLayout.StrKey(a), LakeLayout.StrKey(b)) =>
            assert(a == lo && b == hi, s"$name: ($a,$b) != ($lo,$hi)")
          case (LakeLayout.LongKey(a), LakeLayout.LongKey(b)) =>
            assert(a == lo && b == hi, s"$name: ($a,$b) != ($lo,$hi)")
          case other => fail(s"$name: unexpected bound types $other")
        }
      }
    }
    val root = java.nio.file.Files.createTempDirectory("graft-fstats")
    val tLong = s"$root/long"
    LakeLayout.commitLakeVersion(
      (0L until 5000L).map(k => (k * 7 % 5000, s"v$k")).toDF("id", "v")
        .repartitionByRange(5, col("id")).sortWithinPartitions(col("id")),
      tLong, "ck", 0L, statsKey = Some("id"))
    check(tLong, "id")
    val tStr = s"$root/str"
    LakeLayout.commitLakeVersion(
      spark.range(0L, 3000L)
        .select(md5(concat(lit("k"), col("id"))).as("doc_key"), col("id"))
        .repartitionByRange(4, col("doc_key"))
        .sortWithinPartitions(col("doc_key")),
      tStr, "ck", 0L, statsKey = Some("doc_key"))
    check(tStr, "doc_key")
  }

  test("OCC N=5: upsert + merge-delete + compact + dv-delete writers linearize; vacuum leaves no orphans") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-occ4").toString
    LakeLayout.commitLakeVersion(
      (0L until 40L).map(k => (k, "base", false)).toDF("id", "v", "del")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"))
    // overlapping key bands force real contention; wD compacts in the
    // middle of the storm via the OCC compaction path
    def upBatch(w: String, b: Int): Seq[(Long, String, Boolean)] = {
      val band = if (w == "wA") 0L until 25L else 15L until 40L
      band.map(k => (k, s"$w-b$b", false))
    }
    def mergeBatch(b: Int): Seq[(Long, String, Boolean)] =
      (10L until 30L).map(k => (k, s"wC-b$b", k % 2 == 1)) :+
        ((500L + b, s"wC-ins$b", false))
    // the dv writer deletes one contended key per batch (20+b sits in
    // every other writer's band) plus one never-present key — the
    // merge-on-read path racing rewrites exercises the rebase dv guard
    def deleteBatch(b: Int): Seq[Long] = Seq(20L + b, 600L + b)
    raceWriters(Seq("wA", "wB", "wC", "wD", "wE")) {
      case w @ ("wA" | "wB") =>
        (0 until 3).foreach { b =>
          LakeLayout.upsertIntoLakeOcc(spark, table,
            upBatch(w, b).toDF("id", "v", "del"), "id", w, b.toLong,
            maxAttempts = 16)
        }
      case "wC" =>
        (0 until 3).foreach { b =>
          LakeLayout.upsertIntoLakeOcc(spark, table,
            mergeBatch(b).toDF("id", "v", "del"), "id", "wC", b.toLong,
            maxAttempts = 16, deleteWhen = Some(col("del")))
        }
      case "wE" =>
        (0 until 3).foreach { b =>
          LakeLayout.deleteFromLakeDvOcc(spark, table,
            deleteBatch(b).toDF("id"), "id", "wE", b.toLong,
            maxAttempts = 16)
        }
      case _ =>
        (0 until 3).foreach { _ =>
          LakeLayout.compactLakeOcc(spark, table, "id", "wD",
            maxAttempts = 16, smallFileMB = 1024)
          Thread.sleep(30)
        }
    }
    val versions = LakeLayout.lakeVersions(spark, table)
    assert(versions.head == 0L &&
      versions == (versions.head to versions.last),
      s"version chain must be contiguous, got $versions")
    val compacts = versions.count(v =>
      LakeLayout.lakeCommitAt(spark, table, v).op == "compact")
    assert(versions.size == 13 + compacts,
      s"12 writer commits + $compacts compacts expected, got ${versions.size}")
    // every writer batch's provenance landed in exactly one version
    for (w <- Seq("wA", "wB", "wC", "wE"); b <- 0 until 3)
      assert(LakeLayout.lakeHasCommit(spark, table, w, b.toLong),
        s"commit ($w, $b) was lost")
    // full serializable replay across ALL four ops: compact versions
    // are identities, writer versions apply exactly their batch
    def tableAt(v: Long): Map[Long, String] =
      LakeLayout.readLakeVersion(spark, table, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    versions.tail.foldLeft(tableAt(0L)) { (prev, v) =>
      val c = LakeLayout.lakeCommitAt(spark, table, v)
      val expected =
        if (c.op == "compact") prev
        else if (c.checkpoint == "wE") prev -- deleteBatch(c.batchId.toInt)
        else if (c.checkpoint == "wC") {
          val batch = mergeBatch(c.batchId.toInt)
          (prev -- batch.filter(_._3).map(_._1)) ++
            batch.filterNot(_._3).map(t => t._1 -> t._2)
        } else prev ++ upBatch(c.checkpoint, c.batchId.toInt)
          .map(t => t._1 -> t._2)
      val got = tableAt(v)
      assert(got == expected,
        s"version $v (${c.checkpoint}, b${c.batchId}, op=${c.op}) " +
          "diverges from sequential replay")
      got
    }
    val finalState = tableAt(versions.last)
    // vacuum after the retry storm: lost OCC attempts orphaned data
    // dirs; the sweep must reclaim them all without touching a byte any
    // kept manifest references
    LakeLayout.vacuumLake(spark, table, keep = 2)
    assert(LakeLayout.readLake(spark, table).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == finalState,
      "vacuum must not change the visible table")
    val kept = LakeLayout.lakeVersions(spark, table)
    assert(kept.size == 2, s"keep=2 must leave two versions, got $kept")
    val keptCommits = kept.map(v => LakeLayout.lakeCommitAt(spark, table, v))
    val referenced = keptCommits.flatMap(_.files.map(_.path)).toSet
    // a live dv reference keeps its whole sidecar dir
    val refDvDirs = keptCommits.flatMap(_.files.flatMap(_.dv)).toSet
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    val onDisk = walk(new java.io.File(s"$table/data"))
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath.stripPrefix(
        new java.io.File(table).getAbsolutePath + "/"))
    val orphans = onDisk.filterNot(p => referenced.contains(p) ||
      refDvDirs.exists(d => p.startsWith(d + "/")))
    assert(orphans.isEmpty,
      s"manifest orphans survived vacuum: ${orphans.take(5)}")
  }

  test("OCC: schema evolution racing an in-flight merge — loser recomputes on the new schema") {
    // tryRebase's fast path re-points result files at the winner's
    // snapshot WITHOUT recomputing — legal only when the schemas match.
    // Here the writers' keys are fully DISJOINT, so key-wise the rebase
    // would always be eligible: if the schemaOk guard ever regressed,
    // the merge writer's pre-evolve attempt (2-column schemaJson) would
    // publish as a version AFTER the evolve and readers honoring the
    // manifest schema would silently drop the new column. The
    // assertions therefore pin: every post-evolve manifest carries the
    // evolved schema, and the final state equals the serializable
    // replay.
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-occ-evo").toString
    LakeLayout.commitLakeVersion(
      (0L until 40L).map(k => (k, "base", false)).toDF("id", "v", "del")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"))
    def mergeBatch(b: Int): Seq[(Long, String, Boolean)] =
      (30L until 40L).map(k => (k, s"wB-b$b", k % 2 == 1))
    raceWriters(Seq("wE", "wB")) {
      case "wE" =>
        LakeLayout.upsertIntoLakeOcc(spark, table,
          (0L until 10L).map(k => (k, "evolved", false, k * 10))
            .toDF("id", "v", "del", "extra"),
          "id", "wE", 0L, maxAttempts = 16, evolveSchema = true)
      case _ =>
        (0 until 3).foreach { b =>
          // evolveSchema=true on the merge side too: a batch whose
          // columns are a SUBSET of an evolved table is the normal
          // shape for a writer that raced an evolution — its recompute
          // null-fills the new column
          LakeLayout.upsertIntoLakeOcc(spark, table,
            mergeBatch(b).toDF("id", "v", "del"), "id", "wB", b.toLong,
            maxAttempts = 16, evolveSchema = true,
            deleteWhen = Some(col("del")))
        }
    }
    val versions = LakeLayout.lakeVersions(spark, table)
    assert(versions == (0L to 4L), s"expected v0..v4, got $versions")
    assert(LakeLayout.lakeHasCommit(spark, table, "wE", 0L))
    (0 until 3).foreach(b =>
      assert(LakeLayout.lakeHasCommit(spark, table, "wB", b.toLong)))
    def fieldsAt(v: Long): Set[String] =
      LakeLayout.lakeCommitAt(spark, table, v).schema.fieldNames.toSet
    val vEvolve = versions.find(v =>
      LakeLayout.lakeCommitAt(spark, table, v).checkpoint == "wE").get
    versions.filter(_ > vEvolve).foreach { v =>
      assert(fieldsAt(v).contains("extra"),
        s"version $v (after the evolve at v$vEvolve) lost the evolved " +
          "column — a stale-schema rebase slipped through")
    }
    // serializable replay over (id -> (v, extra)), any interleaving
    def tableAt(v: Long): Map[Long, (String, Option[Long])] =
      LakeLayout.readLakeVersion(spark, table, v).collect().map { r =>
        val extra = if (r.schema.fieldNames.contains("extra") &&
            !r.isNullAt(r.fieldIndex("extra")))
          Some(r.getLong(r.fieldIndex("extra"))) else None
        r.getLong(r.fieldIndex("id")) ->
          ((r.getString(r.fieldIndex("v")), extra))
      }.toMap
    versions.tail.foldLeft(tableAt(0L)) { (prev, v) =>
      val c = LakeLayout.lakeCommitAt(spark, table, v)
      val expected =
        if (c.checkpoint == "wE")
          prev ++ (0L until 10L).map(k => k -> (("evolved", Some(k * 10))))
        else {
          val batch = mergeBatch(c.batchId.toInt)
          (prev -- batch.filter(_._3).map(_._1)) ++
            batch.filterNot(_._3).map(t => t._1 -> ((t._2, None)))
        }
      val got = tableAt(v)
      assert(got == expected,
        s"version $v (${c.checkpoint}, b${c.batchId}) diverges from " +
          "sequential replay")
      got
    }
    // the STRICT contract still fails loudly: a writer that never opted
    // into evolution must not silently null-fill a column it has never
    // heard of
    val e = intercept[IllegalArgumentException] {
      LakeLayout.upsertIntoLake(spark, table,
        Seq((7L, "strict", false)).toDF("id", "v", "del"), "id", "ck", 99L)
    }
    assert(e.getMessage.contains("identical column sets"))
  }

  test("string-keyed endurance: 21 batches, compactions, concurrent pruned reader") {
    // The StrKey twin of the round-10 long-key endurance drive: 21
    // upsert batches on an md5-keyed table with compaction + vacuum
    // interleaved and a concurrent reader exercising the StrKey-pruned
    // range path the whole time. Pure-insert batches use keys BEYOND
    // every hex range ("zz-…" > "f…"), the string edition of the
    // provably-rewrites-nothing class — they must carry every prior
    // file by reference even immediately after a compaction.
    val root = java.nio.file.Files.createTempDirectory("graft-endure-str")
    val lake = s"$root/lake"
    def md5Keyed(ids: Seq[Long], tag: String) =
      ids.toDF("id")
        .select(md5(concat(lit("k"), col("id"))).as("doc_key"),
          col("id"), lit(tag).as("tag"))
    def zzKeyed(names: Seq[String], tag: String) =
      names.toDF("doc_key")
        .select(col("doc_key"), lit(-1L).as("id"), lit(tag).as("tag"))
    val truth = scala.collection.mutable.Map.empty[String, String]
    def md5Of(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"k$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    LakeLayout.commitLakeVersion(
      md5Keyed(0L until 500L, "base")
        .repartitionByRange(6, col("doc_key"))
        .sortWithinPartitions(col("doc_key")),
      lake, "endure", 0L, statsKey = Some("doc_key"))
    (0L until 500L).foreach(i => truth(md5Of(i)) = "base")

    @volatile var done = false
    @volatile var readerError: Option[Throwable] = None
    var reads = 0L
    val reader = new Thread(() => {
      while (!done && readerError.isEmpty) {
        try LakeLayout.readLakeKeyRangeStr(spark, lake, "doc_key", "4", "8")
          .foreach { df => df.count(); reads += 1 }
        catch { case t: Throwable => readerError = Some(t) }
      }
    })
    reader.start()
    try {
      for (b <- 1 to 20) {
        if (b % 2 == 1) {
          val ids = (b * 13L) until (b * 13L + 5L)
          val extra = f"zz-$b%03d"
          // version numbers run ahead of b once compactions interleave
          // their own commits — only the provenance (checkpoint, batch)
          // pair is pinned to b
          LakeLayout.upsertIntoLake(spark, lake,
            md5Keyed(ids, s"u$b").unionByName(zzKeyed(Seq(extra), s"u$b")),
            "doc_key", "endure", b.toLong)
          ids.foreach(i => truth(md5Of(i)) = s"u$b")
          truth(extra) = s"u$b"
        } else {
          val names = (0 until 3).map(i => f"zz-$b%03d-$i")
          val r = LakeLayout.upsertIntoLake(spark, lake,
            zzKeyed(names, s"i$b"), "doc_key", "endure", b.toLong)
          assert(r.filesRewritten == 0,
            s"batch $b is beyond every key range — must rewrite nothing " +
              s"(rewrote ${r.filesRewritten})")
          assert(r.filesCarried > 0,
            s"batch $b must carry all prior files by reference " +
              "(including right after a compaction)")
          names.foreach(n => truth(n) = s"i$b")
        }
        if (b % 7 == 0) {
          LakeLayout.compactLakeSmallFiles(spark, lake, "doc_key")
          LakeLayout.vacuumLake(spark, lake, keep = 2)
        }
      }
    } finally {
      done = true
      reader.join(30000)
    }
    assert(readerError.isEmpty,
      s"concurrent pruned reader must never throw: ${readerError.map(_.toString)}")
    assert(reads > 0, "reader must have completed pruned reads during the drive")
    // converged to the batch truth
    val got = LakeLayout.readLake(spark, lake).get
      .select(col("doc_key"), col("tag")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == truth.toMap,
      "string-keyed endurance drive must converge to the batch truth")
    // consecutive versions still share files by reference at the end
    val last2 = LakeLayout.lakeVersions(spark, lake).takeRight(2)
    val shared = last2.map(v =>
      LakeLayout.readLakeVersion(spark, lake, v).inputFiles.toSet)
      .reduce(_ intersect _)
    assert(shared.nonEmpty,
      "consecutive versions must share carried files by reference")
  }

  test("Z-ordered lake commit prunes range reads to strict file subsets on BOTH dimensions") {
    import graft.sources.Tables
    val table = java.nio.file.Files.createTempDirectory("graft-2dim").toString
    // events Z-ordered on (user_id, ts); BOTH dims' bounds recorded
    // from one footer pass
    LakeLayout.commitLakeVersion(
      LakeQueries.zorderKeyed(spark, sfDir)
        .repartitionByRange(8, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .drop("zkey", "u_bin", "t_bin"),
      table, "ck", 0L, statsKey = Some("user_id"), tsStatsKey = Some("ts"))
    val files = LakeLayout.latestLakeCommit(spark, table).get.files
    assert(files.size == 8)
    assert(files.forall(f => f.minKey.isDefined && f.minTs.isDefined),
      s"both dimensions must carry bounds: $files")
    val ev = Tables.load(spark, sfDir, "events")
    val ext = ev.agg(min(col("user_id")), max(col("user_id")),
      min(col("ts")), max(col("ts"))).head()
    val (uLo, uHi) = (ext.getLong(0), ext.getLong(1))
    val (tLo, tHi) = (ext.getLong(2), ext.getLong(3))
    // narrow band on each axis (bottom eighth): a Z-ordered layout
    // must localize it to a strict subset of the 8 files
    val keyRead = LakeLayout.readLakeKeyRange(spark, table, "user_id",
      uLo, uLo + (uHi - uLo) / 8).get
    assert(keyRead.inputFiles.length < 8 && keyRead.inputFiles.nonEmpty,
      s"key-band read must scan a strict subset: ${keyRead.inputFiles.length}")
    val tsRead = LakeLayout.readLakeTsRange(spark, table, "ts",
      tLo, tLo + (tHi - tLo) / 8).get
    assert(tsRead.inputFiles.length < 8 && tsRead.inputFiles.nonEmpty,
      s"ts-band read must scan a strict subset: ${tsRead.inputFiles.length}")
    // pruning must be invisible in the results
    assert(keyRead.count() ==
      ev.filter(col("user_id").between(uLo, uLo + (uHi - uLo) / 8)).count())
    assert(tsRead.count() ==
      ev.filter(col("ts").between(tLo, tLo + (tHi - tLo) / 8)).count())
  }

  test("optimizeLakeZOrderOcc: identity rewrite makes both axes prunable; CDF takes the compact skip") {
    import graft.sources.Tables
    val table = java.nio.file.Files.createTempDirectory("graft-zopt").toString
    val ev = Tables.load(spark, sfDir, "events")
    // ingest shape: key-clustered (what upsert rewrites produce) —
    // user axis prunable, time axis scattered across EVERY file
    LakeLayout.commitLakeVersion(
      ev.repartitionByRange(8, col("user_id"))
        .sortWithinPartitions(col("user_id")),
      table, "ck", 0L, statsKey = Some("user_id"), tsStatsKey = Some("ts"))
    val ext = ev.agg(min($"user_id"), max($"user_id"),
      min($"ts"), max($"ts")).head()
    val (uLo, uHi, tLo, tHi) =
      (ext.getLong(0), ext.getLong(1), ext.getLong(2), ext.getLong(3))
    val tsBandHi = tLo + (tHi - tLo) / 8
    val preFiles = LakeLayout.readLakeTsRange(spark, table, "ts", tLo, tsBandHi)
      .get.inputFiles.length
    assert(preFiles >= 7,
      s"pre-optimize a ts band must scatter over ~all 8 files, got $preFiles")
    val v = LakeLayout.optimizeLakeZOrderOcc(
      spark, table, "user_id", "ts", "opt", minFiles = 8)
    assert(v == 1L)
    // row identity — the rewrite moves bytes, never rows
    val beforeRows = ev.orderBy($"event_id").collect()
    val afterRows = LakeLayout.readLakeVersion(spark, table, v)
      .orderBy($"event_id").collect()
    assert(beforeRows.sameElements(afterRows),
      "OPTIMIZE must be row-identity")
    // BOTH axes now prune to strict subsets
    val nAll = LakeLayout.latestLakeCommit(spark, table).get.files.size
    assert(nAll >= 4, s"rewrite should split into several files, got $nAll")
    val tsRead = LakeLayout.readLakeTsRange(spark, table, "ts", tLo, tsBandHi).get
    assert(tsRead.inputFiles.length < nAll && tsRead.inputFiles.nonEmpty,
      s"post-optimize ts band must prune: ${tsRead.inputFiles.length}/$nAll")
    assert(tsRead.count() == ev.filter($"ts".between(tLo, tsBandHi)).count())
    val keyRead = LakeLayout.readLakeKeyRange(spark, table, "user_id",
      uLo, uLo + (uHi - uLo) / 8).get
    assert(keyRead.inputFiles.length < nAll && keyRead.inputFiles.nonEmpty,
      s"post-optimize key band must still prune: ${keyRead.inputFiles.length}/$nAll")
    assert(keyRead.count() ==
      ev.filter($"user_id".between(uLo, uLo + (uHi - uLo) / 8)).count())
    // op-typed CDF skip: the rewrite is identity BY MANIFEST TYPE — the
    // change feed emits zero rows without touching data files
    val d = graft.streaming.CdfStream.changesForVersion(spark, table, v, "user_id")
    assert(d.count() == 0, "OPTIMIZE version must emit an empty change set")
    // a string axis is rejected loudly, not silently null-binned
    val e = intercept[IllegalArgumentException] {
      LakeLayout.optimizeLakeZOrderOcc(spark, table, "user_id", "event_type", "opt")
    }
    assert(e.getMessage.contains("long-castable"))
  }

  test("optimizeLakeZOrderOcc: one far-outlier key cannot destroy binning locality (percentile-clamped extents)") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-zoutlier").toString
    // 16k clustered keys + ONE key ~4e12 away. Raw min/max extents
    // would stretch the 16-bit key bins so every normal key lands in
    // bin 0 — zero key locality, a middle band then hits every file.
    // The 0.1%/99.9% clamp bins against the bulk; the outlier
    // saturates into the top bin and only degrades ITS OWN file.
    val outlier = 4000000000000L
    val rows = (0L until 16000L).map(id => (id, (id * 7919) % 16000, id % 97)) :+
      ((outlier, 8000L, 0L))
    LakeLayout.commitLakeVersion(
      rows.toDF("k", "t", "payload")
        .repartitionByRange(8, $"k").sortWithinPartitions($"k"),
      table, "ck", 0L, statsKey = Some("k"), tsStatsKey = Some("t"))
    val v = LakeLayout.optimizeLakeZOrderOcc(
      spark, table, "k", "t", "opt", minFiles = 8)
    assert(v == 1L)
    val nAll = LakeLayout.latestLakeCommit(spark, table).get.files.size
    assert(nAll >= 8, s"rewrite should split into >=8 files, got $nAll")
    // the middle key band must prune to a strict file subset DESPITE
    // the outlier having been in the binning population
    val band = LakeLayout.readLakeKeyRange(spark, table, "k", 6000L, 8000L).get
    assert(band.inputFiles.length < nAll && band.inputFiles.nonEmpty,
      s"middle band must prune: ${band.inputFiles.length}/$nAll files")
    assert(band.count() == 2001)
    // the ts axis keeps its locality too
    val tband = LakeLayout.readLakeTsRange(spark, table, "t", 0L, 2000L).get
    assert(tband.inputFiles.length < nAll,
      s"ts band must prune: ${tband.inputFiles.length}/$nAll files")
    // the saturated outlier is still present, exactly once, and a
    // point lookup for it touches few files (its file's TRUE bounds,
    // not the bins, drive pruning)
    val point = LakeLayout.readLakeKeyRange(spark, table, "k",
      outlier, outlier).get
    assert(point.count() == 1)
    assert(point.inputFiles.length < nAll,
      s"outlier lookup must prune: ${point.inputFiles.length}/$nAll")
    assert(LakeLayout.readLake(spark, table).get.count() == 16001L)
  }

  test("optimizeLakeZOrderOcc: a THIRD axis clusters at the parquet layer — per-file extents shrink where the 2-axis interleave scatters them") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-z3").toString
    // three ~independent axes over coprime moduli: no 2-axis interleave
    // can accidentally cluster the third
    val rows = (0L until 24000L)
      .map(i => (i % 97, (i * 31) % 89, (i * 57) % 83, i))
      .toDF("a", "b", "c", "row_id")
    LakeLayout.commitLakeVersion(
      rows.repartitionByRange(8, $"a").sortWithinPartitions($"a"),
      table, "ck", 0L, statsKey = Some("a"), tsStatsKey = Some("b"))
    def meanExtent(colName: String): Double =
      LakeLayout.readLake(spark, table).get
        .withColumn("__f", input_file_name())
        .groupBy($"__f")
        .agg((max(col(colName)) - min(col(colName))).as("ext"))
        .agg(avg($"ext")).head().getDouble(0)
    // 2-axis interleave on (a, b): c scatters — every file spans ~the
    // whole c domain
    LakeLayout.optimizeLakeZOrderOcc(spark, table, "a", "b", "opt",
      minFiles = 64)
    val extC2 = meanExtent("c")
    assert(extC2 > 60.0,
      s"2-axis z-order must scatter the third axis (domain 0..82): $extC2")
    // 3-axis interleave: c now clusters — the parquet row-group/page
    // stats a pushed c-filter prunes on are tight within each file
    LakeLayout.optimizeLakeZOrderOcc(spark, table, Seq("a", "b", "c"),
      "opt", 8, 128, 64)
    val extC3 = meanExtent("c")
    assert(extC3 < 0.6 * extC2,
      s"3-axis z-order must cluster the third axis: $extC3 vs 2-axis $extC2")
    // the first two axes keep (coarser) locality — resolution per axis
    // narrows as axes multiply, it must not vanish
    assert(meanExtent("a") < 80.0 && meanExtent("b") < 80.0,
      s"first axes keep locality: a=${meanExtent("a")} b=${meanExtent("b")}")
    // row identity
    assert(LakeLayout.readLake(spark, table).get.count() == 24000L &&
      LakeLayout.readLake(spark, table).get.agg(sum($"row_id")).head()
        .getLong(0) == (0L until 24000L).sum,
      "OPTIMIZE must be row-identity")
    // the SQL surface lowers the N-column list (file-count knobs stay
    // API-side, so only the lowering is asserted here)
    graft.sources.LakeSql.register(spark, "z3_t", table)
    val vBefore = LakeLayout.lakeVersions(spark, table).max
    graft.sources.LakeSql.sql(spark, "OPTIMIZE z3_t ZORDER BY (a, b, c)")
    assert(LakeLayout.lakeVersions(spark, table).max == vBefore + 1,
      "SQL OPTIMIZE ZORDER with a 3-column list must commit a version")
    assert(LakeLayout.readLake(spark, table).get.count() == 24000L)
    // duplicate axes fail loudly
    val e = intercept[IllegalArgumentException] {
      LakeLayout.optimizeLakeZOrderOcc(spark, table,
        Seq("a", "a"), "opt", 8, 128, 1)
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("readLakeAxisRange: axis-3 bounds recorded at OPTIMIZE time prune whole FILES, survive the manifest round-trip, and stay conservative on later writes") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-zax").toString
    // same coprime-moduli corpus as the 3-axis clustering test: the
    // third axis is independent of the first two, so only its OWN
    // recorded bounds can prune it
    val rows = (0L until 24000L)
      .map(i => (i % 97, (i * 31) % 89, (i * 57) % 83, i))
      .toDF("a", "b", "c", "row_id")
    LakeLayout.commitLakeVersion(
      rows.repartitionByRange(8, $"a").sortWithinPartitions($"a"),
      table, "ck", 0L, statsKey = Some("a"), tsStatsKey = Some("b"))
    // BEFORE the 3-axis optimize: no axis stats exist — a c-band read
    // must conservatively scan every file (correct, just unpruned)
    val pre = LakeLayout.readLakeAxisRange(spark, table, "c", 0L, 7L).get
    val preAll = LakeLayout.latestLakeCommit(spark, table).get.files.size
    assert(pre.inputFiles.length == preAll,
      s"without recorded axis bounds every file is a candidate: " +
        s"${pre.inputFiles.length}/$preAll")
    assert(pre.count() == rows.filter($"c".between(0, 7)).count())
    LakeLayout.optimizeLakeZOrderOcc(spark, table, Seq("a", "b", "c"),
      "opt", 8, 128, 64)
    val cur = LakeLayout.latestLakeCommit(spark, table).get
    val nAll = cur.files.size
    assert(nAll >= 16, s"optimize should split into many files, got $nAll")
    // every optimized file carries a named bound for the third axis,
    // and it SURVIVED a real manifest write+parse round trip (the
    // commit above was published and re-resolved from disk)
    assert(cur.files.forall(_.axes.exists(_._1 == "c")),
      "OPTIMIZE must record axis-3 bounds in the manifest")
    // a narrow c band now prunes to a strict file subset FROM THE
    // MANIFEST — the before/after pair the r22 plan dumps capture
    val band = LakeLayout.readLakeAxisRange(spark, table, "c", 0L, 7L).get
    assert(band.inputFiles.length < nAll && band.inputFiles.nonEmpty,
      s"axis-3 band must prune files: ${band.inputFiles.length}/$nAll")
    assert(band.count() == rows.filter($"c".between(0, 7)).count(),
      "pruning must be invisible in the results")
    // exactness at the bin edges: a one-value band
    val one = LakeLayout.readLakeAxisRange(spark, table, "c", 42L, 42L).get
    assert(one.count() == rows.filter($"c" === 42).count())
    // a later non-OPTIMIZE write carries no axis bounds: its files are
    // always candidates, results stay exact
    LakeLayout.appendToLake(spark, table,
      Seq((200L, 200L, 200L, 99999L)).toDF("a", "b", "c", "row_id"),
      "ck", 2L, statsKey = Some("a"))
    val after = LakeLayout.readLakeAxisRange(spark, table, "c", 0L, 7L).get
    assert(after.count() == rows.filter($"c".between(0, 7)).count(),
      "appended stat-less files must stay candidates, not vanish")
    val hit = LakeLayout.readLakeAxisRange(spark, table, "c", 200L, 200L).get
    assert(hit.count() == 1L, "the appended row must be readable")
  }

  test("optimizeLakeZOrderOcc racing an ingest writer: loser recomputes, final state serializable") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-zoptrace").toString
    LakeLayout.commitLakeVersion(
      (0L until 400L).map(k => (k, k * 7 % 1000, "base")).toDF("id", "t", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      table, "ck", 0L, statsKey = Some("id"), tsStatsKey = Some("t"))
    raceWriters(Seq("wZ", "wI")) {
      case "wZ" =>
        LakeLayout.optimizeLakeZOrderOcc(spark, table, "id", "t", "wZ",
          maxAttempts = 16, targetFileMB = 1)
      case _ =>
        LakeLayout.upsertIntoLakeOcc(spark, table,
          (350L until 420L).map(k => (k, k * 7 % 1000, "upd")).toDF("id", "t", "v"),
          "id", "wI", 0L, maxAttempts = 16)
    }
    val versions = LakeLayout.lakeVersions(spark, table)
    assert(versions == (0L to 2L), s"both writers must commit: $versions")
    assert(LakeLayout.lakeHasCommit(spark, table, "wI", 0L))
    // whichever order won, OPTIMIZE is identity: final state == base ⊕ upsert
    val got = LakeLayout.readLakeVersion(spark, table, 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val want = ((0L until 350L).map(k => k -> ((k * 7 % 1000, "base"))) ++
      (350L until 420L).map(k => k -> ((k * 7 % 1000, "upd")))).toMap
    assert(got == want, "final table must equal base with the upsert applied")
  }

  test("timestamp-keyed upsert: footer bounds use cast-to-long (epoch-seconds) semantics, not raw micros") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-tskey").toString
    // TimestampType key: parquet stores INT64 TIMESTAMP(MICROS), but the
    // pruning side compares cast(key as long) = epoch-SECONDS. Raw-micros
    // footer bounds would be ~1e6× every batch key, judge every file
    // non-intersecting, and silently carry stale rows through the merge.
    val epochSec = 1700000000L
    val base = spark.range(0, 100).select(
      timestamp_seconds(lit(epochSec) + $"id").as("k"), $"id".as("v"))
    // write INT64 TIMESTAMP(MICROS) — the modern parquet encoding (the
    // INT96 legacy default carries no usable stats and degrades to
    // never-pruned either way)
    val priorTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try LakeLayout.commitLakeVersion(
      base.repartitionByRange(2, $"k").sortWithinPartitions($"k"),
      table, "ck", 0L, statsKey = Some("k"))
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", priorTsType)
    val m0 = LakeLayout.latestLakeCommit(spark, table).get
    assert(m0.files.size == 2)
    // bounds must be in SECONDS (cast semantics), not micros
    val los = m0.files.flatMap(_.minKey).collect {
      case LakeLayout.LongKey(x) => x
    }
    assert(los.size == 2, s"timestamp key must keep LongKey stats: ${m0.files}")
    assert(los.min == epochSec,
      s"min bound must be epoch-seconds ($epochSec), got ${los.min}")
    // update one key in the low file's range: it MUST be touched
    val upd = spark.range(5, 6).select(
      timestamp_seconds(lit(epochSec) + $"id").as("k"),
      lit(9999L).as("v"))
    val r1 = LakeLayout.upsertIntoLake(spark, table, upd, "k", "ck", 1L)
    assert(r1.filesRewritten == 1 && r1.filesCarried == 1,
      s"the file holding key 5 must rewrite, the other carry: $r1")
    val got = LakeLayout.readLake(spark, table).get
      .select(unix_timestamp($"k").as("ks"), $"v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 100, s"upsert must not duplicate rows: ${got.size}")
    assert(got(epochSec + 5) == 9999L, "the updated key must carry the new value")
    (0L until 100L).filter(_ != 5).foreach(i =>
      assert(got(epochSec + i) == i, s"untouched key $i must keep its value"))
  }

  test("decimal-keyed commit degrades to statless bounds (conservatively touched), upsert stays correct") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-deckey").toString
    // DECIMAL(10,2) stores unscaled ints — no cast-to-long conversion
    // exists, so bounds must be unknown (never-pruned), never raw.
    val base = spark.range(0, 50).select(
      ($"id" / 4).cast("decimal(10,2)").as("k"), $"id".as("v"))
    LakeLayout.commitLakeVersion(
      base.repartitionByRange(2, $"k").sortWithinPartitions($"k"),
      table, "ck", 0L, statsKey = Some("k"))
    val m0 = LakeLayout.latestLakeCommit(spark, table).get
    assert(m0.files.forall(f => f.minKey.isEmpty && f.maxKey.isEmpty),
      s"decimal keys must yield unknown bounds, got ${m0.files}")
    val upd = spark.range(1).select(
      lit("1.25").cast("decimal(10,2)").as("k"), lit(777L).as("v"))
    val r1 = LakeLayout.upsertIntoLake(spark, table, upd, "k", "ck", 1L)
    assert(r1.filesRewritten == 2,
      s"statless files are all conservatively touched: $r1")
    val got = LakeLayout.readLake(spark, table).get.collect()
      .map(r => r.getDecimal(0).toPlainString -> r.getLong(1)).toMap
    assert(got.size == 50, s"no duplicates: ${got.size}")
    assert(got("1.25") == 777L)
  }

  test("cluster-preserving maintenance: the persisted cluster axis keeps both axes prunable through plain maintenance; an undeclared table decays") {
    import spark.implicits._
    def mkTable(declare: Boolean): String = {
      val t = java.nio.file.Files.createTempDirectory("graft-zmaint").toString
      val rows = (0L until 16000L).map(id => (id, (id * 7919) % 16000, id % 97))
      LakeLayout.commitLakeVersion(
        rows.toDF("k", "t", "payload")
          .repartitionByRange(8, $"k").sortWithinPartitions($"k"),
        t, "ck", 0L, statsKey = Some("k"),
        tsStatsKey = if (declare) Some("t") else None)
      if (declare)
        LakeLayout.optimizeLakeZOrderOcc(spark, t, "k", "t", "opt",
          minFiles = 8)
      // fragment with small ingest waves (what streaming upserts do)
      (1L to 3L).foreach { b =>
        LakeLayout.upsertIntoLake(spark, t,
          (b * 100 until b * 100 + 50)
            .map(id => (id, (id * 7919) % 16000, -b)).toDF("k", "t", "payload"),
          "k", "ck", b)
      }
      t
    }
    def tsBandFiles(t: String): (Int, Int) = {
      val n = LakeLayout.latestLakeCommit(spark, t).get.files.size
      (LakeLayout.readLakeTsRange(spark, t, "t", 0L, 2000L).get
        .inputFiles.length, n)
    }
    // DECLARED table (OPTIMIZE persisted the axis as a table
    // property): mid-ingest upserts already re-recorded ts bounds on
    // their rewrites, and PLAIN maintenance — no tsCluster argument —
    // carries the property and keeps both axes prunable. This is the
    // round-16 contract: schedulers need not know the table's history.
    val t1 = mkTable(declare = true)
    val preMaint = LakeLayout.latestLakeCommit(spark, t1).get
    assert(preMaint.tsClusterCol.contains("t"),
      "OPTIMIZE must persist the cluster axis; ingest must carry it")
    assert(preMaint.files.forall(f => f.minTs.isDefined && f.maxTs.isDefined),
      "mid-ingest upsert rewrites must re-record ts bounds from the " +
        s"persisted axis: ${preMaint.files.filter(_.minTs.isEmpty)}")
    val r1 = LakeLayout.maintainLake(spark, t1, "k", "maint",
      minSmallFiles = 2, smallFileMB = 1024, targetFileMB = 1,
      minFiles = 8)
    assert(r1.compactedTo.isDefined, "fragmented table must compact")
    val files1 = LakeLayout.latestLakeCommit(spark, t1).get.files
    assert(files1.forall(f => f.minTs.isDefined && f.maxTs.isDefined),
      "plain maintenance on a declared table must re-record ts bounds")
    val (hit1, n1) = tsBandFiles(t1)
    assert(n1 >= 4 && hit1 < n1 && hit1 > 0,
      s"ts band must still prune after plain maintenance: $hit1/$n1")
    val kband = LakeLayout.readLakeKeyRange(spark, t1, "k", 6000L, 8000L).get
    assert(kband.inputFiles.length < n1,
      s"key band must still prune: ${kband.inputFiles.length}/$n1")
    assert(kband.count() == 2001)
    // CONTROL — a table that never declared a cluster axis: writes and
    // maintenance record key bounds only; its compacted files carry no
    // ts bounds (always band candidates). The decay now exists ONLY
    // where no axis was ever declared.
    val t2 = mkTable(declare = false)
    assert(LakeLayout.latestLakeCommit(spark, t2).get.tsClusterCol.isEmpty,
      "an undeclared table must carry no cluster property")
    LakeLayout.maintainLake(spark, t2, "k", "maint",
      minSmallFiles = 2, smallFileMB = 1024, targetFileMB = 1,
      minFiles = 8)
    val files2 = LakeLayout.latestLakeCommit(spark, t2).get.files
    assert(files2.exists(_.minTs.isEmpty),
      "an undeclared table's maintenance records no ts bounds (the decay)")
    // data identical either way
    assert(LakeLayout.readLake(spark, t1).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      LakeLayout.readLake(spark, t2).get.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
      "declared and undeclared maintenance must agree on content")
  }

  test("DESCRIBE HISTORY / DETAIL: metadata-only audit surface tracks ops, instants, files, and dv state") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft-descr").toString
    LakeLayout.commitLakeVersion(
      (0L until 400L).map(k => (k, k % 7, s"base")).toDF("id", "grp", "tag")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      t, "ck", 0L, statsKey = Some("id"))
    LakeLayout.upsertIntoLake(spark, t,
      Seq((50L, 1L, "u1")).toDF("id", "grp", "tag"), "id", "ck", 1L)
    LakeLayout.deleteFromLakeDv(spark, t,
      Seq(5L, 105L, 205L, 305L).toDF("id"), "id", "ck", 2L)
    // HISTORY: newest first, op-typed, instants nondecreasing
    val h = LakeLayout.lakeHistory(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5),
        r.getLong(6)))
    assert(h.map(_._1).toSeq == Seq(2L, 1L, 0L), "newest first")
    assert(h.head._3 == "dvdelete", s"v2 must be op-typed, got ${h.head._3}")
    assert(h.map(_._2).toSeq.reverse == h.map(_._2).toSeq.reverse.sorted,
      "commit instants must be nondecreasing in version order")
    assert(h.head._5 > 0, "v2 history row must count dv-bearing entries")
    // DETAIL while the dv is live: sidecar visible, metadata count
    // honestly refuses (-1: dv files need a scan)
    val d1 = LakeLayout.describeLake(spark, t).collect().head
    assert(d1.getLong(0) == 2L && d1.getLong(1) == 3L)
    assert(d1.getLong(6) > 0 && d1.getLong(8) > 0,
      "live dv state must surface (files + sidecar bytes)")
    assert(d1.getLong(11) == -1L,
      "metadata row count must refuse while dv files need a scan")
    // after compaction retires the vector, detail is fully metadata-answerable
    LakeLayout.compactLake(spark, t, "id")
    val d2 = LakeLayout.describeLake(spark, t).collect().head
    assert(d2.getLong(6) == 0L && d2.getLong(8) == 0L)
    assert(d2.getLong(11) == 396L,
      s"metadata count must equal the logical table, got ${d2.getLong(11)}")
    assert(d2.getLong(9) == d2.getLong(2),
      "every compacted file must carry key stats")
    val h2 = LakeLayout.lakeHistory(spark, t).collect()
    assert(h2.head.getString(2) == "compact",
      "the compaction version must be op-typed in history")
  }

  test("invalidateManifestCache: a table re-created at the same path serves fresh parses, never the old cache") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft-cacheinv").toString
    LakeLayout.commitLakeVersion(
      (0L until 50L).map(k => (k, "old")).toDF("id", "tag"),
      t, "ck", 0L, statsKey = Some("id"))
    // warm the parse cache through a real read
    assert(LakeLayout.readLake(spark, t).get.count() == 50L)
    // wholesale drop + re-create at the SAME path — the one documented
    // way a cached parse can go stale (manifest immutability holds per
    // table lifetime, not per path)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(t), true)
    LakeLayout.commitLakeVersion(
      (0L until 70L).map(k => (k, "new")).toDF("id", "tag"),
      t, "ck", 0L, statsKey = Some("id"))
    LakeLayout.invalidateManifestCache(t)
    // without the invalidate, v0's stale parse points at the OLD
    // table's (deleted, differently-named) part files and the read
    // fails; after it, everything is fresh
    val got = LakeLayout.readLake(spark, t).get
      .select($"tag").distinct().as[String].collect().toSeq
    assert(got == Seq("new"),
      s"re-created table must serve the new content, got $got")
    assert(LakeLayout.lakeRowCount(spark, t).contains(70L))
  }

  test("TIMESTAMP AS OF: instants resolve to the newest at-or-before version; vacuumed history fails to None") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft-asof").toString
    LakeLayout.commitLakeVersion(
      (0L until 100L).map(k => (k, "base")).toDF("id", "tag")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      t, "ck", 0L, statsKey = Some("id"))
    Thread.sleep(10) // local-FS mtimes are ms-granular
    LakeLayout.upsertIntoLake(spark, t,
      Seq((5L, "v1")).toDF("id", "tag"), "id", "ck", 1L)
    Thread.sleep(10)
    LakeLayout.upsertIntoLake(spark, t,
      Seq((5L, "v2")).toDF("id", "tag"), "id", "ck", 2L)
    val inst = LakeLayout.lakeCommitInstants(spark, t)
    assert(inst.keySet == Set(0L, 1L, 2L))
    assert(inst(0L) < inst(1L) && inst(1L) < inst(2L),
      "sequential commits must carry increasing store instants")
    // boundary semantics: at-or-before, newest qualifying VERSION
    assert(LakeLayout.lakeVersionAsOf(spark, t, inst(0L)).contains(0L))
    assert(LakeLayout.lakeVersionAsOf(spark, t, inst(1L) - 1).contains(0L))
    assert(LakeLayout.lakeVersionAsOf(spark, t, inst(1L)).contains(1L))
    assert(LakeLayout.lakeVersionAsOf(spark, t,
      inst(2L) + 3600000L).contains(2L))
    // born later: no version existed at that instant
    assert(LakeLayout.lakeVersionAsOf(spark, t, inst(0L) - 1).isEmpty)
    // the read pins the exact state
    def tagOf5(df: org.apache.spark.sql.DataFrame): String =
      df.filter($"id" === 5L).select($"tag").head().getString(0)
    assert(tagOf5(LakeLayout.readLakeAsOf(spark, t, inst(1L)).get) == "v1")
    assert(tagOf5(LakeLayout.readLakeAsOf(spark, t, inst(0L)).get) == "base")
    // vacuum drops v0: its instant must now resolve to None (fail
    // loud), NEVER silently to a later version's state
    LakeLayout.vacuumLake(spark, t, keep = 2)
    assert(LakeLayout.lakeVersions(spark, t) == Seq(1L, 2L))
    assert(LakeLayout.lakeVersionAsOf(spark, t, inst(0L)).isEmpty,
      "a vacuumed instant must not resolve to a live later version")
    assert(LakeLayout.lakeVersionAsOf(spark, t, inst(2L)).contains(2L))
  }
}
