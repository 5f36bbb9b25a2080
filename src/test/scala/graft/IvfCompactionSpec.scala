package graft

import graft.operators.{IvfIndex, Similarity}
import graft.sources.LakeLayout
import org.apache.spark.sql.functions._

/** [[IvfIndex.compactTombstones]] — the cheap delete-compaction path:
  * hidden rows become physical WITHOUT a retrain (frozen centroids,
  * byte-copied untouched files, carried sidecars). Serving must be
  * invariant across the cutover on every path, the untouched bytes
  * must not decode/re-encode, and the maintenance policy must prefer
  * compaction over rebuild when only the tombstone fraction fired. */
class IvfCompactionSpec extends SparkSuite {
  import spark.implicits._

  private def fsFor(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def wave(lo: Long, hi: Long) =
    graft.sources.Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" >= lo && $"vec_id" < hi)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"label", $"embedding")

  test("sidecar carry encodes O(events + tail), not O(rows of touched files)") {
    // r21 (advisor item): a scattered takedown rewrites many files but
    // must NOT re-encode their undisturbed rows — their codes are valid
    // under the frozen books and carry byte-as-is. A pure takedown with
    // a fully-covering sidecar leaves ZERO rows to freshly encode (the
    // deleted ids have no resident rows after compaction, and there is
    // no raw tail); the pre-r21 split re-encoded every row of every
    // rewritten file.
    val base = java.nio.file.Files
      .createTempDirectory("graft-cmp-carry").toString
    val idx = s"$base/index"
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildPqSidecar(spark, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)
    val root0 = IvfIndex.layoutRoot(spark, idx)
    val tiers = Seq(IvfIndex.Pq -> "pqcodes-0", IvfIndex.Sq8 -> "sq8codes-0")
    val totals = tiers.map { case (tier, dir) =>
      tier -> spark.read.parquet(s"$root0/$dir").count() }.toMap
    // scattered victims: low ids spread across cells, so several files
    // rewrite while most byte-copy
    val victims = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(20).select($"vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    IvfIndex.tombstoneIds(spark, idx, victims)
    assert(IvfIndex.compactTombstones(spark, idx))
    // both codes tiers carry through the one carry body
    val newRoot = IvfIndex.layoutRoot(spark, idx)
    tiers.foreach { case (tier, dir) =>
      val (carried, fresh) = tier.lastCarry.get()
      val expect = totals(tier) - victimIds.size
      assert(fresh == 0L, s"${tier.name}: pure takedown + covering " +
        s"sidecar must encode nothing, encoded $fresh")
      assert(carried == expect,
        s"${tier.name}: every surviving code must carry: $carried of $expect")
      assert(spark.read.parquet(s"$newRoot/$dir").count() == carried)
    }
    // the carried sidecar still serves: victims gone, results non-empty
    val probeEmb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id".desc).limit(1).collect().head
      .getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
    val served = IvfIndex.probeTopKAdc(spark, idx, probeEmb, k = 5,
      shortlist = 100000).collect().map(_.getAs[Long]("vec_id"))
    assert(served.nonEmpty && served.forall(!victimIds.contains(_)),
      s"compacted ADC serving must exclude the victims: ${served.toSeq}")
  }

  test("compaction is serving-invariant on every path: frozen centroids, byte-copied untouched files, carried sidecars") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-cmp").toString
    val lake = s"$base/lake"
    val idx = s"$base/index"
    IvfIndex.build(spark, sfDir, idx)

    val probeRow = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(1).collect().head
    val pid = probeRow.getAs[Long]("vec_id")
    val twin = pid + 1000000L
    val pemb = probeRow.getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray

    // twins flow in; one gets corrected, one gets taken down; both
    // compressed sidecars commit BEFORE the compaction so the carry
    // path (not a rebuild) is what serves afterwards
    LakeLayout.appendToLake(spark, lake, wave(0L, 25L), "vecstream", 1L,
      statsKey = Some("vec_id"))
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    LakeLayout.upsertIntoLake(spark, lake,
      wave(0L, 1L).withColumn("label", lit(777)), "vec_id", "fix", 2L)
    LakeLayout.deleteFromLake(spark, lake,
      Seq(twin + 5L).toDF("vec_id"), "vec_id", "takedown", 3L)
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 2L)
    IvfIndex.buildPqSidecar(spark, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)

    val probes = Seq((pid, pemb)).toDF("probe_id", "embedding")
    val wide = 100000
    def servedRows(): Map[String, Seq[(Long, Int)]] = Map(
      "raw" -> IvfIndex.probeTopK(spark, idx, pemb, k = 5,
        excludeId = Some(pid)).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq,
      "rawBatch" -> IvfIndex.probeTopKBatch(spark, idx, probes, k = 5,
        excludeSelf = true).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq,
      "adc" -> IvfIndex.probeTopKAdc(spark, idx, pemb, k = 5,
        shortlist = wide, excludeId = Some(pid)).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq,
      "adcBatch" -> IvfIndex.probeTopKBatchAdc(spark, idx, probes, k = 5,
        shortlist = wide, excludeSelf = true).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq,
      "sq8" -> IvfIndex.probeTopKSq8(spark, idx, pemb, k = 5,
        shortlist = wide, excludeId = Some(pid)).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq,
      "sq8Batch" -> IvfIndex.probeTopKSq8Batch(spark, idx, probes, k = 5,
        shortlist = wide, excludeSelf = true).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq)

    val before = servedRows()
    assert(before("raw").headOption.map(_._1).contains(twin) &&
      before("raw").filter(_._1 == twin) == Seq((twin, 777)),
      s"precondition: the updated twin serves first: ${before("raw")}")

    val fs = fsFor(idx)
    val genBefore = IvfIndex.committedGen(spark, idx)
    val oldRoot = IvfIndex.layoutRoot(spark, idx)
    val oldCents = spark.read.parquet(s"$oldRoot/centroids")
      .orderBy($"cell").collect()
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Double]]("centroid").toSeq)).toSeq
    // an undisturbed id's PQ codes, for the byte-carry assertion below
    val undisturbed = twin + 20L
    val oldCodes = spark.read.parquet(s"$oldRoot/pqcodes-0")
      .filter($"vec_id" === undisturbed)
      .select($"codes").collect().map(_.getSeq[Int](0)).toSeq
    // one file of a cell holding NO tombstoned row — byte-copy keeps
    // its name across the cutover
    val tombCells = spark.read.parquet(s"$oldRoot/vectors")
      .filter($"vec_id".isin(twin, twin + 5L))
      .select($"cell").distinct().collect().map(_.getInt(0)).toSet
    val untouchedFile = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$oldRoot/vectors"), true)
      var found: Option[String] = None
      while (it.hasNext && found.isEmpty) {
        val st = it.next()
        val parent = st.getPath.getParent.getName
        if (st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".") &&
            parent.startsWith("cell=") &&
            !tombCells.contains(parent.stripPrefix("cell=").toInt))
          found = Some(s"$parent/${st.getPath.getName}")
      }
      found.getOrElse(fail("no untouched cell file found"))
    }

    assert(IvfIndex.compactTombstones(spark, idx),
      "a tombstoned index must compact")
    assert(IvfIndex.committedGen(spark, idx) == genBefore.map(_ + 1L),
      "compaction publishes exactly one new generation")
    val newRoot = IvfIndex.layoutRoot(spark, idx)
    assert(newRoot != oldRoot)

    // FROZEN model: centroids value-identical — nothing retrained
    val newCents = spark.read.parquet(s"$newRoot/centroids")
      .orderBy($"cell").collect()
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Double]]("centroid").toSeq)).toSeq
    assert(newCents == oldCents, "compaction must not move the centroids")

    // PHYSICAL: the deleted id is gone from the raw layout, the
    // updated id keeps exactly its post-image, and the new generation
    // carries no tombstone sidecar
    val newVecs = spark.read.parquet(s"$newRoot/vectors")
    assert(newVecs.filter($"vec_id" === twin + 5L).count() == 0L,
      "the deleted id must leave the physical layout")
    val twinRows = newVecs.filter($"vec_id" === twin).collect()
    assert(twinRows.length == 1 && twinRows.head.getAs[Int]("label") == 777,
      s"exactly the update's post-image survives: ${twinRows.toSeq}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$newRoot/_tomb")),
      "the compacted generation must start with no tombstone sidecar")
    assert(IvfIndex.describeIvf(spark, idx).collect()(0)
      .getAs[Double]("tomb_frac") == 0.0)

    // BYTE COPY: an untouched cell's file keeps its exact name
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$newRoot/vectors/$untouchedFile")),
      s"untouched file $untouchedFile must byte-copy under its name")

    // CARRIED sidecars: both tiers resolve on the new generation with
    // no rebuild, an undisturbed id's codes are byte-identical, and
    // serving on EVERY path is invariant across the cutover
    val newCodes = spark.read.parquet(s"$newRoot/pqcodes-0")
      .filter($"vec_id" === undisturbed)
      .select($"codes").collect().map(_.getSeq[Int](0)).toSeq
    assert(newCodes == oldCodes,
      "an undisturbed id's PQ codes must carry byte-identically")
    assert(servedRows() == before,
      "compaction must be serving-invariant on every path")

    // idempotence: nothing left to compact
    assert(!IvfIndex.compactTombstones(spark, idx),
      "a compacted index has no tombstones to compact")
    assert(IvfIndex.committedGen(spark, idx) == genBefore.map(_ + 1L))

    // RE-INSERT after the compaction: the takedown's MaxValue-free
    // lake event died with the old sidecar, so the id lands at a later
    // lake version and serves again
    LakeLayout.appendToLake(spark, lake,
      wave(5L, 6L), "vecstream", 4L, statsKey = Some("vec_id"))
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    // probe with the re-inserted id's own base embedding: its exact
    // twin must rank first again, exactly once
    val pemb5 = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" === pid + 5L)
      .select($"embedding").collect().head
      .getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray
    val re = IvfIndex.probeTopK(spark, idx, pemb5, k = 5,
      excludeId = Some(pid + 5L)).collect()
    assert(re.head.getAs[Long]("vec_id") == twin + 5L &&
      re.head.getAs[Double]("sim") == 1.0,
      s"the re-inserted twin must serve again: ${re.toSeq}")
    assert(re.count(_.getAs[Long]("vec_id") == twin + 5L) == 1,
      s"exactly one row of the re-inserted id may serve: ${re.toSeq}")
  }

  test("maintainIvf prefers compaction over rebuild when only the tombstone fraction fires") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-cmp-maint").toString
    val lake = s"$base/lake"
    val idx = s"$base/index"
    IvfIndex.build(spark, sfDir, idx)
    LakeLayout.appendToLake(spark, lake, wave(0L, 25L), "vecstream", 1L,
      statsKey = Some("vec_id"))
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    LakeLayout.deleteFromLake(spark, lake,
      (0L until 5L).map(_ + 1000000L).toDF("vec_id"),
      "vec_id", "takedown", 2L)
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    val oldCents = spark.read.parquet(
      s"${IvfIndex.layoutRoot(spark, idx)}/centroids")
      .orderBy($"cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toSeq).toSeq
    // loose skew/fit (healthy), tight tombstone threshold → compact
    val r = IvfIndex.maintainIvf(spark, idx,
      maxSkew = 1e9, minFit = -1.0, maxTombFrac = 1e-6)
    assert(r.compacted && !r.rebuilt,
      s"a tombstone-only trigger must compact, not retrain: $r")
    assert(r.tombFrac > 0.0, "the report carries the measured fraction")
    assert(IvfIndex.describeIvf(spark, idx).collect()(0)
      .getAs[Double]("tomb_frac") == 0.0,
      "the pass must leave the fraction at zero")
    val newCents = spark.read.parquet(
      s"${IvfIndex.layoutRoot(spark, idx)}/centroids")
      .orderBy($"cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toSeq).toSeq
    assert(newCents == oldCents, "maintenance compaction keeps the model")
    // a healthy pass right after is a no-op on every axis
    val r2 = IvfIndex.maintainIvf(spark, idx,
      maxSkew = 1e9, minFit = -1.0, maxTombFrac = 1e-6)
    assert(!r2.compacted && !r2.rebuilt && r2.tombFrac == 0.0, s"$r2")
  }

  test("a direct takedown compacts physically and the id becomes re-insertable again") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-cmp-direct").toString
    val lake = s"$base/lake"
    val idx = s"$base/index"
    IvfIndex.build(spark, sfDir, idx)
    LakeLayout.appendToLake(spark, lake, wave(0L, 10L), "vecstream", 1L,
      statsKey = Some("vec_id"))
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    // MaxValue event: hides every resident row AND blocks lake
    // re-inserts until something compacts it away
    IvfIndex.tombstoneIds(spark, idx, Seq(1000002L).toDF("vec_id"))
    LakeLayout.appendToLake(spark, lake,
      wave(2L, 3L), "vecstream", 2L, statsKey = Some("vec_id"))
    val blocked = intercept[IllegalArgumentException] {
      IvfIndex.syncFromLake(spark, lake, idx)
    }
    assert(blocked.getMessage.contains("taken down directly"),
      s"a re-insert of a direct takedown must be rejected: $blocked")
    assert(IvfIndex.compactTombstones(spark, idx),
      "a directly-taken-down index must compact")
    val root = IvfIndex.layoutRoot(spark, idx)
    assert(spark.read.parquet(s"$root/vectors")
      .filter($"vec_id" === 1000002L).count() == 0L,
      "the takedown must leave the physical layout")
    // the MaxValue event died with the compaction — the pending lake
    // re-insert now syncs clean and serves
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L,
      "after compaction the id is lawfully re-insertable")
    val after = IvfIndex.layoutRoot(spark, idx)
    assert(spark.read.parquet(s"$after/vectors")
      .filter($"vec_id" === 1000002L).count() == 1L,
      "the re-insert must be resident again")
  }

  test("a sync completing entirely inside the staging window keeps its deletes: the tombstone delta carries across the cutover") {
    // the lost-delete shape: the maintainer reads the event set, a
    // sync lands a whole version (delete + mark) while it stages, the
    // cutover publishes — without the delta carry the new generation
    // would serve the deleted row forever (the mark blocks any
    // re-sync). Forced here through both maintainers' staging seams.
    def drive(maintain: (String, () => Unit) => Unit,
        tag: String): Unit = {
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-cmp-midsync-$tag").toString
      val lake = s"$base/lake"
      val idx = s"$base/index"
      IvfIndex.build(spark, sfDir, idx)
      LakeLayout.appendToLake(spark, lake, wave(0L, 10L), "vecstream", 1L,
        statsKey = Some("vec_id"))
      assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
      // give the maintainer something to do (an old tombstone)
      LakeLayout.deleteFromLake(spark, lake,
        Seq(1000001L).toDF("vec_id"), "vec_id", "takedown", 2L)
      assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
      maintain(idx, () => {
        // the mid-staging sync: deletes a row RESIDENT since v1 —
        // its rows are already in the maintainer's snapshot, its
        // event postdates the maintainer's read
        LakeLayout.deleteFromLake(spark, lake,
          Seq(1000003L).toDF("vec_id"), "vec_id", "takedown", 3L)
        assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
      })
      // the delete must hold at the serving surface, at any width
      val pemb3 = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .filter($"vec_id" === 3L).select($"embedding").collect().head
        .getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray
      val served = IvfIndex.probeTopK(spark, idx, pemb3, k = 5,
        nprobe = Similarity.IvfCells).collect()
        .map(_.getAs[Long]("vec_id"))
      assert(!served.contains(1000003L),
        s"[$tag] the mid-staging delete was lost at the cutover: " +
          s"${served.toSeq}")
      // the carry is CRASH-SAFE: the delta rode the staged dir through
      // the atomic rename+claim (one sidecar version on the new root),
      // so a maintainer crash right after the claim cannot strand it —
      // and the post-publish pass found nothing pending (no version 1)
      val newRoot = IvfIndex.layoutRoot(spark, idx)
      val tombMarks = fsFor(idx).listStatus(
        new org.apache.hadoop.fs.Path(s"$newRoot/_tomb"))
        .map(_.getPath.getName).sorted
      assert(tombMarks.toSeq == Seq("0"),
        s"[$tag] the delta must publish atomically with the claim " +
          s"(staged version 0 only): ${tombMarks.toSeq}")
      // and it is not re-syncable (the mark is the exactly-once pin)
      assert(IvfIndex.syncFromLake(spark, lake, idx) == 0L)
      // the next compaction makes it physical
      assert(IvfIndex.compactTombstones(spark, idx))
      val root = IvfIndex.layoutRoot(spark, idx)
      assert(spark.read.parquet(s"$root/vectors")
        .filter($"vec_id" === 1000003L).count() == 0L,
        s"[$tag] the carried event must compact physically")
    }
    drive((idx, seam) =>
      assert(IvfIndex.compactTombstonesImpl(spark, idx, seam)),
      "compact")
    drive((idx, seam) =>
      IvfIndex.rebuildImpl(spark, idx, Similarity.IvfCells,
        Similarity.IvfIters, seam),
      "rebuild")
  }

  test("an append racing the compaction folds in exactly once") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-cmp-race").toString
    val lake = s"$base/lake"
    val idx = s"$base/index"
    IvfIndex.build(spark, sfDir, idx)
    LakeLayout.appendToLake(spark, lake, wave(0L, 10L), "vecstream", 1L,
      statsKey = Some("vec_id"))
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    LakeLayout.deleteFromLake(spark, lake,
      Seq(1000001L).toDF("vec_id"), "vec_id", "takedown", 2L)
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    // the racing append lands AFTER the compaction staged its snapshot
    assert(IvfIndex.compactTombstonesImpl(spark, idx, () =>
      IvfIndex.append(spark, idx, wave(50L, 60L))))
    val root = IvfIndex.layoutRoot(spark, idx)
    val vecs = spark.read.parquet(s"$root/vectors")
    assert(vecs.filter($"vec_id" === 1000001L).count() == 0L,
      "the tombstoned row stays compacted")
    val raced = vecs.filter($"vec_id" >= 1000050L && $"vec_id" < 1000060L)
      .groupBy($"vec_id").agg(count(lit(1)).as("n")).collect()
    assert(raced.length == 10 && raced.forall(_.getAs[Long]("n") == 1L),
      s"the racing append folds in exactly once: ${raced.toSeq}")
  }
}
