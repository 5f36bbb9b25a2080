package graft

import graft.operators.{IvfIndex, Similarity}
import org.apache.spark.sql.functions._

/** The SQ8 codes sidecar over the persisted IVF index
  * ([[IvfIndex.buildSq8Sidecar]] / [[IvfIndex.probeTopKSq8]]) — the
  * MIDDLE compression tier, persisted: int8 serving must return
  * EXACTLY what raw-float serving returns, the shortlist stage must
  * read codes (never the embedding column), vectors appended after the
  * sidecar must ride the raw tail until a re-encode absorbs them, a
  * centroid retrain must re-derive a carried sidecar, and the filtered
  * form must equal the brute-force filtered scan at widened
  * nprobe/shortlist. */
class IvfSq8SidecarSpec extends SparkSuite {
  import spark.implicits._

  private def probesOf(n: Int): Array[(Long, Array[Double])] =
    graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(n).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray))

  private def assertParity(idx: String, label: String): Unit =
    probesOf(5).foreach { case (id, emb) =>
      val raw = IvfIndex.probeTopK(spark, idx, emb, k = 5,
        excludeId = Some(id)).collect().toSeq
      val sq8 = IvfIndex.probeTopKSq8(spark, idx, emb, k = 5,
        excludeId = Some(id)).collect().toSeq
      assert(sq8 == raw, s"$label: probe $id SQ8 serving diverged " +
        s"from raw serving\nraw: $raw\nsq8: $sq8")
    }

  test("SQ8 persisted serving equals raw serving; codes scan never reads floats; filtered form matches the filtered scan; appends ride the tail") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-sq8")
      .toString
    IvfIndex.build(spark, sfDir, idx)

    // no sidecar yet → loud failure, not a silent raw fallback
    val (pid, pemb) = probesOf(1).head
    intercept[IllegalStateException] {
      IvfIndex.probeTopKSq8(spark, idx, pemb, excludeId = Some(pid))
    }

    IvfIndex.buildSq8Sidecar(spark, idx)
    assertParity(idx, "after sidecar")

    // the shortlist stage reads (vec_id, q) from sq8codes — never the
    // embedding column (it runs as the shortlist's own query, before
    // the re-rank's)
    val plan = executedPlans(IvfIndex.probeTopKSq8(spark, idx, pemb,
      excludeId = Some(pid)).collect()).mkString("\n")
    val sqScans = plan.linesIterator.filter(_.contains("sq8codes")).toSeq
    assert(sqScans.nonEmpty, s"expected an sq8codes scan in:\n$plan")
    assert(sqScans.forall(!_.contains("embedding")),
      s"the sq8codes scan must not read embeddings:\n${sqScans.mkString("\n")}")

    // FILTERED form (before any append, so the table is the corpus):
    // at full nprobe + exhaustive shortlist it must EQUAL the
    // oracle-checked brute-force filtered scan
    val exact = Similarity.sFilteredTopk(spark, sfDir).collect().toSeq
    val cells = spark.read.parquet(
      s"${IvfIndex.layoutRoot(spark, idx)}/centroids").count().toInt
    val corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .count().toInt
    val served = IvfIndex.probeTopKSq8(spark, idx, pemb,
      k = 10, nprobe = cells, shortlist = corpus,
      excludeId = Some(Similarity.ProbeId),
      where = Some($"label" === Similarity.FilterLabel)).collect().toSeq
    assert(served == exact,
      s"filtered SQ8 serving must equal the filtered scan\nsq8:   " +
        s"$served\nexact: $exact")
    // at production widths the predicate still holds on every row and
    // recall stays high
    val narrow = IvfIndex.probeTopKSq8(spark, idx, pemb, k = 10,
      shortlist = graft.operators.ScalarQuant.Shortlist * 10,
      excludeId = Some(Similarity.ProbeId),
      where = Some($"label" === Similarity.FilterLabel)).collect()
    assert(narrow.nonEmpty &&
      narrow.forall(_.getInt(1) == Similarity.FilterLabel),
      "a filtered SQ8 probe must never return a non-matching row")
    val hits = exact.map(_.getLong(0))
      .count(narrow.map(_.getLong(0)).toSet.contains)
    assert(hits >= 8, s"filtered SQ8 recall too low: $hits of 10")

    // append a wave AFTER the sidecar: shifted twins — served through
    // the raw tail, so an exact twin must surface at sim 1.0
    val wave = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" < 50)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"label", $"embedding")
    IvfIndex.append(spark, idx, wave)
    assertParity(idx, "after append (tail path)")
    val twin = IvfIndex.probeTopKSq8(spark, idx, pemb, k = 1,
      excludeId = Some(pid)).collect().head
    assert(twin.getAs[Long]("vec_id") == pid + 1000000L &&
      twin.getAs[Double]("sim") == 1.0,
      s"appended exact twin must rank first through the tail: $twin")
    // the health row reports the tier's tail — the one metric the
    // codebook-free tier has
    def sq8Tail(): Double = IvfIndex.describeIvf(spark, idx)
      .collect()(0).getAs[Double]("sq8_tail_frac")
    assert(sq8Tail() > 0.0, "describeIvf must report the SQ8 tail")

    // re-encode absorbs the tail (no training job — append-encode only)
    IvfIndex.buildSq8Sidecar(spark, idx)
    assert(sq8Tail() == 0.0, "re-encode must absorb the SQ8 tail")
    assertParity(idx, "after sidecar re-encode")
    val twin2 = IvfIndex.probeTopKSq8(spark, idx, pemb, k = 1,
      excludeId = Some(pid)).collect().head
    assert(twin2.getAs[Long]("vec_id") == pid + 1000000L,
      s"absorbed twin must still rank first from codes: $twin2")
  }

  test("a sidecar refresh publishes NEW versioned dirs behind an exclusive marker, keeping one grace version") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-sq8v")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    val root = IvfIndex.layoutRoot(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def names: Set[String] = fs
      .listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).toSet
    def markers: Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/_sq8")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).toSet
    }
    IvfIndex.buildSq8Sidecar(spark, idx)
    assert(markers == Set("0") && names.contains("sq8codes-0"),
      s"first build publishes version 0: markers=$markers dirs=$names")
    IvfIndex.buildSq8Sidecar(spark, idx)
    assert(markers == Set("0", "1") && names.contains("sq8codes-0") &&
      names.contains("sq8codes-1"),
      s"refresh keeps the previous version as grace: markers=$markers")
    IvfIndex.buildSq8Sidecar(spark, idx)
    assert(markers == Set("1", "2") && !names.contains("sq8codes-0"),
      s"beyond-grace versions are reclaimed: markers=$markers dirs=$names")
  }

  test("BATCH SQ8 serving equals per-probe SQ8 serving — plain and filtered — and its wide scan reads codes, never floats") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-sq8b")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)
    val probeRows = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(5)
      .select($"vec_id".as("probe_id"), $"embedding")
    val probes = probesOf(5)

    def perProbe(rows: Array[org.apache.spark.sql.Row])
        : Map[Long, Seq[(Long, Double, Int)]] = rows
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(3), r.getInt(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap

    val batchDf = IvfIndex.probeTopKSq8Batch(spark, idx, probeRows,
      k = 5, nprobe = 4, excludeSelf = true)
    val batch = perProbe(batchDf.collect())
    probes.foreach { case (id, emb) =>
      val single = IvfIndex.probeTopKSq8(spark, idx, emb, k = 5,
        nprobe = 4, excludeId = Some(id)).collect().zipWithIndex
        .map { case (r, i) => (r.getLong(0), r.getDouble(2), i + 1) }.toSeq
      assert(batch.getOrElse(id, Seq.empty) == single,
        s"probe $id: SQ8 batch ${batch.get(id)} != per-probe $single")
    }
    // the shortlist stage's wide scan reads codes, never floats
    val plan = batchDf.queryExecution.executedPlan.toString
    val sqScans = plan.linesIterator.filter(_.contains("sq8codes")).toSeq
    assert(sqScans.nonEmpty && sqScans.forall(!_.contains("embedding")),
      s"the batch sq8codes scan must stay codes-only:\n" +
        sqScans.mkString("\n"))

    // FILTERED batch parity at the widened shortlist
    val w = Some($"label" === Similarity.FilterLabel)
    val wide = graft.operators.ScalarQuant.Shortlist * 10
    val fBatch = perProbe(IvfIndex.probeTopKSq8Batch(spark, idx,
      probeRows, k = 5, nprobe = 4, shortlist = wide,
      excludeSelf = true, where = w).collect())
    probes.foreach { case (id, emb) =>
      val single = IvfIndex.probeTopKSq8(spark, idx, emb, k = 5,
        nprobe = 4, shortlist = wide, excludeId = Some(id), where = w)
        .collect().zipWithIndex
        .map { case (r, i) => (r.getLong(0), r.getDouble(2), i + 1) }.toSeq
      assert(fBatch.getOrElse(id, Seq.empty) == single,
        s"probe $id: filtered SQ8 batch ${fBatch.get(id)} != $single")
    }
  }

  test("a centroid retrain re-derives the SQ8 tier the previous generation carried") {
    val idx = java.nio.file.Files.createTempDirectory("graft-sq8-regen")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)
    // force the retrain (impossible thresholds) — the new generation
    // starts bare; maintenance must re-encode
    val report = IvfIndex.maintainIvf(spark, idx,
      maxSkew = 0.0, minFit = 2.0)
    assert(report.rebuilt && report.sq8Rebuilt,
      s"a retrain must carry the SQ8 tier forward: $report")
    assertParity(idx, "after retrain re-encode")
  }
}
