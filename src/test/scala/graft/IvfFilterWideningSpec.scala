package graft

import graft.operators.IvfIndex
import org.apache.spark.sql.functions._

/** MEASURED shortlist widening on the filtered compressed tiers
  * ([[IvfIndex.widenedShortlist]]): a selective predicate used to put
  * recall on the caller ("widen `shortlist` by the survivor rate");
  * now the serving path measures the rate over the probed cells and
  * widens itself. The pin: a DEFAULT-width probe under a ~1 %
  * predicate — a setting where the unwidened cut holds ~1 % · width
  * survivors — must return exactly what the exhaustive-shortlist
  * probe returns at the same nprobe (the widening caps at the probed
  * row count here, the exhaustive-equals-exact ceiling a selective
  * predicate at production widths lands on), on the ADC, SQ8, and
  * batch-ADC paths, with the measured (rate, effective width)
  * recorded. */
class IvfFilterWideningSpec extends SparkSuite {
  import spark.implicits._

  test("a filtered compressed probe widens its shortlist by the measured survivor rate: default widths match the exhaustive truth") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-widen")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildPqSidecar(spark, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)

    val probeRow = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(1).collect().head
    val pid = probeRow.getAs[Long]("vec_id")
    val pemb = probeRow.getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    val corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .count().toInt
    // probe every cell: the truth below is then the full brute-force
    // filtered top-k, and the ~1 % predicate surely has survivors in
    // the probed set (at default nprobe a 500-row corpus may not)
    val cells = spark.read.parquet(
      s"${IvfIndex.layoutRoot(spark, idx)}/centroids").count().toInt
    // ~1 % survivors — far below any tiny shortlist's hit rate
    val pred = $"vec_id" % 101 === 3

    // ADC tier: the DEFAULT shortlist under the selective predicate
    // must equal the exhaustive-shortlist probe at the same nprobe
    val adcTruth = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 2,
      nprobe = cells, shortlist = corpus, excludeId = Some(pid),
      where = Some(pred))
      .collect().toSeq
    val adcTiny = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 2,
      nprobe = cells, excludeId = Some(pid), where = Some(pred))
      .collect().toSeq
    assert(adcTiny == adcTruth,
      s"ADC widening must recover the exhaustive filtered truth\n" +
        s"tiny: $adcTiny\ntruth: $adcTruth")
    val (rate, eff) = IvfIndex.lastFilterWidening.get()
    assert(rate > 0.0 && rate < 0.05,
      s"measured survivor rate should be ~1 %, got $rate")
    assert(eff == corpus,
      s"a ~1 % predicate at default width must widen to the exhaustive "
        + s"cap ($corpus): $eff")

    // SQ8 tier, same shape
    val sq8Truth = IvfIndex.probeTopKSq8(spark, idx, pemb, k = 2,
      nprobe = cells, shortlist = corpus, excludeId = Some(pid),
      where = Some(pred))
      .collect().toSeq
    val sq8Tiny = IvfIndex.probeTopKSq8(spark, idx, pemb, k = 2,
      nprobe = cells, excludeId = Some(pid), where = Some(pred))
      .collect().toSeq
    assert(sq8Tiny == sq8Truth,
      s"SQ8 widening must recover the exhaustive filtered truth\n" +
        s"tiny: $sq8Tiny\ntruth: $sq8Truth")

    // batch ADC: the widening is measured once over the probed-cell
    // union and must give each probe its exhaustive-width answer
    val probeRows = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(3)
      .select($"vec_id".as("probe_id"), $"embedding")
    def perProbe(rows: Array[org.apache.spark.sql.Row])
        : Map[Long, Seq[(Long, Double, Int)]] = rows
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(3), r.getInt(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap
    val bTruth = perProbe(IvfIndex.probeTopKBatchAdc(spark, idx,
      probeRows, k = 2, nprobe = cells, shortlist = corpus,
      excludeSelf = true, where = Some(pred)).collect())
    val bTiny = perProbe(IvfIndex.probeTopKBatchAdc(spark, idx,
      probeRows, k = 2, nprobe = cells, excludeSelf = true,
      where = Some(pred)).collect())
    assert(bTiny == bTruth,
      s"batch ADC widening must recover the exhaustive filtered " +
        s"truth\ntiny: $bTiny\ntruth: $bTruth")

    // a predicate with ZERO survivors returns empty honestly (and must
    // not divide by the rate)
    val none = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 2,
      shortlist = 2, excludeId = Some(pid),
      where = Some($"label" === -1)).collect()
    assert(none.isEmpty, s"zero-survivor predicate must serve empty: " +
      none.mkString(", "))
  }

  test("label-equality widening is served from the stats sidecar — no measuring scan — and falls back when the file set diverges") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-lstats")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildPqSidecar(spark, idx)
    val probeRow = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(1).collect().head
    val pid = probeRow.getAs[Long]("vec_id")
    val pemb = probeRow.getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    val fl = graft.operators.Similarity.FilterLabel

    // introspectable label equality → stats path, zero measuring scans
    val m0 = IvfIndex.widenMeasureScans.get()
    val s0 = IvfIndex.widenStatsServed.get()
    val viaStats = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 3,
      excludeId = Some(pid), where = Some($"label" === fl))
      .collect().toSeq
    assert(IvfIndex.widenStatsServed.get() == s0 + 1,
      "label equality must be answered from the stats sidecar")
    assert(IvfIndex.widenMeasureScans.get() == m0,
      "the stats-served probe must not schedule a measuring scan")
    val statsChoice = IvfIndex.lastFilterWidening.get()

    // the SAME effective predicate referencing a column the stats
    // don't carry (vec_id — never null) must fall back to the
    // measuring scan — and land on the identical (rate, width) and
    // identical rows: the stats are exact, not an approximation
    val viaScan = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 3,
      excludeId = Some(pid),
      where = Some(($"label" === fl) && $"vec_id".isNotNull))
      .collect().toSeq
    assert(IvfIndex.widenMeasureScans.get() == m0 + 1,
      "a predicate naming a non-stats column must fall back to the " +
        "measuring scan")
    assert(IvfIndex.lastFilterWidening.get() == statsChoice,
      s"stats-served and measured widening must choose identically: " +
        s"$statsChoice vs ${IvfIndex.lastFilterWidening.get()}")
    assert(viaStats == viaScan,
      s"stats-served rows must equal measured rows\n" +
        s"stats: $viaStats\nscan: $viaScan")

    // an append diverges the live listing from the stats snapshot —
    // the probe must measure again (stale counts can never serve)
    IvfIndex.append(spark, idx,
      graft.sources.Tables.load(spark, sfDir, "embeddings")
        .filter($"vec_id" === pid)
        .select(($"vec_id" + 2000000L).as("vec_id"), $"label",
          $"embedding"))
    IvfIndex.probeTopKAdc(spark, idx, pemb, k = 3,
      excludeId = Some(pid), where = Some($"label" === fl)).collect()
    assert(IvfIndex.widenMeasureScans.get() == m0 + 2,
      "a diverged file set must force the measuring scan")
  }

  test("tombstones cannot eat the shortlist: compressed tiers widen by the tombstone count") {
    val idx = java.nio.file.Files.createTempDirectory("graft-tomb-slack")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    val probeRow = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(1).collect().head
    val pid = probeRow.getAs[Long]("vec_id")
    val twin = pid + 1000000L
    val pemb = probeRow.getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    // an exact twin, CODED into both sidecars (built after the append),
    // so it owns the #1 shortlist slot on every compressed tier
    IvfIndex.append(spark, idx,
      graft.sources.Tables.load(spark, sfDir, "embeddings")
        .filter($"vec_id" === pid)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"label",
          $"embedding"))
    IvfIndex.buildPqSidecar(spark, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)
    val rawTop = IvfIndex.probeTopKSq8(spark, idx, pemb, k = 1,
      excludeId = Some(pid)).collect().head
    assert(rawTop.getAs[Long]("vec_id") == twin &&
      rawTop.getAs[Double]("sim") == 1.0, s"twin must lead: $rawTop")

    // tombstone the twin: a shortlist of ONE would hold only the
    // tombstoned leader and serve empty after the anti-join — the
    // tombstone-count slack must restore the runner-up
    IvfIndex.tombstoneIds(spark, idx, Seq(twin).toDF("vec_id"))
    val truth = IvfIndex.probeTopK(spark, idx, pemb, k = 1,
      excludeId = Some(pid)).collect().toSeq
    assert(truth.nonEmpty && truth.head.getAs[Long]("vec_id") != twin)
    val sq8 = IvfIndex.probeTopKSq8(spark, idx, pemb, k = 1,
      shortlist = 1, excludeId = Some(pid)).collect().toSeq
    assert(sq8 == truth,
      s"SQ8 shortlist=1 must survive a tombstoned leader\n" +
        s"sq8: $sq8\ntruth: $truth")
    // ADC at width 1: the slack guarantees a NON-EMPTY, non-tombstoned
    // answer (without it the single slot holds the tombstoned twin and
    // the probe serves empty); exact agreement with the cosine truth
    // is the usual PQ margin contract, not width-1 behavior
    val adc = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 1,
      shortlist = 1, excludeId = Some(pid)).collect().toSeq
    assert(adc.nonEmpty && adc.head.getAs[Long]("vec_id") != twin,
      s"ADC shortlist=1 must survive a tombstoned leader: $adc")
    // the batch compressed paths widen by the same slack: a batch of the
    // one probe, excludeSelf, width 1, with the tombstoned twin leading
    val probes = Seq((pid, pemb.toSeq)).toDF("probe_id", "embedding")
    val batch: Seq[(String, Boolean,
        () => org.apache.spark.sql.DataFrame)] = Seq(
      ("ADC batch", false, () => IvfIndex.probeTopKBatchAdc(spark, idx,
        probes, k = 1, shortlist = 1, excludeSelf = true)),
      ("SQ8 batch", true, () => IvfIndex.probeTopKSq8Batch(spark, idx,
        probes, k = 1, shortlist = 1, excludeSelf = true)))
    batch.foreach { case (name, exact, serve) =>
      val got = serve().collect().toSeq
      assert(got.nonEmpty && got.head.getAs[Long]("vec_id") != twin,
        s"$name shortlist=1 must survive a tombstoned leader: $got")
      if (exact)
        assert(got.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))) ==
          truth.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))),
          s"$name shortlist=1 must equal the exact truth\n" +
            s"got: $got\ntruth: $truth")
    }
  }
}
