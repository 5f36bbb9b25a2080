package graft

import graft.operators.IvfIndex
import org.apache.spark.sql.functions._

/** The PQ codes sidecar over the persisted IVF index
  * ([[IvfIndex.buildPqSidecar]] / [[IvfIndex.probeTopKAdc]]):
  * compressed serving must return EXACTLY what the raw-float serving
  * path returns, the ADC stage must read codes (never the embedding
  * column), and vectors appended after the sidecar must be served
  * through the uncompacted-tail path until a sidecar rebuild absorbs
  * them. */
class IvfPqSidecarSpec extends SparkSuite {
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
      val adc = IvfIndex.probeTopKAdc(spark, idx, emb, k = 5,
        excludeId = Some(id)).collect().toSeq
      assert(adc == raw, s"$label: probe $id compressed serving " +
        s"diverged from raw serving\nraw: $raw\nadc: $adc")
    }

  test("compressed serving equals raw serving; ADC scan never reads floats; appends ride the tail") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-pq")
      .toString
    IvfIndex.build(spark, sfDir, idx)

    // no sidecar yet → loud failure, not a silent raw fallback
    val (pid, pemb) = probesOf(1).head
    intercept[IllegalStateException] {
      IvfIndex.probeTopKAdc(spark, idx, pemb, excludeId = Some(pid))
    }

    IvfIndex.buildPqSidecar(spark, idx)
    assertParity(idx, "after sidecar")

    // the ADC stage reads (vec_id, codes) from pqcodes — the scan that
    // replaces the float read must not materialize embeddings (it runs
    // as the shortlist's own query, before the re-rank's)
    val plan = executedPlans(IvfIndex.probeTopKAdc(spark, idx, pemb,
      excludeId = Some(pid)).collect()).mkString("\n")
    val pqScans = plan.linesIterator.filter(_.contains("pqcodes")).toSeq
    assert(pqScans.nonEmpty, s"expected a pqcodes scan in:\n$plan")
    assert(pqScans.forall(!_.contains("embedding")),
      s"the pqcodes scan must not read embeddings:\n${pqScans.mkString("\n")}")

    // append a wave AFTER the sidecar: shifted twins of the first 50
    // corpus vectors — served through the raw tail, so an exact twin
    // must surface at sim 1.0 through the COMPRESSED path
    val wave = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" < 50)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"label", $"embedding")
    IvfIndex.append(spark, idx, wave)
    assertParity(idx, "after append (tail path)")
    val twin = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 1,
      excludeId = Some(pid)).collect().head
    assert(twin.getAs[Long]("vec_id") == pid + 1000000L &&
      twin.getAs[Double]("sim") == 1.0,
      s"appended exact twin must rank first through the tail: $twin")

    // sidecar rebuild absorbs the tail: snapshot == current listing,
    // and parity holds with every vector now served from codes
    IvfIndex.buildPqSidecar(spark, idx)
    assertParity(idx, "after sidecar rebuild")
    val twin2 = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 1,
      excludeId = Some(pid)).collect().head
    assert(twin2.getAs[Long]("vec_id") == pid + 1000000L,
      s"absorbed twin must still rank first from codes: $twin2")
  }

  test("a sidecar refresh publishes NEW versioned dirs behind an exclusive marker — never an in-place overwrite — keeping one grace version") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-pqv")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    val root = IvfIndex.layoutRoot(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def names: Set[String] = fs
      .listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).toSet
    def markers: Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/_pq")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).toSet
    }

    IvfIndex.buildPqSidecar(spark, idx)
    assert(markers == Set("0") && names.contains("pqcodes-0") &&
      names.contains("pqbooks-0"),
      s"first build publishes version 0: markers=$markers dirs=$names")

    // refresh: version 1 lands in its OWN dirs; version 0 stays as
    // read grace (a reader that resolved marker 0 mid-refresh still
    // finds a CONSISTENT codes+books pair — the r17 in-place
    // overwrite could pair new codes with old books here)
    IvfIndex.buildPqSidecar(spark, idx)
    assert(markers == Set("0", "1") &&
      names.contains("pqcodes-0") && names.contains("pqcodes-1") &&
      names.contains("pqbooks-0") && names.contains("pqbooks-1"),
      s"refresh keeps the previous version as grace: " +
        s"markers=$markers dirs=$names")

    // a second refresh reclaims beyond-grace version 0 (marker first,
    // then dirs — no marker ever names missing dirs)
    IvfIndex.buildPqSidecar(spark, idx)
    assert(markers == Set("1", "2"),
      s"beyond-grace markers are reclaimed: $markers")
    assert(!names.contains("pqcodes-0") && !names.contains("pqbooks-0") &&
      names.contains("pqcodes-2") && names.contains("pqbooks-2"),
      s"beyond-grace dirs are reclaimed: $names")

    // serving resolves the max marker and stays exact
    val (pid2, pemb2) = probesOf(1).head
    val raw = IvfIndex.probeTopK(spark, idx, pemb2, k = 5,
      excludeId = Some(pid2)).collect().toSeq
    val adc = IvfIndex.probeTopKAdc(spark, idx, pemb2, k = 5,
      excludeId = Some(pid2)).collect().toSeq
    assert(adc == raw, s"serving after refreshes must stay exact")
  }

  test("FILTERED compressed serving equals the brute-force filtered scan at widened nprobe/shortlist, and stays codes-only") {
    import graft.operators.{ProductQuant, Similarity}
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-fpq")
      .toString
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildPqSidecar(spark, idx)
    val pemb = probesOf(1).head._2

    // at full nprobe + exhaustive shortlist, the filtered compressed
    // path must EQUAL the oracle-checked brute-force filtered scan —
    // the compressed tier's recall contract made exact
    val exact = Similarity.sFilteredTopk(spark, sfDir).collect().toSeq
    val cells = spark.read.parquet(
      s"${IvfIndex.layoutRoot(spark, idx)}/centroids").count().toInt
    val corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .count().toInt
    val served = IvfIndex.probeTopKAdc(spark, idx, pemb,
      k = 10, nprobe = cells, shortlist = corpus,
      excludeId = Some(Similarity.ProbeId),
      where = Some($"label" === Similarity.FilterLabel)).collect().toSeq
    assert(served == exact,
      s"filtered compressed serving must equal the filtered scan\n" +
        s"adc:   $served\nexact: $exact")

    // at production widths (survivor-rate-widened shortlist): every
    // row satisfies the predicate, recall stays high, and the plan
    // still reads codes — never floats — at the shortlist stage
    var rows = Array.empty[org.apache.spark.sql.Row]
    val plan = executedPlans {
      rows = IvfIndex.probeTopKAdc(spark, idx, pemb, k = 10,
        shortlist = ProductQuant.RerankShortlist * 10,
        excludeId = Some(Similarity.ProbeId),
        where = Some($"label" === Similarity.FilterLabel)).collect()
    }.mkString("\n")
    assert(rows.nonEmpty &&
      rows.forall(_.getInt(1) == Similarity.FilterLabel),
      "a filtered compressed probe must never return a non-matching row")
    val hits = exact.map(_.getLong(0))
      .count(rows.map(_.getLong(0)).toSet.contains)
    assert(hits >= 8, s"filtered compressed recall too low: $hits of 10")
    val pqScans = plan.linesIterator.filter(_.contains("pqcodes")).toSeq
    assert(pqScans.nonEmpty &&
      pqScans.forall(!_.contains("embedding")),
      s"the filtered form's pqcodes scan must stay codes-only:\n" +
        pqScans.mkString("\n"))
  }
}
