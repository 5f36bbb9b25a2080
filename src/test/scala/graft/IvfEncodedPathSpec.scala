package graft

import graft.operators.{IvfIndex, Similarity}
import graft.sources.LakeLayout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The compressed tiers pick their uncompacted tail out of the vectors
  * relation by `_metadata.file_path`, which Spark reports URI-encoded.
  * Under an index path that needs encoding (a space and a `%`), a
  * mismatch between listed and reported paths would silently drop the
  * tail: here PQ and SQ8 serving, single and batch, at every cell and
  * an exhaustive shortlist must equal raw serving, whose top hits are
  * tail rows. */
class IvfEncodedPathSpec extends SparkSuite {
  import spark.implicits._

  test("PQ and SQ8 serve their tail under an index path holding a space and a %") {
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-enc")
    val idx = s"$base/index dir 100%"
    val lake = s"$base/feed"
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildPqSidecar(spark, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)

    // a synced wave of exact twins of the probes: after the sidecars,
    // so every twin is a tail row; spread over several lake files, so
    // the sync's write sees several partitions per cell
    val corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val wave = corpus.filter($"vec_id" < 30L)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"label", $"embedding")
      .repartition(4)
    LakeLayout.appendToLake(spark, lake, wave, "feed", 1L,
      statsKey = Some("vec_id"))
    assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    val root = IvfIndex.layoutRoot(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val waveFiles = IvfIndex.listVectorFiles(fs, s"$root/vectors")
      .filter(_.contains("/lsync-"))
    val waveCells = waveFiles.map(f =>
      f.substring(f.indexOf("cell="), f.lastIndexOf('/')))
    assert(waveFiles.nonEmpty && waveFiles.size == waveCells.size,
      s"a synced wave writes one file per cell: $waveFiles")

    val cells = Similarity.IvfCells
    val width = corpus.count().toInt + 30
    val probes = corpus.orderBy($"vec_id").limit(4).collect().toSeq
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray))
    probes.foreach { case (id, emb) =>
      val raw = IvfIndex.probeTopK(spark, idx, emb, k = 5, nprobe = cells,
        excludeId = Some(id)).collect().toSeq
      assert(raw.exists(_.getAs[Long]("vec_id") == id + 1000000L),
        s"the probe's tail twin must serve in raw serving: $raw")
      val pq = IvfIndex.probeTopKAdc(spark, idx, emb, k = 5, nprobe = cells,
        shortlist = width, excludeId = Some(id)).collect().toSeq
      val sq8 = IvfIndex.probeTopKSq8(spark, idx, emb, k = 5, nprobe = cells,
        shortlist = width, excludeId = Some(id)).collect().toSeq
      assert(pq == raw, s"probe $id: PQ dropped its tail\nraw: $raw\npq:  $pq")
      assert(sq8 == raw, s"probe $id: SQ8 dropped its tail\nraw: $raw\nsq8: $sq8")
    }

    val batch = probes.toDF("probe_id", "embedding")
    def sorted(df: DataFrame) = df.orderBy($"probe_id", $"rank").collect().toSeq
    val rawBatch = sorted(IvfIndex.probeTopKBatch(spark, idx, batch, k = 5,
      nprobe = cells, excludeSelf = true))
    assert(probes.forall { case (id, _) => rawBatch.exists(r =>
      r.getAs[Long]("probe_id") == id &&
        r.getAs[Long]("vec_id") == id + 1000000L) },
      s"each probe's tail twin must serve in raw batch serving: $rawBatch")
    val pqBatch = sorted(IvfIndex.probeTopKBatchAdc(spark, idx, batch, k = 5,
      nprobe = cells, shortlist = width, excludeSelf = true))
    val sq8Batch = sorted(IvfIndex.probeTopKSq8Batch(spark, idx, batch, k = 5,
      nprobe = cells, shortlist = width, excludeSelf = true))
    assert(pqBatch == rawBatch, s"batch PQ dropped its tail\nraw: $rawBatch\npq:  $pqBatch")
    assert(sq8Batch == rawBatch, s"batch SQ8 dropped its tail\nraw: $rawBatch\nsq8: $sq8Batch")
    // the health row counts the same tail
    assert(describe(idx, "pq_tail_frac") == 30.0 / (corpus.count() + 30) &&
      describe(idx, "sq8_tail_frac") == 30.0 / (corpus.count() + 30))
  }

  private def describe(idx: String, metric: String): Double =
    IvfIndex.describeIvf(spark, idx).select(metric).head().getDouble(0)
}
