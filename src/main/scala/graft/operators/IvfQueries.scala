package graft.operators

import graft.sources.{LakeLayout, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IvfIndex._

/** The persisted IVF index's registry drives (SparkEntry's `s_ivf*`
  * queries) with their DuckDB oracle SQL. Each drive serves from an
  * index staged once per (sfDir, corpus fingerprint), so the timed span
  * measures [[IvfIndex]] serving, not the build it serves from. */
object IvfQueries {

  /** Process-lifetime staged PERSISTED index per (sfDir, corpus
    * fingerprint) — the same staging pattern as the lake registry
    * drives ([[graft.sources.LakeQueries]]): the timed registry span
    * measures SERVING from an existing index, not the one-time build it
    * serves from (warmup/fill runs absorb staging). Fingerprint-keyed
    * so a re-generated sfDir re-stages automatically. */
  private val stageCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), String]()

  private def stagedIndex(s: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      (dir, Similarity.corpusFingerprint(s, dir)), { _ =>
        val root = localStageDir(s, "graft-ivf-reg")
        build(s, dir, root)
        root
      })

  /** A fresh driver-local temp dir for a staged index. Driver-local
    * staging is a LOCAL-master-only drive convenience (same posture as
    * the lake registry staging): executors on a real cluster can't see
    * the driver's disk. */
  private def localStageDir(s: SparkSession, prefix: String): String = {
    require(s.sparkContext.master.startsWith("local"),
      "staged registry IVF index uses driver-local temp storage — " +
        "point build() at shared storage (HDFS/S3) on a non-local " +
        "master")
    java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Registry drive: BATCH ANN serving from the persisted index — a
    * 25-probe frame against the staged corpus index at the production
    * probe width. Rows-only by design: the centroids are engine-local
    * model state (no DuckDB twin ranks the same cells); correctness is
    * pinned by the batch-vs-per-probe parity spec (IvfBatchProbeSpec)
    * and the serving path's recall spec. */
  def sIvfBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" < 25)
      .select($"vec_id".as("probe_id"), $"embedding")
    probeTopKBatch(s, stagedIndex(s, dir), probes,
      k = 5, nprobe = Similarity.IvfProbes, excludeSelf = true)
      .orderBy($"probe_id", $"rank")
  }

  // sidecar staged at most once per staged index root
  private val pqStaged =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def stagedPqIndex(s: SparkSession, dir: String): String = {
    val root = stagedIndex(s, dir)
    pqStaged.computeIfAbsent(root, { _ => buildPqSidecar(s, root); true })
    root
  }

  /** Registry drive: serving from the COMPRESSED persisted index —
    * [[probeTopKAdc]] against the staged corpus index with its PQ
    * sidecar. Rows-only by design (engine-local centroids and
    * codebooks); correctness is pinned by IvfPqSidecarSpec's exact
    * parity with raw serving plus the no-floats plan assertion. */
  def sIvfPqServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    probeTopKAdc(s, stagedPqIndex(s, dir), probe,
      excludeId = Some(Similarity.ProbeId))
  }

  /** Registry drive: BATCH serving from the COMPRESSED persisted
    * index — [[probeTopKBatchAdc]] over the same 25-probe frame as
    * `s_ivf_batch`, against the staged index with its PQ sidecar.
    * Rows-only by design (engine-local centroids and codebooks);
    * correctness is pinned by the batch-ADC-vs-per-probe-ADC parity
    * spec plus the codes scan's no-floats plan assertion
    * (IvfPqSidecarSpec). */
  def sIvfPqBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" < 25)
      .select($"vec_id".as("probe_id"), $"embedding")
    probeTopKBatchAdc(s, stagedPqIndex(s, dir), probes,
      k = 5, nprobe = Similarity.IvfProbes, excludeSelf = true)
      .orderBy($"probe_id", $"rank")
  }

  // SQ8 sidecar staged at most once per staged index root
  private val sq8Staged =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def stagedSq8Index(s: SparkSession, dir: String): String = {
    val root = stagedIndex(s, dir)
    sq8Staged.computeIfAbsent(root, { _ => buildSq8Sidecar(s, root); true })
    root
  }

  /** Registry drive: serving from the SQ8 tier of the persisted index
    * — [[probeTopKSq8]] against the staged corpus index with its int8
    * sidecar, the middle rung of the raw ↔ SQ8 (4×) ↔ PQ (25×)
    * serving ladder now persisted end-to-end. Rows-only by design
    * (engine-local centroids); correctness is pinned by the
    * sq8-vs-raw parity spec plus the codes scan's no-floats plan
    * assertion (IvfSq8SidecarSpec recipe). */
  def sIvfSq8Serve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    probeTopKSq8(s, stagedSq8Index(s, dir), probe,
      excludeId = Some(Similarity.ProbeId))
  }

  /** Registry drive: FILTERED serving from the COMPRESSED persisted
    * index — [[probeTopKAdc]] with the standard metadata predicate
    * (`label = FilterLabel`, ~10 % of the corpus) at DEFAULT widths:
    * the shortlist widens itself by the MEASURED survivor rate
    * ([[widenedShortlist]]), so filtered + compressed — the query a
    * serving fleet actually runs (the reference's KB search is a
    * source-filtered match_count search) — carries no caller-managed
    * recall contract. Rows-only by design (engine-local centroids and
    * codebooks); correctness is pinned by the filtered-parity spec —
    * exact equality with the oracle-checked brute-force filtered scan
    * — plus the codes scan's no-floats plan assertion. */
  def sIvfPqFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    probeTopKAdc(s, stagedPqIndex(s, dir), probe,
      excludeId = Some(Similarity.ProbeId),
      where = Some($"label" === Similarity.FilterLabel))
  }

  /** Registry drive: BATCH serving from the SQ8 tier — the same
    * 25-probe frame as the other batch drives through
    * [[probeTopKSq8Batch]]. Rows-only by design (engine-local
    * centroids); correctness is pinned by the batch-vs-per-probe SQ8
    * parity spec plus the codes scan's no-floats plan assertion. */
  def sIvfSq8Batch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" < 25)
      .select($"vec_id".as("probe_id"), $"embedding")
    probeTopKSq8Batch(s, stagedSq8Index(s, dir), probes,
      k = 5, nprobe = Similarity.IvfProbes, excludeSelf = true)
      .orderBy($"probe_id", $"rank")
  }

  /** Process-lifetime staged index + lake for the DML-serving drive:
    * a corpus index joined by a lake of 100 shifted twins
    * (vec_id + 1e6) that is then CORRECTED and TAKEN DOWN through lake
    * DML — labels of the first 10 twins updated to 777, the next 10
    * twins deleted — and synced. The drive below serves from the
    * result; staging runs once per (sfDir, corpus fingerprint). */
  private val updateStageCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), String]()

  private def stagedUpdateIndex(s: SparkSession, dir: String): String =
    updateStageCache.computeIfAbsent(
      (dir, Similarity.corpusFingerprint(s, dir)),
      _ => stageDmlIndex(s, dir, "graft-ivf-upd"))

  /** A fresh corpus index in a driver-local temp dir with the lake-DML
    * history of the update and compaction drives synced in: 100
    * shifted twins appended, the first 10 relabeled 777, the next 10
    * deleted. */
  private def stageDmlIndex(s: SparkSession, dir: String,
      prefix: String): String = {
    val base = localStageDir(s, prefix)
    val idx = s"$base/index"
    val lake = s"$base/lake"
    build(s, dir, idx)
    val twins = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") < 100L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        col("embedding"))
    LakeLayout.appendToLake(s, lake, twins, "seed", 1L,
      statsKey = Some("vec_id"))
    LakeLayout.upsertIntoLake(s, lake,
      twins.filter(col("vec_id") < 1000010L)
        .withColumn("label", lit(777)),
      "vec_id", "fix", 2L)
    LakeLayout.deleteFromLake(s, lake,
      s.range(1000010L, 1000020L).select(col("id").as("vec_id")),
      "vec_id", "takedown", 3L)
    syncFromLake(s, lake, idx)
    idx
  }

  /** Registry drive: the lake-DML → sync → serve composition with an
    * EXACT oracle — the one ANN drive a SQL engine can hash-match,
    * because full nprobe (= every cell) makes IVF serving brute-force
    * exact while still riding the whole production path: versioned
    * tombstone events hide the 10 deleted twins and the 10 superseded
    * pre-images, the update post-images serve under their wave_v, and
    * the DuckDB twin computes top-k over the equivalent post-DML
    * state in pure SQL. */
  def sIvfUpdateServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = stagedUpdateIndex(s, dir)
    val pemb = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").collect().head
      .getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray
    probeTopK(s, idx, pemb, k = 20, nprobe = Similarity.IvfCells,
      excludeId = Some(Similarity.ProbeId))
  }

  /** DuckDB twin of [[sIvfUpdateServe]]: the post-DML corpus is the
    * base table plus the surviving twins (first 10 relabeled 777, ids
    * 10..19 absent), brute-force cosine top-20 with the Spark side's
    * exact NaN/zero-norm guard and tie-break. */
  val sIvfUpdateServeSql: String =
    s"""WITH aug AS (
         SELECT vec_id, label, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000,
           CASE WHEN vec_id < 10 THEN 777 ELSE label END AS label,
           embedding
         FROM embeddings
         WHERE vec_id < 100 AND NOT (vec_id >= 10 AND vec_id < 20)),
       p AS (SELECT embedding::DOUBLE[] AS p FROM embeddings
             WHERE vec_id = ${Similarity.ProbeId}),
       scored AS (
         SELECT vec_id, label,
           round(list_cosine_similarity(embedding::DOUBLE[], p.p), 3) AS sim
         FROM aug, p
         WHERE vec_id <> ${Similarity.ProbeId}
           AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
       SELECT vec_id, label, sim FROM scored
       WHERE sim IS NOT NULL AND NOT isnan(sim)
       ORDER BY sim DESC, vec_id LIMIT 20"""

  /** Process-lifetime staged index for the COMPACTION drive: the same
    * lake-DML history as [[stagedUpdateIndex]] (twins appended, 10
    * relabeled 777, 10 deleted) synced in, then
    * [[compactTombstones]] makes the hidden rows physical under the
    * frozen centroids — with both compressed sidecars committed
    * BEFORE the compaction so the drive exercises the sidecar carry,
    * not just the vector rewrite. */
  private val compactStageCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), String]()

  private def stagedCompactIndex(s: SparkSession, dir: String): String =
    compactStageCache.computeIfAbsent(
      (dir, Similarity.corpusFingerprint(s, dir)), { _ =>
        val idx = stageDmlIndex(s, dir, "graft-ivf-cmp")
        buildPqSidecar(s, idx)
        buildSq8Sidecar(s, idx)
        require(compactTombstones(s, idx),
          "staged compaction drive: the synced DML must leave tombstones")
        idx
      })

  /** Registry drive: the lake-DML → sync → COMPACT → serve composition
    * with an EXACT oracle — [[compactTombstones]] makes the takedowns
    * and superseded pre-images physical (frozen centroids, byte-copied
    * untouched files, carried sidecars), and full-nprobe serving over
    * the compacted index must hash-match the same pure-SQL post-DML
    * truth as [[sIvfUpdateServe]]: compaction is serving-invariant by
    * construction, and this drive pins that against DuckDB. */
  def sIvfCompactServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = stagedCompactIndex(s, dir)
    val pemb = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").collect().head
      .getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray
    probeTopK(s, idx, pemb, k = 20, nprobe = Similarity.IvfCells,
      excludeId = Some(Similarity.ProbeId))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("s_ivf_batch" -> (sIvfBatch _),
      "s_ivfpq_serve" -> (sIvfPqServe _),
      "s_ivfpq_batch" -> (sIvfPqBatch _),
      "s_ivfpq_filtered" -> (sIvfPqFiltered _),
      "s_ivfsq8_serve" -> (sIvfSq8Serve _),
      "s_ivfsq8_batch" -> (sIvfSq8Batch _),
      "s_ivf_update_serve" -> (sIvfUpdateServe _),
      "s_ivf_compact_serve" -> (sIvfCompactServe _))
  val oracle: Map[String, String] =
    Map("s_ivf_update_serve" -> sIvfUpdateServeSql,
      // compaction is serving-invariant: the post-DML truth is the
      // same as the update drive's
      "s_ivf_compact_serve" -> sIvfUpdateServeSql)
}
