package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar (int8) quantization — the MIDDLE tier of the compression
  * hierarchy the serving fleet actually deploys (ref: backend's vector
  * search surface, `services/voyage.py:1-48`, re-expressed as Faiss's
  * SQ8 shape): raw float32 for exact re-ranks, SQ8 at 4× compression
  * when PQ's 25× is too lossy for the recall budget, PQ/IVFADC for the
  * cold bulk. A unit vector's components lie in [-1, 1], so symmetric
  * per-component quantization `q_i = round(127 · u_i)` stores each
  * dimension in ONE signed byte (64-dim × 1 B = 64 B/vector vs 256 B
  * raw — a 100 TB float corpus serves from 25 TB of codes) with a
  * per-component error ≤ 1/254 and NO codebook to train, drift, or
  * refresh — the operational simplicity that makes SQ8 the default
  * first compression step in production ANN stacks.
  *
  * Scoring is asymmetric like the PQ path: the query stays an exact
  * float vector and the approximate cosine is `<q, p>/127` — a single
  * codegen'd dot over the byte codes upcast in-register (the 4× win is
  * scan I/O and cache residency; nothing per-row but multiply-adds).
  * Ranking is monotone in the true cosine up to the quantization
  * error, so the TWO-STAGE recipe ([[sSq8Rerank]]) shortlists on codes
  * and re-ranks only the shortlist with exact cosine — equal to the
  * exact scan whenever the true top-k survives the cut (spec-gated
  * margin, same contract as [[ProductQuant.sPqRerank]]), which lets
  * the registry hash-check it against the SAME DuckDB oracle as the
  * brute-force scan. Codes build in one map-side pass (no shuffle, no
  * training job); the PERSISTED, generation-pinned tier lives in
  * [[IvfIndex.buildSq8Sidecar]] / [[IvfIndex.probeTopKSq8]] (same
  * versioned-marker publish as the PQ sidecar, same encoding as here —
  * spec-pinned), so this module keeps the corpus-drive form. */
object ScalarQuant {

  /** Shortlist for the exact re-rank stage: wide enough that the true
    * top-10 provably survives the int8 cut at every test SF
    * (ScalarQuantSpec pins a ≥2× margin), tiny against the corpus. */
  val Shortlist = 256

  /** The int8 codes of unit vectors `u`: `q_i = round(127·u_i)`, one
    * signed byte per dimension — the one encoding the corpus drive and
    * the persisted SQ8 tier ([[IvfIndex.buildSq8Sidecar]]) share. */
  private[graft] def sq8Encode(u: Column): Column =
    transform(u, x => round(x * 127).cast("tinyint"))

  /** The dot of the int8 codes `q` with a float `probe`, the codes
    * upcast in-register. */
  private[graft] def sq8Dot(probe: Column): Column =
    VectorFunctions.dot(transform(col("q"), c => c.cast("double")), probe)

  /** The approximate cosine of the int8 codes `q` against a unit
    * `probe`: `<q, p>/127`. */
  private[graft] def sq8Score(probe: Column): Column = sq8Dot(probe) / 127.0

  private def e(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private def probeUnit(s: SparkSession, dir: String): Array[Double] = {
    import s.implicits._
    val v = e(s, dir).filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** The corpus's int8 codes: (vec_id, label, q) with `q` an
    * `array<tinyint>` — the 1-byte/dim representation a serving fleet
    * would persist (spec asserts the schema, so the 4× claim is
    * structural, not aspirational). One map-side pass, no training. */
  private[graft] def sq8Codes(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    ProductQuant.withUnit(e(s, dir))
      .withColumn("q", sq8Encode($"u"))
      .select($"vec_id", $"label", $"q")
  }

  /** Corpus ranked by the int8 approximate cosine: codes scored
    * against the exact float probe (asymmetric, like ADC). */
  private[graft] def sq8Ranked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = probeUnit(s, dir)
    val pc = array(p.map(lit): _*)
    sq8Codes(s, dir)
      .filter($"vec_id" =!= Similarity.ProbeId)
      .withColumn("approx", sq8Score(pc))
      .select($"vec_id", $"label", $"approx")
      .orderBy($"approx".desc, $"vec_id")
  }

  /** Two-stage SQ8 serving: int8 shortlist, exact cosine re-rank of
    * ONLY the shortlist — equals the exact scan (oracle hash-checked
    * against [[Similarity.sCosineTopkSql]]). At scale the float read
    * is `shortlist` rows via a broadcast semi-join, never the corpus. */
  def sSq8Rerank(s: SparkSession, dir: String, k: Int = 10,
      shortlist: Int = Shortlist): DataFrame = {
    import s.implicits._
    val cand = sq8Ranked(s, dir).limit(shortlist).select($"vec_id")
    val probe = e(s, dir).filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding".as("p"))
    e(s, dir).join(broadcast(cand), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(probe))
      .withColumn("sim", round(VectorFunctions.cosine($"embedding", $"p"), 3))
      .filter(!isnan($"sim") && $"sim".isNotNull)
      .select($"vec_id", $"label", $"sim")
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
  }

  // ----------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_sq8_rerank" -> ((s: SparkSession, dir: String) => sSq8Rerank(s, dir)))

  /** The two-stage form re-ranks exactly, so it shares the exact
    * scan's truth (the same posture as `s_pq_rerank`). */
  val oracle: Map[String, String] = Map(
    "s_sq8_rerank" -> Similarity.sCosineTopkSql)
}
