package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-bounded ANN path for
  * embedding corpora that are too large to scan as raw floats
  * (ref: backend's vector search surface, `services/voyage.py:1-48`,
  * re-expressed as the standard billion-scale serving shape:
  * Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011 — the ADC recipe behind Faiss).
  *
  * The corpus's unit vectors are split into `m` contiguous subspaces;
  * each subspace gets its own `ks`-centroid codebook (Lloyd, trained
  * once per corpus), and every vector is stored as `m` small codes —
  * 64-dim float32 (256 B) becomes 16 5-bit codes (10 B), a ~25×
  * compression that turns a 100 TB embedding corpus into ~4 TB of
  * codes, scannable from memory across a fleet. Queries score by
  * ASYMMETRIC DISTANCE COMPUTATION (ADC): the query stays exact, a
  * per-query lookup table `LUT[j][c] = <q_j, codebook_j[c]>` is built
  * on the driver (m·ks doubles — one flat literal array), and each
  * row's approximate cosine is `Σ_j LUT[j][codes[j]]` — m array
  * lookups + adds per row, all codegen'd built-ins, no UDF and no
  * per-row float vector in the hot scan.
  *
  * Plan-size discipline: the codebook reaches executors as a ONE-ROW
  * BROADCAST of `m` packed entry arrays (the same posture as
  * [[IvfIndex.assignCells]] — the r14 K×dim literal-blowup hazard,
  * kept closed here), so assignment plan size is independent of m·ks;
  * the nested `transform`/`array_max` argmax stays inside codegen.
  *
  * Determinism: codebooks train with the same fixed-point-mean Lloyd
  * as the IVF path ([[Similarity.trainIvfCentroidsFrom]]'s posture) —
  * seeds are the lowest-`vec_id` vectors, per-iteration means are
  * exact scaled-integer sums (shuffle-arrival order cannot perturb
  * them), and assignment tie-breaks on code index — so codes, LUTs,
  * and rankings are bit-stable across runs and cluster layouts.
  *
  * Scale notes: training is O(iters · n · m · ks · dsub) map work +
  * an m·ks·dsub-row aggregate (collects only model state, bounded);
  * encoding is a single map-side pass over a broadcast codebook (no
  * shuffle); ADC search is one narrow-projection scan (codes only —
  * 8 B/row) + TakeOrderedAndProject. The two-stage serving recipe
  * ([[sPqRerank]]) shortlists with ADC over codes and re-ranks only
  * the shortlist with exact cosine — the standard way PQ serves
  * recall≈1 results while touching raw floats for only `shortlist`
  * rows per query. */
object ProductQuant {

  /** 64-dim corpus → 16 subspaces of 4 dims (finer than the classic
    * 8×8 split: this corpus lives at wide angles — max pairwise cosine
    * ≈ 0.5 — so per-subspace quantization noise must stay small for
    * ADC ranking to track the exact one). */
  val Subspaces = 16
  /** Codes per subspace (5-bit codes; raise to 256 at production
    * scale for 8-bit codes — sample-scale corpora would memorize). */
  val CodebookSize = 32
  val TrainIters = 6
  /** ADC shortlist size for the re-rank stage: wide enough that the
    * exact top-10 provably survives the approximate cut at every test
    * SF (recall gate in ProductQuantSpec), small enough that the
    * exact stage touches ~shortlist rows, not the corpus. */
  val RerankShortlist = 384

  private def e(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Unit-normalized corpus (zero-norm rows dropped — same guard as
    * the exact path, so PQ never ranks a degenerate vector). */
  private def unitVecs(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    e(s, dir)
      .withColumn("nrm", VectorFunctions.l2Norm($"embedding"))
      .filter($"nrm" > 0.0)
      .select($"vec_id", $"label",
        transform($"embedding", x => x.cast("double") / $"nrm").as("u"))
  }

  /** Adds the unit-vector column `u` to any frame carrying an
    * `embedding` column, dropping zero-norm rows — the normalization
    * contract every PQ surface (corpus drives and the persisted-index
    * sidecar) shares. */
  private[graft] def withUnit(df: DataFrame): DataFrame =
    df.withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      .filter(col("nrm") > 0.0)
      .withColumn("u",
        transform(col("embedding"), x => x.cast("double") / col("nrm")))
      .drop("nrm")

  /** One-row broadcastable frame holding the whole codebook as
    * `books: Array[Array[struct(code, cvec, half)]]` indexed by
    * subspace — entry arrays sorted by code, outer array by subspace
    * (array_sort on structs orders by the leading field). */
  private[graft] def packedBooks(s: SparkSession,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    cb.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, i) =>
        (j, i, c, c.map(x => x * x).sum / 2.0)
      }
    }.toSeq.toDF("sub", "code", "cvec", "half")
      .groupBy($"sub")
      .agg(array_sort(collect_list(struct($"code", $"cvec", $"half")))
        .as("entries"))
      .agg(transform(array_sort(collect_list(struct($"sub", $"entries"))),
        x => x.getField("entries")).as("books"))
  }

  /** All-m-subspaces assignment over the broadcast `books` column:
    * for each subspace j, argmin_c ‖x_j − c‖² ≡ argmax_c (<x_j, c> −
    * ‖c‖²/2); half-norms ride the packed entries, ties break on the
    * higher code index. Plan size is O(1) in m·ks.
    *
    * Native since round 21: one codegen'd triple loop per row
    * ([[graft.functions.PqEncodeCodes]]) instead of m·ks interpreted
    * HOF lambdas each slicing a fresh subvector copy — the encode pass
    * dominated every PQ drive's wall-clock (guide §4: eliminate
    * non-codegen expressions in the hot path). Bit-identical to the
    * HOF form (same dot order, same Double.compare tie-break) — pinned
    * by ProductQuantSpec's equivalence case against its test-scope
    * `codesColHof`. */
  private[graft] def codesCol(m: Int, d: Int): Column =
    VectorFunctions.pqEncode(col("u"), col("books"))

  // one training per (corpus, shape) per JVM — model state, bounded
  private val codebookCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Int, Int, Int), Array[Array[Array[Double]]]]()
  def clearCodebookCache(): Unit = codebookCache.clear()

  private[graft] def pqCodebooks(s: SparkSession, dir: String,
      m: Int = Subspaces, ks: Int = CodebookSize,
      iters: Int = TrainIters): Array[Array[Array[Double]]] =
    codebookCache.computeIfAbsent(
      (dir, Similarity.corpusFingerprint(s, dir), m, ks, iters),
      _ => trainCodebooks(s, dir, m, ks, iters))

  private def trainCodebooks(s: SparkSession, dir: String,
      m: Int, ks: Int, iters: Int): Array[Array[Array[Double]]] = {
    import s.implicits._
    trainCodebooksFrom(s, unitVecs(s, dir).select($"vec_id", $"u"),
      m, ks, iters)
  }

  /** Lloyd training over an arbitrary (vec_id, u) unit-vector frame —
    * the corpus-table path above and the persisted-index PQ sidecar
    * ([[IvfIndex.buildPqSidecar]], which trains on the INDEX's own
    * vectors) share it. */
  private[graft] def trainCodebooksFrom(s: SparkSession,
      unitFrame: DataFrame,
      m: Int, ks: Int, iters: Int): Array[Array[Array[Double]]] = {
    import s.implicits._
    val uv = unitFrame.cache()
    val dim = uv.select(size($"u")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    // deterministic seeds: the ks lowest-id unit vectors' subvectors
    val seeds = uv.orderBy($"vec_id").limit(ks).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("u").toArray)
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => Array.tabulate(ks)(c =>
        seeds(c % seeds.length).slice(j * d, j * d + d)))
    for (_ <- 0 until iters) {
      // assign all m codes in one broadcast pass, then the same exact
      // fixed-point mean as the IVF trainer — unit components are in
      // [-1,1], so a 1e7-scaled long sum is exact and order-
      // independent. Collect is bounded at m·ks·d rows of model state.
      val rows = uv.crossJoin(broadcast(packedBooks(s, cb)))
        .select($"u", posexplode(codesCol(m, d)).as(Seq("sub", "code")))
        .select($"sub", $"code",
          posexplode(slice($"u", $"sub" * lit(d) + lit(1), lit(d))))
        .groupBy($"sub", $"code", $"pos")
        .agg(sum(round($"col" * 1e7).cast("long")).as("fx"),
          count(lit(1)).as("cnt"))
        .collect()
      val grouped = rows.groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("code")))
      cb = Array.tabulate(m)(j => Array.tabulate(ks)(c =>
        grouped.get((j, c)).fold(cb(j)(c)) { rs =>
          val v = new Array[Double](d)
          rs.foreach(r => v(r.getAs[Int]("pos")) =
            r.getAs[Long]("fx").toDouble / (1e7 * r.getAs[Long]("cnt")))
          v // subspace MEANS — PQ centroids are not renormalized
        }))
    }
    uv.unpersist()
    cb
  }

  /** Corpus with its PQ codes — the compressed representation a
    * serving fleet would persist instead of raw floats. */
  private[graft] def encoded(s: SparkSession, dir: String,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val (m, d) = (cb.length, cb(0)(0).length)
    unitVecs(s, dir)
      .crossJoin(broadcast(packedBooks(s, cb)))
      .withColumn("codes", codesCol(m, d))
      .drop("books")
  }

  private def probeUnit(s: SparkSession, dir: String): Array[Double] = {
    import s.implicits._
    val r = e(s, dir).filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").head()
    val v = r.getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Per-query ADC lookup table: LUT[j·ks + c] = <q_j, codebook_j[c]>
    * for a UNIT query vector — m·ks doubles of driver-side model
    * state. */
  private[graft] def lutFor(cb: Array[Array[Array[Double]]],
      qUnit: Array[Double]): Array[Double] = {
    val (ks, d) = (cb(0).length, cb(0)(0).length)
    Array.tabulate(cb.length * ks) { i =>
      val (j, c) = (i / ks, i % ks)
      cb(j)(c).zipWithIndex.map { case (x, p) => x * qUnit(j * d + p) }.sum
    }
  }

  /** ADC score over `codes` for a LUT that rides as a COLUMN — the
    * batch-serving form, where each probe row carries its own LUT
    * ([[lutCol]]). Native since r21 ([[graft.functions.AdcSum]]): one
    * codegen'd loop with ONE LUT reference — the previous element_at
    * chain referenced the LUT m times, which for the single-probe
    * callers ([[adcScore]]) inlined the m·ks-literal LUT m times and
    * made every PQ drive's plan ~180 KB. Bit-identical fold order;
    * pinned by ProductQuantSpec against its test-scope
    * `adcScoreWithHof`. */
  private[graft] def adcScoreWith(lut: Column, m: Int, ks: Int): Column =
    VectorFunctions.adcSum(col("codes"), lut)

  /** ADC score over `codes` for a prepared LUT: m 1-based array
    * lookups + adds — nothing per-row but integer indexing. The LUT
    * is m·ks doubles, ONE array literal (not an array of m·ks literal
    * children, which every Dataset step re-analyzes). */
  private[graft] def adcScore(lut: Array[Double], m: Int, ks: Int): Column =
    adcScoreWith(typedLit(lut), m, ks)

  /** Per-PROBE LUT as a column — [[lutFor]] lifted into the plan for
    * batch serving: given a probe vector column `p` (RAW, double) and
    * the one-row broadcast `books` column ([[packedBooks]]), build the
    * flat m·ks LUT with `LUT[j·ks + c] = <p_j, codebook_j[c]>`. Entry
    * arrays are code-sorted, so flatten preserves [[adcScoreWith]]'s
    * `j·ks + c` indexing. Plan size is O(1) in m·ks — the books ride
    * as DATA, the probes each carry m·ks computed doubles.
    *
    * DELIBERATELY UNNORMALIZED: ADC scores only ever rank candidates
    * within one probe, and scaling by the probe's norm cannot change a
    * per-probe ordering — so the LUT skips the unit division entirely.
    * This is a hot-path width rule, not a micro-optimization: higher-
    * order lambdas evaluate interpreted, and a unit-vector column
    * referenced inside the per-entry lambda re-derives the WHOLE
    * normalization per LUT entry (m·ks × dim² interpreted ops per
    * probe — measured at ~20 s for a 25-probe batch before this). */
  private[graft] def lutCol(p: Column, d: Int): Column =
    flatten(transform(col("books"), (entries, j) =>
      transform(entries, en =>
        VectorFunctions.dot(slice(p, j * lit(d) + lit(1), lit(d)),
          en.getField("cvec")))))

  private[graft] def adcRanked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cb = pqCodebooks(s, dir)
    val (m, ks) = (cb.length, cb(0).length)
    val lut = lutFor(cb, probeUnit(s, dir))
    encoded(s, dir, cb)
      .filter($"vec_id" =!= Similarity.ProbeId)
      .withColumn("adc", round(adcScore(lut, m, ks), 3))
      .select($"vec_id", $"label", $"adc")
      .orderBy($"adc".desc, $"vec_id")
  }

  /** Pure-ADC top-k: ranks the whole corpus by quantized cosine.
    * Approximate by construction (engine-local codebooks) → rows-only
    * check; the recall gate vs the exact scan lives in
    * ProductQuantSpec. */
  def sPqTopk(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    adcRanked(s, dir).limit(k)

  /** Two-stage PQ serving: ADC shortlist over codes, exact cosine
    * re-rank of ONLY the shortlist. The shortlist is wide enough that
    * the true top-10 survives the cut (spec-gated recall), so the
    * result EQUALS the exact scan — oracle hash-checked against
    * [[Similarity.sCosineTopkSql]], the strongest claim an ANN path
    * can make. At scale the raw-float read is `shortlist` rows via a
    * broadcast semi-join, not a corpus scan. */
  def sPqRerank(s: SparkSession, dir: String, k: Int = 10,
      shortlist: Int = RerankShortlist): DataFrame = {
    import s.implicits._
    val cand = adcRanked(s, dir).limit(shortlist).select($"vec_id")
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

  /** IVF-PQ (Faiss's IVFADC shape, by_residual=false): the coarse IVF
    * quantizer prunes the scan to `nprobe` of the cells, PQ codes
    * stand in for raw floats INSIDE the probed cells, and exact
    * cosine re-ranks only the ADC shortlist. Per-query read at scale:
    * (nprobe/cells) of the CODE table (~25× smaller than the float
    * table) + `shortlist` raw rows — the compounding that makes ANN
    * serving tractable at 100 TB. Spec-pinned (ProductQuantSpec) to
    * return EXACTLY [[Similarity.sIvfTopk]]'s answer at every test
    * SF: the PQ stage provably changes what gets READ, never the
    * result. Rows-only in the registry (engine-local centroids and
    * codebooks — same posture as `s_ivf_topk`). */
  def sIvfPqTopk(s: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = Similarity.IvfProbes,
      shortlist: Int = RerankShortlist): DataFrame = {
    import s.implicits._
    val cents = Similarity.ivfCentroids(s, dir, Similarity.IvfCells,
      Similarity.IvfIters)
    val q = probeUnit(s, dir)
    val probeCells = cents.zipWithIndex
      .map { case (c, i) => (c.zip(q).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (sim, i) => (-sim, i) }.take(nprobe).map(_._2)
    val cb = pqCodebooks(s, dir)
    val (m, ks) = (cb.length, cb(0).length)
    val lut = lutFor(cb, q)
    // same argmax/tie-break semantics as sIvfTopk's assignment (dot on
    // the unit vector is positive-scale equivalent to dot on the raw)
    val cellExpr = array_max(array(cents.zipWithIndex.map { case (c, i) =>
      struct(VectorFunctions.dot($"u", array(c.map(lit): _*)).as("sim"),
        lit(i).as("cell"))
    }: _*)).getField("cell")
    val cand = encoded(s, dir, cb)
      .withColumn("cell", cellExpr)
      .filter($"cell".isin(probeCells: _*) &&
        $"vec_id" =!= Similarity.ProbeId)
      .withColumn("adc", adcScore(lut, m, ks))
      .orderBy($"adc".desc, $"vec_id").limit(shortlist)
      .select($"vec_id")
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
    "s_pq_topk" -> ((s: SparkSession, dir: String) => sPqTopk(s, dir)),
    "s_pq_rerank" -> ((s: SparkSession, dir: String) => sPqRerank(s, dir)),
    "s_ivfpq_topk" -> ((s: SparkSession, dir: String) => sIvfPqTopk(s, dir)))

  /** s_pq_topk and s_ivfpq_topk are approximate / engine-local-model
    * queries → rows-only (spec substitutes: recall floor, shortlist
    * margin, exact sIvfTopk parity); s_pq_rerank re-ranks exactly and
    * shares the exact scan's truth. */
  val oracle: Map[String, String] = Map(
    "s_pq_rerank" -> Similarity.sCosineTopkSql)
}
