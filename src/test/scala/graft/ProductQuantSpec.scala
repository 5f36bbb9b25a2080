package graft

import graft.functions.VectorFunctions
import graft.operators.{ProductQuant, Similarity}
import org.apache.spark.sql.Column

/** Gates for the PQ/ADC path: codebook shape + determinism, the
  * shortlist-margin guarantee behind s_pq_rerank's ORACLE claim (the
  * exact top-10 must survive the approximate cut with headroom at
  * every test SF), and ADC recall floors for the pure-quantized
  * ranking. */
class ProductQuantSpec extends SparkSuite {
  import ProductQuantSpec._

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  test("codebooks have the declared shape and re-derive identically") {
    val cb = ProductQuant.pqCodebooks(spark, sfDir)
    assert(cb.length == ProductQuant.Subspaces)
    assert(cb.forall(_.length == ProductQuant.CodebookSize))
    assert(cb.forall(_.forall(_.length == 64 / ProductQuant.Subspaces)))
    ProductQuant.clearCodebookCache()
    val cb2 = ProductQuant.pqCodebooks(spark, sfDir)
    assert(cb.zip(cb2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) }
    }, "retraining on the same corpus must yield identical codebooks")
  }

  test("native pq_encode equals the HOF argmax bit-for-bit") {
    // r21: codesCol became one codegen'd triple loop (PqEncodeCodes);
    // this pins it to the interpreted HOF reference on the real corpus —
    // every row, exact array equality (same dots, same Double.compare
    // tie-break toward the higher code).
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    val cb = ProductQuant.pqCodebooks(spark, sfDir)
    val (m, d) = (cb.length, cb(0)(0).length)
    val df = ProductQuant.withUnit(
        graft.sources.Tables.load(spark, sfDir, "embeddings"))
      .crossJoin(broadcast(ProductQuant.packedBooks(spark, cb)))
      .select(col("vec_id"),
        ProductQuant.codesCol(m, d).as("native"),
        codesColHof(m, d).as("hof"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val bad = rows.filter(r =>
      r.getAs[scala.collection.Seq[Int]]("native") !=
        r.getAs[scala.collection.Seq[Int]]("hof"))
    assert(bad.isEmpty,
      s"${bad.length} rows with differing PQ codes, first: ${bad.headOption}")
  }

  test("native adc_sum equals the element_at chain bit-for-bit") {
    // r21: adcScoreWith became one codegen'd loop (AdcSum); pin it to
    // the element_at-chain reference over the real encoded corpus with
    // a real probe LUT — same left-fold addition order, exact doubles.
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    val cb = ProductQuant.pqCodebooks(spark, sfDir)
    val (m, ks) = (cb.length, cb(0).length)
    val d = cb(0)(0).length
    val probe = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy("vec_id").limit(1).collect().head
      .getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
    val n = math.sqrt(probe.map(x => x * x).sum)
    val lut = ProductQuant.lutFor(cb, probe.map(_ / n))
    val lutCol = array(lut.map(lit): _*)
    val df = ProductQuant.withUnit(
        graft.sources.Tables.load(spark, sfDir, "embeddings"))
      .crossJoin(broadcast(ProductQuant.packedBooks(spark, cb)))
      .withColumn("codes", ProductQuant.codesCol(m, d))
      .select(col("vec_id"),
        ProductQuant.adcScoreWith(lutCol, m, ks).as("native"),
        adcScoreWithHof(lutCol, m, ks).as("hof"),
        // the single-probe form: the LUT as one array literal
        ProductQuant.adcScore(lut, m, ks).as("literal"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val bad = rows.filter(r => Seq("native", "literal").exists(c =>
      java.lang.Double.compare(r.getAs[Double](c),
        r.getAs[Double]("hof")) != 0))
    assert(bad.isEmpty,
      s"${bad.length} rows with differing ADC scores, first: ${bad.headOption}")
  }

  test("exact top-10 survives the ADC shortlist cut with margin") {
    for (dir <- sfs) {
      val exactIds = Similarity.sCosineTopk(spark, dir).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val adcOrder = ProductQuant.adcRanked(spark, dir).collect()
        .map(_.getAs[Long]("vec_id"))
      val positions = exactIds.map(id => adcOrder.indexOf(id) + 1)
      val worst = positions.max
      info(s"$dir: worst ADC rank of a true top-10 member = $worst " +
        s"(shortlist = ${ProductQuant.RerankShortlist})")
      // the oracle claim on s_pq_rerank is exactly this containment;
      // require headroom so a marginally different corpus can't break it
      assert(worst <= ProductQuant.RerankShortlist / 2,
        s"$dir: true neighbor at ADC rank $worst exceeds half the " +
          s"${ProductQuant.RerankShortlist}-wide shortlist")
    }
  }

  test("two-stage PQ rerank equals the exact scan at every test SF") {
    for (dir <- sfs) {
      val exact = Similarity.sCosineTopk(spark, dir).collect().toSeq
      val rr = ProductQuant.sPqRerank(spark, dir).collect().toSeq
      assert(rr == exact, s"$dir: rerank diverged from the exact top-10")
    }
  }

  test("IVF-PQ returns exactly the IVF path's answer at every test SF") {
    for (dir <- sfs) {
      val ivf = Similarity.sIvfTopk(spark, dir).collect().toSeq
      val ivfpq = ProductQuant.sIvfPqTopk(spark, dir).collect().toSeq
      assert(ivfpq == ivf,
        s"$dir: IVF-PQ diverged from the IVF exact-within-cells answer")
    }
  }

  test("pure-ADC ranking has a recall floor and deterministic output") {
    for (dir <- sfs) {
      val exactIds = Similarity.sCosineTopk(spark, dir).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val pq = ProductQuant.sPqTopk(spark, dir).collect()
      val recall = (pq.map(_.getAs[Long]("vec_id")).toSet & exactIds).size / 10.0
      info(s"$dir: ADC recall@10 = $recall")
      // top-10 membership is volatile on a wide-angle corpus (true
      // neighbors at cosine 0.27-0.37 separated by ~quantization
      // noise); the load-bearing guarantee is the shortlist-margin
      // test above — this floor only catches a broken codebook
      assert(recall >= 0.3, s"$dir: ADC recall@10 $recall below floor")
      val again = ProductQuant.sPqTopk(spark, dir).collect()
      assert(pq.toSeq == again.toSeq, "ADC ranking must be deterministic")
    }
  }
}

/** The pre-native forms the PQ expressions are checked against.
  * Production never calls them. */
object ProductQuantSpec {
  import org.apache.spark.sql.functions._

  /** The HOF form of `ProductQuant.codesCol`: per subspace, argmax over
    * the codebook entries of `<u_j, cvec> − half`. */
  def codesColHof(m: Int, d: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j =>
      array_max(transform(element_at(col("books"), j + lit(1)), en =>
        struct(
          (VectorFunctions.dot(
            slice(col("u"), j * lit(d) + lit(1), lit(d)),
            en.getField("cvec")) - en.getField("half")).as("score"),
          en.getField("code").as("code")))).getField("code"))

  /** The element_at chain `adc_sum` replaced: one LUT lookup per
    * subspace, summed left to right. */
  def adcScoreWithHof(lut: Column, m: Int, ks: Int): Column =
    (0 until m).map(j =>
      element_at(lut, col("codes")(j) + j * ks + lit(1))).reduce(_ + _)
}
