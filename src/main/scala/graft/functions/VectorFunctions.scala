package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns as pure
  * Column expressions (SURVEY §2.C P1).
  *
  * Built from Spark's higher-order functions (`zip_with` / `aggregate`),
  * which stay inside whole-stage codegen — no UDF/serialization cost in
  * the hot path. Math is done in double after an exact float→double
  * widening, with a strict sequential left-fold accumulation order, so
  * results are bit-deterministic regardless of partitioning.
  */
object VectorFunctions {

  /** Install the native vector expressions into a session's function
    * registry (idempotent; Spark 4 keeps Column↔Expression private, so
    * registry + call_function is the supported bridge). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vec_dot",
      exprs => VecDot(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_cosine",
      exprs => VecCosine(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("pq_encode",
      exprs => PqEncodeCodes(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("adc_sum",
      exprs => AdcSum(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("lsh_sigs",
      exprs => LshSigBits(exprs(0), exprs(1)), "scala_udf")
  }

  /** Table-tagged sign-LSH signatures ([[LshSigBits]]) — all tables'
    * bucket assignments in one codegen'd pass over one nested plane
    * literal (the 36 inlined when(vecdot…) chains made the ANN
    * filter's generated method too large to JIT). Requires
    * [[register]] on the session. */
  def lshSigs(vec: Column, planes: Column): Column =
    call_function("lsh_sigs", vec, planes)

  /** ADC score Σ_j lut[codes[j] + j·ks] ([[AdcSum]]) — one codegen'd
    * loop, one LUT reference (the element_at chain inlined an m·ks
    * literal LUT m times). Requires [[register]] on the session. */
  def adcSum(codes: Column, lut: Column): Column =
    call_function("adc_sum", codes, lut)

  /** PQ code assignment over a packed-codebook column ([[PqEncodeCodes]])
    * — bit-identical to the HOF argmax it replaces, one codegen'd triple
    * loop per row. Requires [[register]] on the session. */
  def pqEncode(u: Column, books: Column): Column =
    call_function("pq_encode", u, books)

  /** Elementwise-product sum (dot product) in double precision — native
    * [[VecDot]] expression: one eval per row, tight loop, no per-element
    * lambda interpretation. Requires [[register]] on the session. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Cosine similarity = dot / (|a|·|b|) in one pass ([[VecCosine]]).
    * NaN on zero vectors (caller filters if the corpus can contain
    * them). Requires [[register]] on the session. */
  def cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
}
