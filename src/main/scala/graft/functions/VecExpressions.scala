package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path.
  *
  * Spark's higher-order functions (`zip_with`/`aggregate`) interpret the
  * lambda per ELEMENT — fine for one scan, ruinous inside an O(n²) pair
  * join. These expressions generate a tight primitive loop over the
  * ArrayData inside whole-stage codegen (doGenCode below; the
  * interpreted eval is the fallback), with no per-element closures and
  * no intermediate product arrays, preserving bit-identical results to
  * the sequential left-fold the HOF forms compute (same accumulation
  * order, same float→double widening) — so DuckDB oracle parity is
  * unchanged.
  */
private[functions] trait VecBinaryOp extends BinaryExpression {
  override def dataType: DataType = DoubleType

  /** Java accessor snippet for element i of an ArrayData variable,
    * widened to double. */
  protected def jGet(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  private def isNumArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  protected def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumArray(left.dataType) && isNumArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${getClass.getSimpleName} needs array<float>/array<double> args, " +
        s"got ${left.dataType} / ${right.dataType}")

  @inline protected final def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

/** dot(a, b) = Σ aᵢ·bᵢ in double, sequential accumulation. NULL on
  * length mismatch or any null element — matching what the zip_with/
  * aggregate HOF forms (and the DuckDB list functions) produce, instead
  * of a confident-looking partial sum. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryOp {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = leftIsFloat
    val rf = rightIsFloat
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elem(a, i, lf) * elem(b, i, rf)
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${jGet(a, i, leftIsFloat)} * ${jGet(b, i, rightIsFloat)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** PQ code assignment — the encode hot path of every product-quantization
  * surface ([[graft.operators.ProductQuant.codesCol]] callers: corpus
  * encode, PQ sidecar build/carry, Lloyd training assignment).
  *
  * Semantics are EXACTLY the HOF form it replaces (kept in test scope
  * as ProductQuantSpec.codesColHof for the equivalence spec):
  * `transform(sequence(0, m−1), j => array_max(transform(books[j], en =>
  * struct(dot(slice(u, j·d+1, d), en.cvec) − en.half, en.code))).code)` —
  * per subspace j, argmax over codebook entries of `<u_j, cvec> − half`
  * with ties broken toward the HIGHER code (struct max compares (score,
  * code) lexicographically). The dot accumulates in index order in
  * double, identical to [[VecDot]]; score comparison uses
  * `Double.compare`, the same total order (−0.0 < 0.0, NaN greatest)
  * Spark's struct ordering applies — so the emitted codes are
  * bit-identical to the HOF form on every input.
  *
  * Why native: higher-order functions interpret their lambda per
  * ELEMENT, and the HOF encode evaluates m·ks (= 512 here) interpreted
  * dot/slice closures — with a fresh slice COPY of the subvector per
  * codebook entry — for every row of the corpus. This expression is one
  * tight primitive triple loop inside whole-stage codegen: no closures,
  * no per-entry slice allocation, no struct materialization.
  *
  * Inputs: `u` array<double> (unit vector, m·d elements), `books`
  * array<array<struct<code:int, cvec:array<double>, half:double>>>
  * ([[graft.operators.ProductQuant.packedBooks]]'s one-row broadcast
  * column). Returns array<int> of m codes; null if shapes are malformed
  * (u length not a multiple of m, cvec length ≠ d, null elements) —
  * cases the HOF form would fill with nulls mid-plan. */
case class PqEncodeCodes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val uOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val bOk = right.dataType match {
      case ArrayType(ArrayType(StructType(fields), _), _)
        if fields.length == 3 &&
          fields(0).dataType == IntegerType &&
          fields(1).dataType == ArrayType(DoubleType, true) &&
          fields(2).dataType == DoubleType => true
      case ArrayType(ArrayType(StructType(fields), _), _)
        if fields.length == 3 &&
          fields(0).dataType == IntegerType &&
          fields(1).dataType == ArrayType(DoubleType, false) &&
          fields(2).dataType == DoubleType => true
      case _ => false
    }
    if (uOk && bOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_encode needs (array<double>, array<array<struct<int,array<double>,double>>>), " +
        s"got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val u = l.asInstanceOf[ArrayData]
    val books = r.asInstanceOf[ArrayData]
    val m = books.numElements()
    val dim = u.numElements()
    if (m == 0 || dim % m != 0) return null
    val d = dim / m
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      if (books.isNullAt(j)) return null
      val entries = books.getArray(j)
      val ks = entries.numElements()
      if (ks == 0) return null
      var best = 0.0
      var bestCode = 0
      var first = true
      var c = 0
      while (c < ks) {
        if (entries.isNullAt(c)) return null
        val en = entries.getStruct(c, 3)
        if (en.isNullAt(0) || en.isNullAt(1) || en.isNullAt(2)) return null
        val code = en.getInt(0)
        val cvec = en.getArray(1)
        if (cvec.numElements() != d) return null
        var acc = 0.0
        var p = 0
        while (p < d) {
          if (u.isNullAt(j * d + p) || cvec.isNullAt(p)) return null
          acc += u.getDouble(j * d + p) * cvec.getDouble(p)
          p += 1
        }
        val score = acc - en.getDouble(2)
        val cmp = java.lang.Double.compare(score, best)
        if (first || cmp > 0 || (cmp == 0 && code > bestCode)) {
          best = score; bestCode = code; first = false
        }
        c += 1
      }
      codes(j) = bestCode
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, books) => {
      val m = ctx.freshName("m")
      val dim = ctx.freshName("dim")
      val d = ctx.freshName("d")
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j")
      val entries = ctx.freshName("entries")
      val ks = ctx.freshName("ks")
      val best = ctx.freshName("best")
      val bestCode = ctx.freshName("bestCode")
      val first = ctx.freshName("first")
      val c = ctx.freshName("c")
      val en = ctx.freshName("en")
      val code = ctx.freshName("code")
      val cvec = ctx.freshName("cvec")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      val score = ctx.freshName("score")
      val cmp = ctx.freshName("cmp")
      val done = ctx.freshName("done")
      s"""
         |int $m = $books.numElements();
         |int $dim = $u.numElements();
         |boolean $done = false;
         |if ($m == 0 || $dim % $m != 0) { ${ev.isNull} = true; $done = true; }
         |int $d = $done ? 0 : $dim / $m;
         |int[] $codes = $done ? null : new int[$m];
         |for (int $j = 0; !$done && $j < $m; $j++) {
         |  if ($books.isNullAt($j)) { ${ev.isNull} = true; $done = true; break; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $entries = $books.getArray($j);
         |  int $ks = $entries.numElements();
         |  if ($ks == 0) { ${ev.isNull} = true; $done = true; break; }
         |  double $best = 0.0;
         |  int $bestCode = 0;
         |  boolean $first = true;
         |  for (int $c = 0; $c < $ks; $c++) {
         |    if ($entries.isNullAt($c)) { ${ev.isNull} = true; $done = true; break; }
         |    org.apache.spark.sql.catalyst.InternalRow $en = $entries.getStruct($c, 3);
         |    if ($en.isNullAt(0) || $en.isNullAt(1) || $en.isNullAt(2)) {
         |      ${ev.isNull} = true; $done = true; break;
         |    }
         |    int $code = $en.getInt(0);
         |    org.apache.spark.sql.catalyst.util.ArrayData $cvec = $en.getArray(1);
         |    if ($cvec.numElements() != $d) { ${ev.isNull} = true; $done = true; break; }
         |    double $acc = 0.0;
         |    for (int $p = 0; $p < $d; $p++) {
         |      if ($u.isNullAt($j * $d + $p) || $cvec.isNullAt($p)) {
         |        ${ev.isNull} = true; $done = true; break;
         |      }
         |      $acc += $u.getDouble($j * $d + $p) * $cvec.getDouble($p);
         |    }
         |    if ($done) break;
         |    double $score = $acc - $en.getDouble(2);
         |    int $cmp = java.lang.Double.compare($score, $best);
         |    if ($first || $cmp > 0 || ($cmp == 0 && $code > $bestCode)) {
         |      $best = $score; $bestCode = $code; $first = false;
         |    }
         |  }
         |  if (!$done) $codes[$j] = $bestCode;
         |}
         |if (!${ev.isNull})
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ADC score — Σ_j lut[codes[j] + j·ks] over a flat m·ks lookup table,
  * the per-row scoring of every PQ serving path. Bit-identical to the
  * chain it replaces (`(0 until m).map(j => element_at(lut, codes[j] +
  * j·ks + 1)).reduce(_ + _)` — same left-fold addition order, null when
  * any code or LUT slot is null or out of range, exactly element_at's
  * non-ANSI semantics). Why native: the chain references the LUT
  * expression m times, and for single-probe queries the LUT is an m·ks
  * LITERAL array — 16 inlined copies of 512 doubles made the PQ drives'
  * plans ~180 KB each (slow to analyze, big task binaries). One
  * reference + one codegen'd loop. ks derives from the data: lut length
  * must be a multiple of m. */
case class AdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_sum needs (array<int>, array<double>), got $l / $r")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[ArrayData]
    val lut = r.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val n = lut.numElements()
    if (m == 0 || n % m != 0) return null
    val ks = n / m
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val idx = codes.getInt(j) + j * ks
      if (idx < 0 || idx >= n || lut.isNullAt(idx)) return null
      acc += lut.getDouble(idx)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val ks = ctx.freshName("ks")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      s"""
         |int $m = $codes.numElements();
         |int $n = $lut.numElements();
         |if ($m == 0 || $n % $m != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $ks = $n / $m;
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($codes.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    int $idx = $codes.getInt($j) + $j * $ks;
         |    if ($idx < 0 || $idx >= $n || $lut.isNullAt($idx)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += $lut.getDouble($idx);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sign-LSH signatures for every table in ONE pass — the bucket
  * assignment of the ANN serving path. `left` is the embedding
  * (array<float>/array<double>), `right` the packed hyperplanes
  * (array<array<array<double>>>: planes[t][i] = plane i of table t,
  * one nested LITERAL per query). Returns array<int> with
  * sig[t] = (t << bits_t) | Σ_i (⟨v, planes[t][i]⟩ ≥ 0 ? 1<<i : 0) —
  * the table TAG rides the high bits so the flat array's values are
  * globally unique bucket ids (the same identity as the legacy
  * "t:bits" string, bijectively) and ONE `arrays_overlap` against the
  * probe's expanded signatures is the whole candidate predicate.
  *
  * Bit-for-bit the when-chain it replaces (`when(VecDot(v, plane) >=
  * 0, 1<<i).otherwise(0)` summed per table): dots accumulate in index
  * order in double; the sign test is Catalyst's own double comparison
  * (`SQLOrderingUtil.compareDoubles` — NaN counts as ≥ 0, ±0.0 equal,
  * exactly what GreaterThanOrEqual codegen emits); a null/mismatched
  * dot contributes bit 0 (the `otherwise`), and a NULL embedding
  * yields all-zero bit fields (tags only), never a NULL row — the
  * when-chain's behavior on every input.
  *
  * Why native: 36 inlined `when(vecdot(...))` plane literals made the
  * ANN filter's whole-stage-codegen method so large HotSpot refused
  * to JIT it — the query ran ~2× SLOWER with codegen than without
  * (measured r22: 1.45 s vs 0.68 s at sf0.1). One tight loop over one
  * nested literal keeps the generated method JIT-sized. */
case class LshSigBits(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = right.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val pOk = right.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    }
    if (vOk && pOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lsh_sigs needs (array<float|double>, array<array<array<double>>>), " +
        s"got ${left.dataType} / ${right.dataType}")
  }

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val planesV = right.eval(input)
    if (planesV == null) return null
    val planes = planesV.asInstanceOf[ArrayData]
    val vecV = left.eval(input)
    val vec = if (vecV == null) null else vecV.asInstanceOf[ArrayData]
    val isF = vecIsFloat
    val tables = planes.numElements()
    val sigs = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var sig = 0
      if (!planes.isNullAt(t)) {
        val entries = planes.getArray(t)
        val bits = entries.numElements()
        sig = t << bits
        if (vec != null) {
          val n = vec.numElements()
          var i = 0
          while (i < bits) {
            if (!entries.isNullAt(i)) {
              val p = entries.getArray(i)
              if (p.numElements() == n) {
                var acc = 0.0
                var ok = true
                var j = 0
                while (ok && j < n) {
                  if (vec.isNullAt(j) || p.isNullAt(j)) ok = false
                  else {
                    val x = if (isF) vec.getFloat(j).toDouble
                            else vec.getDouble(j)
                    acc += x * p.getDouble(j)
                    j += 1
                  }
                }
                if (ok && org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                    .compareDoubles(acc, 0.0) >= 0)
                  sig |= 1 << i
              }
            }
            i += 1
          }
        }
      }
      sigs(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val planes = ctx.freshName("planes")
    val vec = ctx.freshName("vec")
    val tables = ctx.freshName("tables")
    val sigs = ctx.freshName("sigs")
    val t = ctx.freshName("t")
    val sig = ctx.freshName("sig")
    val entries = ctx.freshName("entries")
    val bits = ctx.freshName("bits")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val p = ctx.freshName("p")
    val acc = ctx.freshName("acc")
    val ok = ctx.freshName("ok")
    val j = ctx.freshName("j")
    val getX =
      if (vecIsFloat) s"(double) $vec.getFloat($j)" else s"$vec.getDouble($j)"
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
         |${rightGen.code}
         |boolean ${ev.isNull} = ${rightGen.isNull};
         |$ad ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${leftGen.code}
         |  $ad $planes = ${rightGen.value};
         |  $ad $vec = ${leftGen.isNull} ? null : ${leftGen.value};
         |  int $tables = $planes.numElements();
         |  int[] $sigs = new int[$tables];
         |  for (int $t = 0; $t < $tables; $t++) {
         |    int $sig = 0;
         |    if (!$planes.isNullAt($t)) {
         |      $ad $entries = $planes.getArray($t);
         |      int $bits = $entries.numElements();
         |      $sig = $t << $bits;
         |      if ($vec != null) {
         |        int $n = $vec.numElements();
         |        for (int $i = 0; $i < $bits; $i++) {
         |          if (!$entries.isNullAt($i)) {
         |            $ad $p = $entries.getArray($i);
         |            if ($p.numElements() == $n) {
         |              double $acc = 0.0;
         |              boolean $ok = true;
         |              for (int $j = 0; $ok && $j < $n; $j++) {
         |                if ($vec.isNullAt($j) || $p.isNullAt($j)) $ok = false;
         |                else $acc += $getX * $p.getDouble($j);
         |              }
         |              if ($ok && org.apache.spark.sql.catalyst.util
         |                  .SQLOrderingUtil.compareDoubles($acc, 0.0) >= 0)
         |                $sig |= 1 << $i;
         |            }
         |          }
         |        }
         |      }
         |    }
         |    $sigs[$t] = $sig;
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** One-pass cosine: dot, |a|², |b|² in a single loop, then
  * dot / (sqrt(na)·sqrt(nb)) — same combination order as the HOF form
  * `dot / (l2Norm(a) * l2Norm(b))`. */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryOp {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = leftIsFloat
    val rf = rightIsFloat
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, lf)
      val y = elem(b, i, rf)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  double $na = 0.0;
         |  double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${jGet(a, i, leftIsFloat)};
         |    double $y = ${jGet(b, i, rightIsFloat)};
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |  if (!${ev.isNull})
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
