package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector kernels over array<float>/array<double> columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * materializes an intermediate array per row pair — at B·Q pairs that
  * allocation dominates brute-force search. These expressions loop over
  * the two ArrayData buffers directly inside whole-stage codegen: zero
  * allocation, float elements widened to double per element.
  *
  * Determinism contract unchanged: each accumulator is a left fold in
  * element order over doubles, so results are bit-identical to the
  * HOF forms and to the DuckDB oracle fragments (Vec.sql*).
  *
  * Reference semantics: l2/cosine/ip distances,
  * /root/reference/hnsw_cosine_status_high.py:26-45,
  * /root/reference/roargraph_python.py:106-127.
  */
abstract class VecBinaryKernel extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(
      s"vector kernel needs an array column, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"expected array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  /** Scala-side element accessor (interpreted path). */
  protected def get(a: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  /** Java source for reading element i of `arr` as double. */
  protected def jget(arr: String, i: String, et: DataType): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
}

/** Left-fold dot product. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryKernel {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ea, eb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += get(a, i, ea) * get(b, i, eb); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"))
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $s += ${jget(a, i, elemType(left))} * ${jget(b, i, elemType(right))};
       |}
       |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Left-fold squared L2 distance. */
case class VecL2Sq(left: Expression, right: Expression) extends VecBinaryKernel {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ea, eb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = get(a, i, ea) - get(b, i, eb); s += d * d; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s, d) =
        (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"), ctx.freshName("d"))
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ${jget(a, i, elemType(left))} - ${jget(b, i, elemType(right))};
       |  $s += $d * $d;
       |}
       |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Scaled squared-L2 (LC-CMD rerank distance, Idea-1023.md):
  * Σ ((a_k−b_k)²)/scale_k as one fused left fold — `scale` is the
  * precomputed per-label-pair denominator array, so the hot loop does
  * no allocation and no per-pair variance math. */
case class VecScaledL2(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def et(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(s"need array, got $other")
  }
  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }
  private def jget(arr: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  override def nullSafeEval(l: Any, r: Any, s3: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val w = s3.asInstanceOf[ArrayData]
    val (ea, eb, ew) = (et(first), et(second), et(third))
    val n = math.min(math.min(a.numElements(), b.numElements()), w.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = get(a, i, ea) - get(b, i, eb)
      s += (d * d) / get(w, i, ew)
      i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, w) => {
      val (i, n, s, d) =
        (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"), ctx.freshName("d"))
      s"""
       |int $n = java.lang.Math.min(java.lang.Math.min($a.numElements(), $b.numElements()), $w.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ${jget(a, i, et(first))} - ${jget(b, i, et(second))};
       |  $s += ($d * $d) / ${jget(w, i, et(third))};
       |}
       |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      f: Expression, s2: Expression, t: Expression): Expression =
    copy(first = f, second = s2, third = t)
}

/** Nearest-centroid id over a driver-collected bank: one fused pass
  * per row, no generated rows. The crossJoin(broadcast(cents)) +
  * min(struct(d2, cid)) assignment shape materializes N·k rows and its
  * aggregation falls back to a sort at large k — at 10M×1024 cells that
  * sort spilled a 10-billion-row run to disk until it filled (the round-9
  * scale-run failure). This kernel keeps assignment a map-only scan at
  * any k.
  *
  * Bit-identical to min(struct(VecL2Sq(emb, cv), cid)) by construction:
  * each d2 is the same float-widened left fold in element order;
  * candidates are visited in ascending-cid order with a strict
  * Double.compare update, so exact d2 ties keep the smallest cid and
  * NaN orders largest — the lexicographic struct-min contract.
  *
  * The bank rides the expression into the stage's task binary, which
  * Spark broadcasts once per stage — same shipping cost as the
  * broadcast join it replaces, minus the join. */
case class VecNearestCid(child: Expression, cids: Array[Long], bank: Array[Array[Double]])
    extends UnaryExpression {
  require(bank.nonEmpty && cids.length == bank.length,
    s"centroid bank mismatch: ${cids.length} ids vs ${bank.length} vectors")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  private def et: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(s"need array, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<float|double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val t = et
    val n = a.numElements()
    var best = Double.PositiveInfinity
    var bestCid = cids(0)
    var c = 0
    while (c < bank.length) {
      val cv = bank(c)
      val m = math.min(n, cv.length)
      var s = 0.0; var i = 0
      if (t == FloatType) {
        while (i < m) { val d = a.getFloat(i).toDouble - cv(i); s += d * d; i += 1 }
      } else {
        while (i < m) { val d = a.getDouble(i) - cv(i); s += d * d; i += 1 }
      }
      if (java.lang.Double.compare(s, best) < 0) { best = s; bestCid = cids(c) }
      c += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bankRef = ctx.addReferenceObj("cidBank", bank, "double[][]")
    val cidsRef = ctx.addReferenceObj("cidIds", cids, "long[]")
    val getElem = et match {
      case FloatType => (arr: String, i: String) => s"(double) $arr.getFloat($i)"
      case _ => (arr: String, i: String) => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, a => {
      val (n, best, bc, c, cv, m, s, d, i) =
        (ctx.freshName("n"), ctx.freshName("best"), ctx.freshName("bcid"),
         ctx.freshName("c"), ctx.freshName("cv"), ctx.freshName("m"),
         ctx.freshName("s"), ctx.freshName("d"), ctx.freshName("i"))
      s"""
       |int $n = $a.numElements();
       |double $best = Double.POSITIVE_INFINITY;
       |long $bc = $cidsRef[0];
       |for (int $c = 0; $c < $bankRef.length; $c++) {
       |  double[] $cv = $bankRef[$c];
       |  int $m = java.lang.Math.min($n, $cv.length);
       |  double $s = 0.0;
       |  for (int $i = 0; $i < $m; $i++) {
       |    double $d = ${getElem(a, i)} - $cv[$i];
       |    $s += $d * $d;
       |  }
       |  if (java.lang.Double.compare($s, $best) < 0) { $best = $s; $bc = $cidsRef[$c]; }
       |}
       |${ev.value} = $bc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VecNearestCid {

  /** The kernel's per-centroid fold over driver-side arrays: float
    * widened per element, left fold over the shared prefix — the d2
    * that nullSafeEval/doGenCode compute for one bank row. Shared by
    * the driver-side Lloyd loop (Ivf.lloyd) and IVF probe ranking
    * (Ivf.probeCells), so every branch scores cells with ONE fold. */
  def d2(v: Array[Float], cv: Array[Double]): Double = {
    val m = math.min(v.length, cv.length)
    var s = 0.0; var i = 0
    while (i < m) { val d = v(i).toDouble - cv(i); s += d * d; i += 1 }
    s
  }
}

/** Fused cosine: dot, |a|², |b|² in one pass (three independent left
  * folds), result dot/sqrt(n2a*n2b) — associating exactly like
  * Vec.sqlCosine. */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryKernel {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ea, eb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = get(a, i, ea); val y = get(b, i, eb)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / math.sqrt(na * nb)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n) = (ctx.freshName("i"), ctx.freshName("n"))
      val (dot, na, nb) = (ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"))
      val (x, y) = (ctx.freshName("x"), ctx.freshName("y"))
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $x = ${jget(a, i, elemType(left))};
       |  double $y = ${jget(b, i, elemType(right))};
       |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
       |}
       |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Whole-code PQ encode: all m subspace argmins in ONE kernel pass —
  * embedding in, the m-wide code array out, the codebook banks living
  * in the expression object (not the plan).
  *
  * Replaces the m × (slice + VecNearestCid) column form in a single
  * Project (the round-10 open item 36): at the 200d rule's m=50 that
  * form emitted 50 slice/kernel pairs of generated Java, fell out of
  * whole-stage codegen, and the 2M×200d encode never finished. Here
  * the per-row work is one generated loop nest whose size is
  * independent of m, so the plan stays codegen'd at any code width.
  *
  * Bit-identical to the column form by construction: subspace s reads
  * elements [s·dsub, s·dsub+dsub) exactly as slice(emb, s·dsub+1,
  * dsub) exposes them (same short-array clamping), each distance is
  * the same float-widened left fold in element order, and candidates
  * are visited in ascending-cid order with a strict Double.compare
  * update — the min(struct(d2, cid)) tie-break VecNearestCid mirrors.
  * PqSpec pins the equality at m ∈ {8, 16, 50}.
  *
  * Reference semantics: per-subspace nearest-codeword assignment,
  * the standard PQ encode (Jégou et al., TPAMI 2011). */
case class PqEncodeCodes(child: Expression,
    dsub: Int,
    cids: Array[Array[Long]],
    banks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(banks.nonEmpty && cids.length == banks.length,
    s"codebook mismatch: ${cids.length} cid banks vs ${banks.length} subspaces")
  require(dsub > 0, s"dsub must be positive, got $dsub")
  require(banks.indices.forall(s => banks(s).nonEmpty && cids(s).length == banks(s).length),
    "every subspace needs a non-empty, id-aligned centroid bank")

  private def m: Int = banks.length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private def et: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(s"need array, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<float|double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val isFloat = et == FloatType
    val n = a.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val bank = banks(s); val ids = cids(s)
      val off = s * dsub
      // slice(emb, off+1, dsub) exposes min(dsub, max(0, n-off)) elems
      val avail = math.min(dsub, math.max(0, n - off))
      var best = Double.PositiveInfinity
      var bestCid = ids(0)
      var c = 0
      while (c < bank.length) {
        val cv = bank(c)
        val lim = math.min(avail, cv.length)
        var acc = 0.0; var i = 0
        if (isFloat) {
          while (i < lim) { val d = a.getFloat(off + i).toDouble - cv(i); acc += d * d; i += 1 }
        } else {
          while (i < lim) { val d = a.getDouble(off + i) - cv(i); acc += d * d; i += 1 }
        }
        if (java.lang.Double.compare(acc, best) < 0) { best = acc; bestCid = ids(c) }
        c += 1
      }
      out(s) = bestCid.toInt
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val banksRef = ctx.addReferenceObj("pqBanks", banks, "double[][][]")
    val cidsRef = ctx.addReferenceObj("pqCids", cids, "long[][]")
    val getElem = et match {
      case FloatType => (arr: String, i: String) => s"(double) $arr.getFloat($i)"
      case _ => (arr: String, i: String) => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, a => {
      val (n, codes, s, bank, ids, off, avail, best, bc, c, cv, lim, acc, d, i) =
        (ctx.freshName("n"), ctx.freshName("codes"), ctx.freshName("s"),
         ctx.freshName("bank"), ctx.freshName("ids"), ctx.freshName("off"),
         ctx.freshName("avail"), ctx.freshName("best"), ctx.freshName("bcid"),
         ctx.freshName("c"), ctx.freshName("cv"), ctx.freshName("lim"),
         ctx.freshName("acc"), ctx.freshName("d"), ctx.freshName("i"))
      val idx = ctx.freshName("idx")
      s"""
       |int $n = $a.numElements();
       |int[] $codes = new int[$m];
       |for (int $s = 0; $s < $m; $s++) {
       |  double[][] $bank = $banksRef[$s];
       |  long[] $ids = $cidsRef[$s];
       |  int $off = $s * $dsub;
       |  int $avail = java.lang.Math.min($dsub, java.lang.Math.max(0, $n - $off));
       |  double $best = Double.POSITIVE_INFINITY;
       |  long $bc = $ids[0];
       |  for (int $c = 0; $c < $bank.length; $c++) {
       |    double[] $cv = $bank[$c];
       |    int $lim = java.lang.Math.min($avail, $cv.length);
       |    double $acc = 0.0;
       |    for (int $i = 0; $i < $lim; $i++) {
       |      int $idx = $off + $i;
       |      double $d = ${getElem(a, idx)} - $cv[$i];
       |      $acc += $d * $d;
       |    }
       |    if (java.lang.Double.compare($acc, $best) < 0) { $best = $acc; $bc = $ids[$c]; }
       |  }
       |  $codes[$s] = (int) $bc;
       |}
       |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
