package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for the similarity-search operators.
  *
  * `vec_dot` replaces the `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * higher-order-function formulation: HOFs are interpreted (no codegen)
  * and allocate an intermediate array per row — at 2M candidate pairs
  * that allocation dominated the whole benchmark. This expression
  * accumulates left-to-right in double precision, exactly the HOF's
  * (and DuckDB list_reduce's) float semantics, so results are
  * bit-identical; it participates in whole-stage codegen via doGenCode.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** vec_dot_n(a, b, n) — [[VecDot]] over only the FIRST n elements of
  * each side: the Matryoshka-retrieval kernel (Kusupati et al. 2022 —
  * MRL-trained embeddings carry a usable coarse representation in
  * their leading dimensions, so a d/4-prefix dot is a cheap first-pass
  * ranker). Reading a bounded prefix of the array, not a sliced COPY
  * of it, is the point: the `slice(a,1,n)` formulation allocates two
  * n-element arrays per candidate pair, which at corpus×query pair
  * counts is the same allocation wall VecDot exists to avoid. Same
  * sequential left-to-right double fold as VecDot / DuckDB's
  * list_reduce-over-list_slice, so results are bit-identical. */
case class VecDotPrefix(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n > 0, "vec_dot_n needs a positive prefix length")
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot_n requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val m = math.min(n, math.min(x.numElements(), y.numElements()))
    var acc = 0.0
    var i = 0
    while (i < m) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = java.lang.Math.min($n,
         |  java.lang.Math.min($x.numElements(), $y.numElements()));
         |double $acc = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** plane_band_keys(embedding) → array<long> of LSH band keys: plane i's
  * sign bit (dot(weights(i), v) > 0) lands in band i/bitsPerBand at
  * position i%bitsPerBand. One pass over the vector per plane — no
  * per-plane HOF chains (interpreted + recomputed per reference), no
  * explode of the embedding. Weights are driver-side constants. */
case class PlaneBandKeys(child: Expression, weights: Seq[Seq[Double]], bitsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(weights.nonEmpty && weights.length % bitsPerBand == 0)
  @transient private lazy val w: Array[Array[Double]] = weights.map(_.toArray).toArray
  private val nBands = weights.length / bitsPerBand

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val keys = new Array[Long](nBands)
    if (v != null) {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      var i = 0
      while (i < w.length) {
        val wi = w(i)
        val m = math.min(n, wi.length)
        var acc = 0.0
        var j = 0
        while (j < m) { acc += x.getFloat(j).toDouble * wi(j); j += 1 }
        if (acc > 0) keys(i / bitsPerBand) |= (1L << (i % bitsPerBand))
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** cell_probe(embedding) → array<long> of the nProbe best coarse-cell
  * ids by cosine, best-first, ties → lowest cid — the IVF probe/assign
  * step as ONE narrow per-row pass against a driver-constant centroid
  * matrix (train-then-apply: the index's centroids are fixed at build
  * time). The window formulation (crossJoin K centroids → row_number
  * ≤ nProbe) needs a per-query sort Spark's streaming engine forbids;
  * this expression is streaming-legal, shuffle-free, and identical in
  * result: per centroid a sequential double dot fold (the vec_dot /
  * DuckDB list_reduce order), c_sim = dot/(nrm·c_nrm) with both norms
  * from the same fold, selection by insertion into an nProbe-slot
  * list under (c_sim DESC, cid ASC). Zero/NaN-norm inputs probe
  * nothing (empty array) — the definedNrm screen, total-function
  * form. Like [[PlaneBandKeys]], CodegenFallback: one virtual call
  * per row around a fused loop nest. */
case class CellProbe(child: Expression, cents: Seq[(Long, Seq[Float])], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(nProbe > 0 && cents.nonEmpty)
  @transient private lazy val cid: Array[Long] = cents.map(_._1).toArray
  @transient private lazy val cemb: Array[Array[Float]] = cents.map(_._2.toArray).toArray
  // centroid norms: the same sequential fold the SQL twin computes
  @transient private lazy val cnrm: Array[Double] = cemb.map { c =>
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var qAcc = 0.0
    var i = 0
    while (i < n) { val f = x.getFloat(i).toDouble; qAcc += f * f; i += 1 }
    val qNrm = math.sqrt(qAcc)
    if (!(qNrm > 0.0) || qNrm.isNaN)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val m = math.min(nProbe, cid.length)
    val bestSim = new Array[Double](m)
    val bestCid = new Array[Long](m)
    var filled = 0
    var c = 0
    while (c < cid.length) {
      if (cnrm(c) > 0.0 && !cnrm(c).isNaN) {
        val ce = cemb(c)
        val d = math.min(n, ce.length)
        var acc = 0.0
        var j = 0
        while (j < d) { acc += x.getFloat(j).toDouble * ce(j); j += 1 }
        val sim = acc / (qNrm * cnrm(c))
        // insertion under (sim DESC, cid ASC) into the nProbe slots
        var pos = filled
        while (pos > 0 && (sim > bestSim(pos - 1) ||
            (sim == bestSim(pos - 1) && cid(c) < bestCid(pos - 1)))) pos -= 1
        if (pos < m) {
          val last = math.min(filled, m - 1)
          var k = last
          while (k > pos) { bestSim(k) = bestSim(k - 1); bestCid(k) = bestCid(k - 1); k -= 1 }
          bestSim(pos) = sim
          bestCid(pos) = cid(c)
          if (filled < m) filled += 1
        }
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bestCid, filled))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** pq_encode(embedding, fcb) → array<int> of per-subspace codeword
  * indices (argmin squared-L2, tie → lowest code). Replaces the
  * transform/array_min/aggregate HOF tower in the PQ encode path: HOFs
  * are interpreted and allocate a (d, k) struct array per (row,
  * subspace); this kernel is one fused loop nest, participates in
  * whole-stage codegen, and reproduces the HOF's arithmetic EXACTLY —
  * sequential left-to-right double accumulation per sub-distance and
  * the same (d, code) total order (java Double.compare: NaN greatest,
  * strict-improve keeps the lowest code on ties). `fcb` is the flat
  * (subspace-major) codebook column of [[graft.ops.SimilarityOps
  * .pqCodebookRow]]. */
case class PqEncode(left: Expression, right: Expression, nSubs: Int, nCodes: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode requires (array<float>, array<array<float>>), got $l / $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val fcb = b.asInstanceOf[ArrayData]
    val sub = x.numElements() / nSubs
    val codes = new Array[Int](nSubs)
    var m = 0
    while (m < nSubs) {
      var best = Double.PositiveInfinity
      var bk = 0
      var k = 0
      while (k < nCodes) {
        val cw = fcb.getArray(m * nCodes + k)
        val lim = math.min(sub, cw.numElements())
        var acc = 0.0
        var j = 0
        while (j < lim) {
          val d = x.getFloat(m * sub + j).toDouble - cw.getFloat(j).toDouble
          acc += d * d
          j += 1
        }
        if (java.lang.Double.compare(acc, best) < 0) { best = acc; bk = k }
        k += 1
      }
      codes(m) = bk
      m += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, fcb) => {
      val sub = ctx.freshName("sub")
      val codes = ctx.freshName("codes")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val cw = ctx.freshName("cw")
      val lim = ctx.freshName("lim")
      val best = ctx.freshName("best")
      val bk = ctx.freshName("bk")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $sub = $x.numElements() / $nSubs;
         |int[] $codes = new int[$nSubs];
         |for (int $m = 0; $m < $nSubs; $m++) {
         |  double $best = Double.POSITIVE_INFINITY;
         |  int $bk = 0;
         |  for (int $k = 0; $k < $nCodes; $k++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $cw =
         |      $fcb.getArray($m * $nCodes + $k);
         |    int $lim = java.lang.Math.min($sub, $cw.numElements());
         |    double $acc = 0.0;
         |    for (int $j = 0; $j < $lim; $j++) {
         |      double $d = (double) $x.getFloat($m * $sub + $j)
         |        - (double) $cw.getFloat($j);
         |      $acc += $d * $d;
         |    }
         |    if (java.lang.Double.compare($acc, $best) < 0) { $best = $acc; $bk = $k; }
         |  }
         |  $codes[$m] = $bk;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($codes);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** pq_adc(q_emb, codes, fcb) → asymmetric PQ distance: Σ over
  * subspaces of squared-L2 between the query's sub-vector and the
  * coded corpus row's codeword. Same fused-loop / exact-arithmetic
  * story as [[PqEncode]] — inner sub-distance folds left-to-right from
  * 0.0, outer sum adds per-subspace results in subspace order,
  * bit-identical to the aggregate-over-sequence HOF form and DuckDB's
  * list_reduce replay. */
case class PqAdc(first: Expression, second: Expression, third: Expression,
    nSubs: Int, nCodes: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _),
          ArrayType(ArrayType(FloatType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc requires (array<float>, array<int>, array<array<float>>), got $a / $b / $c")
    }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val fcb = c.asInstanceOf[ArrayData]
    val sub = q.numElements() / nSubs
    var tot = 0.0
    var m = 0
    while (m < nSubs && m < codes.numElements()) {
      val cw = fcb.getArray(m * nCodes + codes.getInt(m))
      val lim = math.min(sub, cw.numElements())
      var acc = 0.0
      var j = 0
      while (j < lim) {
        val d = q.getFloat(m * sub + j).toDouble - cw.getFloat(j).toDouble
        acc += d * d
        j += 1
      }
      tot += acc
      m += 1
    }
    tot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, codes, fcb) => {
      val sub = ctx.freshName("sub")
      val tot = ctx.freshName("tot")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val cw = ctx.freshName("cw")
      val lim = ctx.freshName("lim")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $sub = $q.numElements() / $nSubs;
         |double $tot = 0.0;
         |for (int $m = 0; $m < $nSubs && $m < $codes.numElements(); $m++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cw =
         |    $fcb.getArray($m * $nCodes + $codes.getInt($m));
         |  int $lim = java.lang.Math.min($sub, $cw.numElements());
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $lim; $j++) {
         |    double $d = (double) $q.getFloat($m * $sub + $j)
         |      - (double) $cw.getFloat($j);
         |    $acc += $d * $d;
         |  }
         |  $tot += $acc;
         |}
         |${ev.value} = $tot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

/** vec_sqdist(a, b) → double: squared Euclidean distance with
  * ZERO-PADDING semantics — the shorter vector is treated as padded
  * with 0.0, so the result is total (defined for any length pair).
  * This exact convention is what makes [[graft.plans.VecSimJoinRule]]'s
  * grid rewrite lossless: the cell coordinates coalesce missing dims
  * to 0.0, matching the padding here, so |a_i − b_i| ≤ √τ holds for
  * every dimension the cells quantize whenever the predicate holds. */
case class VecSqdist(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_sqdist requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    val mx = math.max(n, m)
    var acc = 0.0
    var i = 0
    while (i < mx) {
      val xv = if (i < n) x.getFloat(i).toDouble else 0.0
      val yv = if (i < m) y.getFloat(i).toDouble else 0.0
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val mx = ctx.freshName("mx"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |int $mx = java.lang.Math.max($n, $m);
         |double $acc = 0.0;
         |for (int $i = 0; $i < $mx; $i++) {
         |  double $d = ($i < $n ? (double) $x.getFloat($i) : 0.0)
         |    - ($i < $m ? (double) $y.getFloat($i) : 0.0);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** vec_cos_sim(a, b) → double: cosine similarity under the same
  * zero-padding convention as [[VecSqdist]] (inner product is total;
  * each norm is over its own vector). Zero or NaN norms yield NaN —
  * never a match under any threshold comparison, which is exactly the
  * behavior [[graft.plans.VecSimJoinRule]]'s rewrite preserves (NaN
  * cells drop the row; the residual predicate would reject it too). */
case class VecCosSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_cos_sim requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    val mx = math.max(n, m)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < mx) {
      val xv = if (i < n) x.getFloat(i).toDouble else 0.0
      val yv = if (i < m) y.getFloat(i).toDouble else 0.0
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val mx = ctx.freshName("mx"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |int $mx = java.lang.Math.max($n, $m);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $mx; $i++) {
         |  double $xv = $i < $n ? (double) $x.getFloat($i) : 0.0;
         |  double $yv = $i < $m ? (double) $y.getFloat($i) : 0.0;
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** vec_l2sq_long(a, b) → long: Σ(aᵢ−bᵢ)² over two equal-length int64
  * arrays — the fixed-point (quantized) distance the RQ/kmeans family
  * previously computed through an interpreted
  * `aggregate(zip_with(...))` chain (boxed per element, re-planned per
  * use site). Integer addition is exact and order-free, so this is
  * bit-identical to the HOF fold; null if either side is null or the
  * lengths differ (the HOF's null semantics: zip_with pads the shorter
  * array with nulls). */
case class VecL2sqLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_l2sq_long requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements();
         |${ev.isNull} = $y.numElements() != $n;
         |long $acc = 0L;
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  long $d = $x.getLong($i) - $y.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** vec_argmin_l2_fixed(qv) → struct<dist:long, cl:long>: the nearest
  * LITERAL centroid by exact int64 squared L2, ties to the LOWEST
  * cluster id — replaces `array_min(array(<k dist structs>))` whose k
  * interpreted `aggregate(zip_with(...))` folds re-walked the vector
  * once per centroid through boxed lambdas. Iterating clusters in
  * ascending id with a strict `<` keeps the first minimum: exactly
  * array_min's (dist ASC, cl ASC) struct order. Null when the input
  * is null or its length is not the centroids' dimension. */
case class VecArgminL2Fixed(child: Expression, cents: Seq[Seq[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(cents.nonEmpty)
  private val flat: Array[Long] = cents.flatten.toArray
  private val dim: Int = cents.head.length
  require(cents.forall(_.length == dim),
    s"every centroid needs $dim dimensions, got ${cents.map(_.length).distinct}")
  override def dataType: DataType = StructType(Seq(
    StructField("dist", LongType, nullable = false),
    StructField("cl", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData]
    if (x.numElements() != dim) return null
    var bestD = Long.MaxValue
    var bestC = 0L
    var c = 0
    while (c < cents.length) {
      val off = c * dim
      var acc = 0L
      var i = 0
      while (i < dim) {
        val d = x.getLong(i) - flat(off + i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; bestC = c.toLong }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestD, bestC)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** vec_dot_const_long(x, w) → long: Σ xᵢ·wᵢ against a LITERAL int64
  * weight vector — the perceptron margin, previously an interpreted
  * `aggregate(zip_with(...))` per row per training round. Exact
  * integer arithmetic, order-free ⇒ bit-identical. Null when the input
  * is null or its length differs from the weights'. */
case class VecDotConstLong(child: Expression, w: Seq[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  private val wa: Array[Long] = w.toArray
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData]
    val n = wa.length
    if (x.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * wa(i); i += 1 }
    acc
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** quantize_fixed(emb, scale) → array<long>: per-element
  * floor(x·scale) — the fixed-point quantization previously a
  * `transform(...)` HOF (interpreted lambda + boxed doubles per
  * element). floor-then-cast matches the HOF's
  * `floor(cast(x as double) * scale).cast(long)` exactly. */
case class VecQuantizeFixed(child: Expression, scale: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_fixed requires array<float> input, got $t")
    }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(x.getFloat(i).toDouble * scale.toDouble).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  import org.apache.spark.sql.graft.Bridge.{column => toCol, expression => toExpr}
  import org.apache.spark.sql.functions.sqrt

  def vec_dot(a: Column, b: Column): Column = toCol(VecDot(toExpr(a), toExpr(b)))
  def vec_dot_n(a: Column, b: Column, n: Int): Column =
    toCol(VecDotPrefix(toExpr(a), toExpr(b), n))
  def vec_sqdist(a: Column, b: Column): Column = toCol(VecSqdist(toExpr(a), toExpr(b)))
  def vec_l2sq_long(a: Column, b: Column): Column =
    toCol(VecL2sqLong(toExpr(a), toExpr(b)))
  def vec_argmin_l2_fixed(qv: Column, cents: Seq[Seq[Long]]): Column =
    toCol(VecArgminL2Fixed(toExpr(qv), cents))
  def vec_dot_const_long(x: Column, w: Seq[Long]): Column =
    toCol(VecDotConstLong(toExpr(x), w))
  def vec_quantize_fixed(emb: Column, scale: Long): Column =
    toCol(VecQuantizeFixed(toExpr(emb), scale))
  def vec_cos_sim(a: Column, b: Column): Column = toCol(VecCosSim(toExpr(a), toExpr(b)))
  def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))
  def pq_encode(emb: Column, fcb: Column, nSubs: Int, nCodes: Int): Column =
    toCol(PqEncode(toExpr(emb), toExpr(fcb), nSubs, nCodes))
  def pq_adc(q: Column, codes: Column, fcb: Column, nSubs: Int, nCodes: Int): Column =
    toCol(PqAdc(toExpr(q), toExpr(codes), toExpr(fcb), nSubs, nCodes))
  def plane_band_keys(v: Column, weights: Seq[Seq[Double]], bitsPerBand: Int): Column =
    toCol(PlaneBandKeys(toExpr(v), weights, bitsPerBand))
  def cell_probe(v: Column, cents: Seq[(Long, Seq[Float])], nProbe: Int): Column =
    toCol(CellProbe(toExpr(v), cents, nProbe))
}

/** mmr_greedy(cands, pairs) → array<struct<n_id:long, step:long>>:
  * the COMPLETE Maximal-Marginal-Relevance greedy selection for one
  * query's bounded candidate set, evaluated in a single call.
  *
  * Inputs (both bounded by construction — ≤ nCands candidates and
  * ≤ nCands·(nCands−1) directed pairs per query):
  *  - `cands`: array<struct<n_id:long, rank:long, simq_u:long>> — the
  *    query's top-nCands shortlist with integer-µ cosine-to-query;
  *  - `pairs`: array<struct<a:long, b:long, pair_u:long>> — directed
  *    candidate-pair cosines (both orientations present).
  *
  * Semantics are EXACTLY the k-round dataflow it replaces (and the
  * DuckDB oracle's recursive CTE): step 1 = the rank-1 candidate;
  * each later step picks, among unselected candidates having ≥1 pair
  * to the selected set (the dataflow's INNER mx join), the max of
  * (simq_u − max pair_u to selected), ties → lowest n_id; stops early
  * when no eligible candidate remains. All comparisons are exact
  * integers; input ARRAY ORDER is irrelevant (seed found by rank,
  * picks by max/min scans, mx by running max), so collect_list's
  * nondeterministic ordering cannot perturb the result.
  *
  * Why an expression: the per-query state is ≤ a few hundred rows, but
  * the k-round DataFrame loop paid 9 rounds × (2 joins + window +
  * anti-join + lazy checkpoint) of fixed job/planning cost — at ANY
  * corpus size, because the loop runs on the bounded shortlist. The
  * corpus-proportional work (shortlist + pair cosines) stays in the
  * distributed plan; only the bounded greedy moved here. Eval-only
  * (CodegenFallback) is fine off the hot path: one eval per QUERY, not
  * per corpus row. */
case class MmrGreedySelect(candsExpr: Expression, pairsExpr: Expression, k: Int)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def left: Expression = candsExpr
  override def right: Expression = pairsExpr
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n_id", LongType, nullable = false),
    StructField("step", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = candsExpr.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def threeLongs(dt: DataType): Boolean = dt match {
      case ArrayType(st: StructType, _) =>
        st.fields.length == 3 && st.fields.forall(_.dataType == LongType)
      case _ => false
    }
    if (threeLongs(candsExpr.dataType) && threeLongs(pairsExpr.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"mmr_greedy requires two array<struct<long,long,long>> inputs, " +
        s"got ${candsExpr.dataType} / ${pairsExpr.dataType}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val cv = candsExpr.eval(input)
    if (cv == null) return null
    val cands = cv.asInstanceOf[ArrayData]
    val n = cands.numElements()
    val ids = new Array[Long](n)
    val simq = new Array[Long](n)
    var seedIdx = -1
    var i = 0
    while (i < n) {
      val r = cands.getStruct(i, 3)
      ids(i) = r.getLong(0)
      simq(i) = r.getLong(2)
      if (r.getLong(1) == 1L && (seedIdx < 0 || ids(i) < ids(seedIdx))) seedIdx = i
      i += 1
    }
    if (n == 0 || seedIdx < 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val pv = pairsExpr.eval(input)
    val pairs = if (pv == null) null else pv.asInstanceOf[ArrayData]
    val np = if (pairs == null) 0 else pairs.numElements()
    // running max pair_u from each candidate to the selected set — the
    // dataflow's per-step `mx` aggregate, maintained incrementally
    val mx = new Array[Long](n)
    val mxDef = new Array[Boolean](n)
    val selected = new Array[Boolean](n)
    // candidate index by id (ids are distinct within a query's shortlist)
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    i = 0; while (i < n) { idx.put(ids(i), i); i += 1 }
    def absorb(selId: Long): Unit = {
      var p = 0
      while (p < np) {
        val pr = pairs.getStruct(p, 3)
        if (pr.getLong(1) == selId) {
          val a = idx.get(pr.getLong(0))
          if (a != null) {
            val u = pr.getLong(2)
            val ai = a.intValue()
            if (!mxDef(ai) || u > mx(ai)) { mx(ai) = u; mxDef(ai) = true }
          }
        }
        p += 1
      }
    }
    val sel = new scala.collection.mutable.ArrayBuffer[Any](k)
    selected(seedIdx) = true
    sel += org.apache.spark.sql.catalyst.InternalRow(ids(seedIdx), 1L)
    absorb(ids(seedIdx))
    var step = 2
    var done = false
    while (step <= k && !done) {
      var bestIdx = -1
      i = 0
      while (i < n) {
        if (!selected(i) && mxDef(i)) {
          if (bestIdx < 0) bestIdx = i
          else {
            val si = simq(i) - mx(i)
            val sb = simq(bestIdx) - mx(bestIdx)
            if (si > sb || (si == sb && ids(i) < ids(bestIdx))) bestIdx = i
          }
        }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        selected(bestIdx) = true
        sel += org.apache.spark.sql.catalyst.InternalRow(ids(bestIdx), step.toLong)
        absorb(ids(bestIdx))
        step += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sel.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(candsExpr = newLeft, pairsExpr = newRight)
}
