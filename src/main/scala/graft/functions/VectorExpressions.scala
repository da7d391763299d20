package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for quantized-vector math.
  *
  * The ANN operators ([[graft.operators.Similarity]]) verify every
  * candidate pair with an exact integer cosine; with the higher-order
  * `aggregate(zip_with(...))` form that inner loop is interpreted
  * (HOFs are CodegenFallback) and allocates a zipped array per pair —
  * measured ~10x slower than this kernel on the near-dup verify path,
  * where millions of candidate pairs each need a 64-element dot
  * product. The expression stays inside whole-stage codegen by
  * emitting a static-kernel call, like [[HashKernels]].
  */
object VectorKernels {
  /** Exact integer dot product of two long arrays (caller guarantees
    * equal length and quantized magnitudes small enough not to
    * overflow — |x| <= ~2e3 * QuantScale keeps 64-sums < 2^63).
    */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** `n2 * cn2` as a double for the cosine denominator: the exact long
    * product rounded once — bit-identical to the SQL
    * `CAST(n2 * cn2 AS DOUBLE)` the oracles replay — while it fits in
    * a long, else the double product (one more rounding) instead of
    * the silently wrapped long. Extreme-norm vectors (the product
    * reaching 2^63) thus still rank by their true cosine.
    */
  def normProduct(n2: Long, cn2: Long): Double = {
    val lo = n2 * cn2
    if (Math.multiplyHigh(n2, cn2) == (lo >> 63)) lo.toDouble
    else n2.toDouble * cn2.toDouble
  }
}

/** `dot_long(a, b)`: exact integer dot product of two `array<long>`
  * vectors; `dot_long(a, a)` is the squared norm.
  */
case class DotLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_long needs two ARRAY<BIGINT>, got ${left.dataType}, ${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dotLong($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotLong =
    copy(l, r)
}

/** `nearest_cells(v, n2)`: the `take` nearest centroid ids of a
  * quantized vector against a DRIVER-COLLECTED centroid table, by
  * (cosine desc, cent_id asc) — the fused-kernel form of the literal
  * argmin the ANN family compiled as a `least(struct(...))` /
  * `array_sort` chain of C struct entries.
  *
  * Why an expression instead of the literal chain (r21): the chain's
  * expression TREE grows as ~15 x C nodes and its generated source as
  * O(C) struct comparators — at C = 64-256 the driver spent 0.4-0.5 s
  * per call in Catalyst tree transforms and ~0.35 s in Janino on the
  * PQ/IVF rows (R21GapProf stack histogram), all of it per-call
  * planning tax, none of it data work. This node is ~3 Catalyst nodes
  * holding the table as plain JVM arrays (shipped once via the
  * codegen references array), and its kernel is the SAME arithmetic:
  * cos = dot(v, cv) / sqrt(n2 * cn2) with NaN -> -Infinity
  * (the [[graft.operators.Similarity]] assignCos contract), ranked by
  * java.lang.Double.compare with cent_id ties ascending —
  * line-for-line the already-pinned driver mirror
  * (`Similarity.driverNearestCells`), which two rounds of suites hold
  * bit-identical to the literal-chain form.
  *
  * Null-v rows return NULL (no cells) — the JOINED assignment path's
  * behavior (a null score never enters the bounded top-k heap). The
  * replaced literal chain instead parked null-v rows in the lowest
  * cent_ids (nulls-first struct ordering); the difference is
  * unobservable in every output because a null vector's cosine /
  * ADC distance is null downstream and every verify filter and top-k
  * admission rejects it (suite-pinned on null-embedding corpora).
  */
case class NearestCellsK(left: Expression, right: Expression,
    ids: Array[Long], cents: Array[Array[Long]], norms: Array[Long],
    take: Int) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"
  override def checkInputDataTypes() = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nearest_cells needs (ARRAY<BIGINT>, BIGINT), got ${left.dataType}, ${right.dataType}")
  }

  /** The fused argmin/top-take: mirrors Similarity.driverNearestCells
    * exactly (same IEEE double ops, same comparator, same tiebreak).
    */
  def kernel(vRaw: Any, n2: Long): ArrayData = {
    val v = vRaw.asInstanceOf[ArrayData]
    val c = ids.length
    val n = if (take < c) take else c
    if (n <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    // negated cosines (NaN -> +Infinity via the -(-Inf) identity)
    val ncs = new Array[Double](c)
    // a ragged row shorter than the centroid dim contributes 0 for its
    // missing components (the pre-kernel slice/zip semantics) instead
    // of reading past the row's UnsafeArrayData
    val vn = v.numElements()
    var j = 0
    while (j < c) {
      val cv = cents(j)
      val lim = if (cv.length < vn) cv.length else vn
      var dot = 0L
      var i = 0
      while (i < lim) { dot += v.getLong(i) * cv(i); i += 1 }
      val raw = dot.toDouble / math.sqrt(VectorKernels.normProduct(n2, norms(j)))
      ncs(j) = if (java.lang.Double.isNaN(raw)) Double.PositiveInfinity else -raw
      j += 1
    }
    val out = new Array[Long](n)
    if (n == 1) {
      // single-pass argmin by (nc asc, id asc)
      var best = 0
      j = 1
      while (j < c) {
        val cmp = java.lang.Double.compare(ncs(j), ncs(best))
        if (cmp < 0 || (cmp == 0 && ids(j) < ids(best))) best = j
        j += 1
      }
      out(0) = ids(best)
    } else {
      // full index sort by (nc asc, id asc), take the first n — the
      // centroid table is driver-collected (<= 4096 rows under the
      // r21 payload gate), so the C log C sort stays trivial next to
      // the C x dim dot products above at every admitted C
      val idx = Array.range(0, c)
      val boxed = idx.map(Integer.valueOf)
      java.util.Arrays.sort(boxed, (a: Integer, b: Integer) => {
        val cmp = java.lang.Double.compare(ncs(a), ncs(b))
        if (cmp != 0) cmp else java.lang.Long.compare(ids(a), ids(b))
      })
      var i = 0
      while (i < n) { out(i) = ids(boxed(i)); i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override def nullSafeEval(v: Any, n2: Any): Any =
    kernel(v, n2.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCellsK", this,
      classOf[NearestCellsK].getName)
    defineCodeGen(ctx, ev, (v, n2) => s"$ref.kernel($v, $n2)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCellsK =
    copy(left = l, right = r)
}

/** `two_level_cells(v, n2)`: the `take` nearest centroid ids of a
  * quantized vector under the COARSE-THEN-FINE contract of
  * [[graft.operators.Similarity.nearestCentroidsTwoLevel]], fused
  * into one map-side kernel: rank the super-centroids (S dots), keep
  * the `superProbes` nearest by (cosine desc, sup_id asc), then rank
  * ONLY the centroids whose super-cell is probed — by the identical
  * (cosine desc, cent_id asc) ordering — and take the first `take`.
  * `supOf(j)` (each centroid's one super-cell) is DRIVER-COMPUTED by
  * the same `driverNearestCells` arithmetic the composed plan's
  * coarse projection ran per row, so membership is bit-identical.
  *
  * Replaces, per assigned frame, the n x superProbes coarse explode,
  * the centroid broadcast join, and the bounded-top-k aggregation
  * exchange of the composed two-level shape (r22; guide §2.4) — the
  * assignment becomes one whole-stage-codegen projection like
  * [[NearestCellsK]], admitted under the same driver-collect payload
  * gate. Zero-norm vectors rank everywhere as -Infinity (the
  * assignCos contract) so they land in the lowest-id probed cells;
  * null-v rows return NULL (no cells), the joined path's behavior.
  */
case class TwoLevelCellsK(left: Expression, right: Expression,
    supIds: Array[Long], supCents: Array[Array[Long]], supNorms: Array[Long],
    superProbes: Int,
    ids: Array[Long], cents: Array[Array[Long]], norms: Array[Long],
    supOf: Array[Long], take: Int) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "two_level_cells"
  override def checkInputDataTypes() = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"two_level_cells needs (ARRAY<BIGINT>, BIGINT), got ${left.dataType}, ${right.dataType}")
  }

  /** Negated-cosine of row (v, n2) against table entry j — the
    * NearestCellsK arithmetic verbatim (ragged rows contribute 0 for
    * missing components; NaN normalizes to +Infinity so it ranks
    * last under the negation, i.e. -Infinity cosine).
    */
  @inline private def negCos(v: ArrayData, vn: Int, n2: Long,
      cv: Array[Long], cn2: Long): Double = {
    val lim = if (cv.length < vn) cv.length else vn
    var dot = 0L
    var i = 0
    while (i < lim) { dot += v.getLong(i) * cv(i); i += 1 }
    val raw = dot.toDouble / math.sqrt(VectorKernels.normProduct(n2, cn2))
    if (java.lang.Double.isNaN(raw)) Double.PositiveInfinity else -raw
  }

  def kernel(vRaw: Any, n2: Long): ArrayData = {
    val v = vRaw.asInstanceOf[ArrayData]
    val vn = v.numElements()
    // coarse: the superProbes nearest supers by (nc asc, id asc)
    val s = supIds.length
    val nProbe = if (superProbes < s) superProbes else s
    val sncs = new Array[Double](s)
    var j = 0
    while (j < s) { sncs(j) = negCos(v, vn, n2, supCents(j), supNorms(j)); j += 1 }
    val sIdx = Array.range(0, s).map(Integer.valueOf)
    java.util.Arrays.sort(sIdx, (a: Integer, b: Integer) => {
      val cmp = java.lang.Double.compare(sncs(a), sncs(b))
      if (cmp != 0) cmp else java.lang.Long.compare(supIds(a), supIds(b))
    })
    val probed = new Array[Long](nProbe)
    j = 0
    while (j < nProbe) { probed(j) = supIds(sIdx(j)); j += 1 }
    // fine: rank only centroids whose super-cell is probed
    val c = ids.length
    val cand = new Array[Int](c)
    var nCand = 0
    j = 0
    while (j < c) {
      val so = supOf(j)
      var k = 0
      var hit = false
      while (k < nProbe && !hit) { hit = probed(k) == so; k += 1 }
      if (hit) { cand(nCand) = j; nCand += 1 }
      j += 1
    }
    val n = if (take < nCand) take else nCand
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val ncs = new Array[Double](nCand)
    j = 0
    while (j < nCand) {
      val cj = cand(j)
      ncs(j) = negCos(v, vn, n2, cents(cj), norms(cj))
      j += 1
    }
    val cIdx = Array.range(0, nCand).map(Integer.valueOf)
    java.util.Arrays.sort(cIdx, (a: Integer, b: Integer) => {
      val cmp = java.lang.Double.compare(ncs(a), ncs(b))
      if (cmp != 0) cmp
      else java.lang.Long.compare(ids(cand(a)), ids(cand(b)))
    })
    val out = new Array[Long](n)
    j = 0
    while (j < n) { out(j) = ids(cand(cIdx(j))); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override def nullSafeEval(v: Any, n2: Any): Any =
    kernel(v, n2.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("twoLevelCellsK", this,
      classOf[TwoLevelCellsK].getName)
    defineCodeGen(ctx, ev, (v, n2) => s"$ref.kernel($v, $n2)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TwoLevelCellsK =
    copy(left = l, right = r)
}

/** `pq_encode(v)`: the m PQ codes of a quantized vector against a
  * DRIVER-COLLECTED codebook — per subspace s, the index j minimizing
  * the exact integer L2 distance |v_s|² + |e|² − 2·v_s·e, ties to the
  * lower j. The fused-kernel form of the encode projection's m
  * `least(struct(d, j))` chains over ksub entries each (same
  * planning-tax rationale as [[NearestCellsK]]); the arithmetic is
  * the identical expansion on the identical quantized integers, so
  * codes are bit-equal. Null-v rows return NULL codes, matching the
  * joined path; the replaced chain's nulls-first least() instead gave
  * a null row codes [0,0,...], whose ADC distance is FINITE — so on a
  * corpus with null embeddings the chain could rank a null doc where
  * this kernel never does. The NULL-codes contract is the correct
  * one (a null vector has no meaningful distance) and is pinned by
  * SimilaritySuite's null-embedding test on the pq/ivfpq top-k
  * outputs.
  */
case class PqEncodeK(child: Expression, cb: Array[Array[Array[Long]]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_encode needs ARRAY<BIGINT>, got $t")
  }
  def kernel(vRaw: Any): ArrayData = {
    val v = vRaw.asInstanceOf[ArrayData]
    val m = cb.length
    val sub = cb(0)(0).length
    // ragged rows shorter than m*sub contribute 0 for their missing
    // components (the pre-kernel slice semantics) instead of reading
    // past the row's UnsafeArrayData
    val vn = v.numElements()
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * sub
      var vn2 = 0L
      var i = 0
      while (i < sub) {
        val x = if (base + i < vn) v.getLong(base + i) else 0L
        vn2 += x * x; i += 1
      }
      val entries = cb(s)
      var bestJ = 0
      var bestD = Long.MaxValue
      var j = 0
      while (j < entries.length) {
        val e = entries(j)
        var en2 = 0L
        var dot = 0L
        i = 0
        while (i < sub) {
          val x = e(i)
          en2 += x * x
          if (base + i < vn) dot += v.getLong(base + i) * x
          i += 1
        }
        val d = vn2 + en2 - 2L * dot
        if (d < bestD) { bestD = d; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }
  override def nullSafeEval(v: Any): Any = kernel(v)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeK", this, classOf[PqEncodeK].getName)
    defineCodeGen(ctx, ev, v => s"$ref.kernel($v)")
  }
  override protected def withNewChildInternal(c: Expression): PqEncodeK =
    copy(child = c)
}

object VectorFunctions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
  def dot_long(a: Column, b: Column): Column =
    column(DotLong(expression(a), expression(b)))
  def nearest_cells(v: Column, n2: Column, ids: Array[Long],
      cents: Array[Array[Long]], norms: Array[Long], take: Int): Column =
    column(NearestCellsK(expression(v), expression(n2), ids, cents, norms, take))
  def pq_encode(v: Column, cb: Array[Array[Array[Long]]]): Column =
    column(PqEncodeK(expression(v), cb))
  def two_level_cells(v: Column, n2: Column,
      supIds: Array[Long], supCents: Array[Array[Long]], supNorms: Array[Long],
      superProbes: Int,
      ids: Array[Long], cents: Array[Array[Long]], norms: Array[Long],
      supOf: Array[Long], take: Int): Column =
    column(TwoLevelCellsK(expression(v), expression(n2), supIds, supCents,
      supNorms, superProbes, ids, cents, norms, supOf, take))
}
