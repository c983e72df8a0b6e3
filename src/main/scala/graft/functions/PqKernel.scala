package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd product-quantization kernels (q103). The declarative form —
  * `transform(sequence…, array_min(transform(sequence…, aggregate(…))))` —
  * is three levels of interpreted lambda per vector (~m·k·subDim boxed
  * multiply-adds); these expressions run the same exact-BIGINT arithmetic
  * as one tight loop behind a single static call, staying inside the
  * surrounding WholeStageCodegen span (the r5 interpreted-kernel lesson:
  * DotFold/WinnowStats et al.). Bit-identical by construction: strict `<`
  * argmin keeps the lowest centroid index on ties, exactly the
  * (dist, j) struct-min / `ORDER BY dist, j` rule of the oracle.
  *
  * The codebook rides along as a broadcast-by-reference `long[][]`
  * (flat s·k + j → subvector), not a Literal tree — 1,024 longs once per
  * task, zero per-row cost.
  */
object PqKernel {

  /** codes(s) = argmin_j L2²(sub_s(mud), cb(s·k + j)), ties → smaller j. */
  def encode(mud: ArrayData, cb: Array[Array[Long]], m: Int, k: Int): ArrayData = {
    val dim = mud.numElements()
    val sub = dim / m
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var bestD = Long.MaxValue
      var bestJ = 0
      var j = 0
      while (j < k) {
        val c = cb(s * k + j)
        var d = 0L
        var i = 0
        while (i < sub) {
          val diff = mud.getLong(s * sub + i) - c(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** lut(s·k + j) = L2²(sub_s(mud), cb(s·k + j)) — the probe-side ADC
    * table. */
  def lut(mud: ArrayData, cb: Array[Array[Long]], m: Int, k: Int): ArrayData = {
    val dim = mud.numElements()
    val sub = dim / m
    val out = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < k) {
        val c = cb(s * k + j)
        var d = 0L
        var i = 0
        while (i < sub) {
          val diff = mud.getLong(s * sub + i) - c(i)
          d += diff * diff
          i += 1
        }
        out(s * k + j) = d
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** `pq_encode(mud)` — child is the micro-unit BIGINT vector. */
case class PqEncode(child: Expression, cb: Seq[Seq[Long]], m: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  // the kernel reads raw 8-byte longs: a double-typed mud (every OTHER
  // kernel's dtype) would silently reinterpret bit patterns as distances
  // under UnsafeArrayData — fail at analysis instead (r14 parity spec)
  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.typed("pq_encode", child, ArrayType(LongType))
  @transient private lazy val cbArr: Array[Array[Long]] = cb.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    PqKernel.encode(v.asInstanceOf[ArrayData], cbArr, m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cbArr, "long[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqKernel.encode($c, $cbRef, $m, $k)")
  }

  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  override def prettyName: String = "pq_encode"
}

/** `pq_lut(mud)` — the flattened m·k ADC lookup table for a probe. */
case class PqLut(child: Expression, cb: Seq[Seq[Long]], m: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.typed("pq_lut", child, ArrayType(LongType))
  @transient private lazy val cbArr: Array[Array[Long]] = cb.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    PqKernel.lut(v.asInstanceOf[ArrayData], cbArr, m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cbArr, "long[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqKernel.lut($c, $cbRef, $m, $k)")
  }

  override protected def withNewChildInternal(c: Expression): PqLut = copy(child = c)
  override def prettyName: String = "pq_lut"
}

/** Full-vector k-means assignment kernel (q113): argmin_c L2²(mud, cents(c))
  * over a broadcast-by-reference centroid table, ties → smaller cid. All
  * arithmetic is EXACT Long (micro-unit diffs ≤ ~6e6, squares ≤ 3.6e13,
  * 64-dim sums ≤ 2.3e15 < 2⁶³), so the result equals the oracle's
  * double-valued `ORDER BY dist, cid` argmin bit-for-bit (those doubles are
  * integer-valued < 2⁵³ — exact). The partial sum prunes against the best
  * distance so far, which cuts most centroid scans early; one tight static
  * loop per row inside WholeStageCodegen — the K-literal-expression form
  * dies at K≈10², and the crossJoin+min(struct) form materializes (and at
  * 100× SPILLS) the N×K exploded rows through a SortAggregate.
  */
object CentroidKernel {
  def argmin(mud: ArrayData, cents: Array[Array[Long]]): Int = {
    val dim = mud.numElements()
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var d = 0L
      var i = 0
      while (i < dim && d < bestD) {
        val diff = mud.getDouble(i).toLong - cv(i)
        d += diff * diff
        i += 1
      }
      if (i == dim && d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}

/** `centroid_argmin(mud)` — child is the micro-unit integer-valued
  * DOUBLE vector (q63/q113's `mud` column). */
case class CentroidArgmin(child: Expression, cents: Seq[Seq[Long]])
    extends UnaryExpression {
  // contract (r8 ADVICE): an empty table would silently return cid 0 and a
  // ragged table would AIOOBE mid-scan — fail fast at construction instead
  require(cents.nonEmpty, "centroid_argmin: empty centroid table")
  require(cents.forall(_.length == cents.head.length),
    "centroid_argmin: ragged centroid table")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  // the kernel reads raw 8-byte doubles: a long-typed mud (the PQ
  // kernels' dtype) would silently reinterpret bit patterns under
  // UnsafeArrayData — fail at analysis instead (r14 parity spec)
  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.typed("centroid_argmin", child, ArrayType(DoubleType))
  @transient private lazy val cArr: Array[Array[Long]] = cents.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    CentroidKernel.argmin(v.asInstanceOf[ArrayData], cArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("kmCents", cArr, "long[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.CentroidKernel.argmin($c, $cRef)")
  }

  override protected def withNewChildInternal(c: Expression): CentroidArgmin = copy(child = c)
  override def prettyName: String = "centroid_argmin"
}

/** Column-borne cell argmin, the in-cell step of the routed (two-level /
  * IVF-style) k-means assignment (q116): a row has already routed to a
  * coarse cell and takes the argmin ONLY over that cell's fine centroids —
  * O(k₁ + K/k₁) work per row instead of O(K), the faiss coarse-quantizer
  * shape. The cell's fine-centroid table arrives as JOINED COLUMN VALUES
  * (array<array<bigint>> + array<int>) instead of a broadcast-by-reference
  * object — which is the whole point: the centroid table never exists on
  * the driver, so driver state is O(√K) no matter how large K grows (the
  * ≥10⁸-vector regime where a reference-object form needs a multi-GB
  * driver heap). Returns the GLOBAL fine cid; ids must be ascending within
  * the cell, so strict < keeps the smaller global cid on ties, matching
  * [[CentroidKernel]] inside each routed subset.
  */
object CellArgminKernel {
  def argmin(mud: ArrayData, cells: ArrayData, ids: ArrayData): Int = {
    val dim = mud.numElements()
    val nc = cells.numElements()
    var best = -1
    var bestD = Long.MaxValue
    var c = 0
    while (c < nc) {
      val cv = cells.getArray(c)
      var d = 0L
      var i = 0
      while (i < dim && d < bestD) {
        val diff = mud.getDouble(i).toLong - cv.getLong(i)
        d += diff * diff
        i += 1
      }
      if (i == dim && d < bestD) { bestD = d; best = ids.getInt(c) }
      c += 1
    }
    if (best < 0)
      throw new IllegalStateException("cell_argmin: empty cell table")
    best
  }
}

/** `cell_argmin(mud, cells, ids)` — cells/ids are the joined row's own
  * per-cell centroid table. */
case class CellArgmin(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = InputChecks.all(
    InputChecks.typed("cell_argmin mud", first, ArrayType(DoubleType)),
    InputChecks.typed("cell_argmin cells", second, ArrayType(ArrayType(LongType))),
    InputChecks.typed("cell_argmin ids", third, ArrayType(IntegerType)))

  override def nullSafeEval(mud: Any, cells: Any, ids: Any): Any =
    CellArgminKernel.argmin(mud.asInstanceOf[ArrayData],
      cells.asInstanceOf[ArrayData], ids.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, c, i) =>
      s"graft.functions.CellArgminKernel.argmin($m, $c, $i)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CellArgmin =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "cell_argmin"
}
