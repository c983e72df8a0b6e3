package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Analysis-time input-type guards shared by the custom kernels below.
  * The kernels read ArrayData slots at fixed widths (getDouble/getLong/
  * getUTF8String), so a mistyped input would not fail — it would read
  * misaligned bytes and return GARBAGE (r13 review). Every expression
  * whose eval dispatches on a child's type checks it here and fails
  * ANALYSIS with a readable message instead. */
private[functions] object InputChecks {
  def floatOrDoubleArray(name: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<float> or array<double>, got ${t.simpleString}")
    }

  def typed(name: String, e: Expression, want: DataType): TypeCheckResult =
    if (org.apache.spark.sql.catalyst.types.DataTypeUtils
        .sameType(e.dataType, want)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects ${want.simpleString}, got ${e.dataType.simpleString}")

  def all(rs: TypeCheckResult*): TypeCheckResult =
    rs.find(_ != TypeCheckResult.TypeCheckSuccess)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
}

/** Gauss error function, double precision (fractional-expansion algorithm
  * of commons-math3's Erf). Used by the statistical layer (z→p conversion,
  * normal CDF). Reference uses ClickHouse's built-in `erf`
  * (sql/gen01_single_feature.sql:67).
  */
case class ErfExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    org.apache.commons.math3.special.Erf.erf(v.asInstanceOf[Double])
  // direct static call — stays inside the WholeStageCodegen span
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.commons.math3.special.Erf.erf($c)")
  override protected def withNewChildInternal(c: Expression): ErfExpr = copy(c)
  override def prettyName: String = "graft_erf"
}

/** Abramowitz & Stegun 7.1.26 rational approximation of erf (|err| ≤ 1.5e-7).
  * Exists alongside the precise ErfExpr because the DuckDB oracle has no
  * erf at all: oracle queries spell out this exact formula in SQL, and this
  * expression evaluates the identical arithmetic on the Spark side, so both
  * engines agree to the last ulp rather than to 1.5e-7.
  */
object ErfAS {
  def erfAS(x: Column): Column = {
    val ax = abs(x)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * ax)
    val poly = (((((lit(1.061405429) * t - lit(1.453152027)) * t) + lit(1.421413741)) * t
      - lit(0.284496736)) * t + lit(0.254829592)) * t
    val y = lit(1.0) - poly * exp(-(ax * ax))
    when(x < 0, -y).otherwise(y)
  }

  /** The same formula as DuckDB SQL text, for oracle queries. `x` must be a
    * SQL expression string. */
  def duckSql(x: String): String = {
    val t = s"(1.0 / (1.0 + 0.3275911 * abs($x)))"
    val poly = s"((((((1.061405429 * $t - 1.453152027) * $t) + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592) * $t)"
    val y = s"(1.0 - $poly * exp(-(abs($x) * abs($x))))"
    s"(CASE WHEN $x < 0 THEN -$y ELSE $y END)"
  }
}

/** Exact exclusive quantile over an array column — ClickHouse
  * `quantileExactExclusive` / Excel PERCENTILE.EXC semantics (the
  * reference's load-bearing operator, 177 window uses; semantics proven by
  * sql/verify_atomic_nolookahead.sql:49-77):
  * h = q·(n+1); h<1 → min; h≥n → max; else interpolate between the
  * floor(h)-th and (floor(h)+1)-th order statistics (1-based). NULL
  * elements are skipped; empty/all-NULL input → NULL.
  *
  * Used as `quantile_exact_exclusive(collect_list(x) OVER frame, q)` for
  * the no-lookahead rolling/expanding quantiles. O(w log w) per row, which
  * at the reference's frame sizes (≤1000) is ~10⁴ flops/row — fine even at
  * 100 TB since the work is per-row within a partitioned window, no extra
  * shuffle. (A TypedImperativeAggregate with an order-statistics tree is
  * the planned end-state if frames grow.)
  */
case class QuantileExactExclusive(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(arrAny: Any, qAny: Any): Any =
    QuantileExactExclusive.evalArray(
      arrAny.asInstanceOf[ArrayData], qAny.asInstanceOf[Double])

  // Codegen delegates to the static evaluator: the body stays one static
  // call, but the surrounding WholeStageCodegen span is NOT broken the way
  // a CodegenFallback would break it — the quantile-gated chains
  // (q15/q40/q41/q45/q46) keep their fused pipelines.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, q) => {
      s"""
         |java.lang.Double ${ev.value}_r =
         |  graft.functions.QuantileExactExclusive.evalArray($arr, $q);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "quantile_exact_exclusive"
}

/** All percentiles of one array in a single sort — the multi-gate variant
  * of [[QuantileExactExclusive]]. The formation frame needs p75/p90/p95 of
  * the same prior-intensity window: as three separate expressions each
  * carries its own collect_list window buffer and its own sort; as one
  * expression the frame is buffered once, sorted once, and every gate
  * interpolates from the same order statistics. Returns a double array
  * aligned with `qs` (empty/all-NULL input → NULL, same as the scalar
  * form), so per-element semantics are bit-identical to the scalar
  * expression.
  */
case class QuantileMultiExclusive(child: Expression, qs: Seq[Double])
    extends UnaryExpression {
  require(qs.nonEmpty)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  private lazy val qArr: Array[Double] = qs.toArray

  override def nullSafeEval(arrAny: Any): Any =
    QuantileMultiExclusive.evalArray(arrAny.asInstanceOf[ArrayData], qArr)

  // same shape as QuantileExactExclusive: one static call, WholeStageCodegen
  // span stays intact
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val qsRef = ctx.addReferenceObj("qs", qArr, "double[]")
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
         |  graft.functions.QuantileMultiExclusive.evalArray($arr, $qsRef);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): QuantileMultiExclusive =
    copy(child = c)
  override def prettyName: String = "quantile_multi_exclusive"
}

object QuantileMultiExclusive {
  /** Exclusive-quantile interpolation over an ALREADY-SORTED prefix
    * `buf[0, m)` — the single shared arithmetic behind the declarative
    * expression AND the per-series replay kernel
    * (operators/Formations.withFormationColumnsReplay), so the two paths
    * are bit-identical by construction. Caller guarantees m > 0. */
  def interpolate(buf: Array[Double], m: Int, qs: Array[Double]): Array[Double] = {
    val out = new Array[Double](qs.length)
    var k = 0
    while (k < qs.length) {
      val h = qs(k) * (m + 1)
      out(k) =
        if (h < 1.0) buf(0)
        else if (h >= m) buf(m - 1)
        else {
          val fh = math.floor(h)
          val idx = fh.toInt
          buf(idx - 1) + (h - fh) * (buf(idx) - buf(idx - 1))
        }
      k += 1
    }
    out
  }

  /** One sort, k interpolations; element k follows the exact scalar
    * evalArray semantics for qs(k). */
  def evalArray(ad: ArrayData, qs: Array[Double]): ArrayData = {
    val n0 = ad.numElements()
    val buf = new Array[Double](n0)
    var m = 0
    var i = 0
    while (i < n0) {
      if (!ad.isNullAt(i)) { buf(m) = ad.getDouble(i); m += 1 }
      i += 1
    }
    if (m == 0) null
    else {
      java.util.Arrays.sort(buf, 0, m)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(interpolate(buf, m, qs))
    }
  }
}

/** Sequential-fold dot product of two numeric-array columns — the
  * codegen'd kernel behind every cosine in the similarity layer.
  *
  * Semantics are exactly `aggregate(zip_with(a, b, (x,y) -> x*y), 0D,
  * (acc,v) -> acc+v)` — a strict LEFT fold in element order, so doubles are
  * bit-identical to the HOF form and to the DuckDB `list_reduce` oracle —
  * but evaluated as one static loop instead of interpreted lambda closures
  * that materialize a zipped array per call. On the blocked pairwise
  * verifier (q28) the HOF form was ~80× the per-pair cost of this loop at
  * the 10× rehearsal scale. Accepts float or double arrays (floats promote
  * exactly, as the explicit double-cast did); length mismatch or a NULL
  * element poisons to NULL, matching zip_with + `acc + NULL`.
  */
case class DotFold(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(InputChecks.floatOrDoubleArray("dot_fold left", left),
      InputChecks.floatOrDoubleArray("dot_fold right", right))
      .find(_ != TypeCheckResult.TypeCheckSuccess)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(aAny: Any, bAny: Any): Any =
    DotFold.evalDot(
      aAny.asInstanceOf[ArrayData], bAny.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.DotFold.evalDot(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "dot_fold"
}

object DotFold {
  def evalDot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}

/** Sign-random-projection LSH bucket: bit j of the result is the sign of
  * `planes(j) · e` (sequential left fold, float elements promote exactly) —
  * the codegen'd kernel behind the ANN bucketing (q30/q48 shape).
  *
  * The previous form unrolled planes×dims literal multiply-add terms into
  * the plan (to escape interpreted HOF lambdas); at 8×64 that is a 512-term
  * expression whose generated source blew past 1.5 MB task binaries and
  * dominated the query in janino COMPILE time, re-paid per stage that
  * referenced the bucket. This expression is a constant-size static call
  * with the plane matrix as a reference object — same arithmetic, same
  * left-fold order, bit-identical buckets (pinned vs the unrolled form in
  * GraftFunctionsSpec).
  *
  * Edge parity with the unrolled form: a NULL element or an array shorter
  * than a plane makes that plane's dot NULL, which contributed 0 there
  * (`when(null >= 0, 2^j) otherwise 0`) — so the whole bucket degrades to
  * the same value plane-by-plane.
  */
case class SrpBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  // the bucket is a 32-bit plane mask; 1 << j wraps mod 32 in Java, so a
  // 33rd plane would silently ALIAS plane 0's bit and merge buckets with
  // no error (r13 review)
  require(planes.nonEmpty && planes.length <= 32,
    s"srp_bucket supports 1..32 hyperplanes, got ${planes.length}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.floatOrDoubleArray("srp_bucket", child)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(aAny: Any): Any =
    SrpBucket.evalBucket(aAny.asInstanceOf[ArrayData], planes, isFloat)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.SrpBucket.evalBucket($a, $planesRef, $isFloat)")
  }

  override protected def withNewChildInternal(c: Expression): SrpBucket =
    copy(child = c)
  override def prettyName: String = "srp_bucket"
}

object SrpBucket {
  def evalBucket(e: ArrayData, planes: Array[Array[Double]], f: Boolean): Int = {
    val n = e.numElements()
    var bucket = 0
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      if (n >= p.length) {
        var s = 0.0
        var d = 0
        var ok = true
        while (ok && d < p.length) {
          if (e.isNullAt(d)) ok = false
          else {
            val x = if (f) e.getFloat(d).toDouble else e.getDouble(d)
            s += x * p(d)
            d += 1
          }
        }
        if (ok && s >= 0.0) bucket |= 1 << j
      }
      j += 1
    }
    bucket
  }
}

/** Intersection cardinality of two SORTED, DISTINCT, null-free string
  * arrays — the codegen'd kernel behind every shingle-set Jaccard
  * (|A∪B| = |A|+|B|−|A∩B| makes the union size free).
  *
  * `size(array_intersect(a, b))` builds a hash set and an output array per
  * evaluation; on the blocked pairwise verifier (q25) that allocation was
  * ~75× the per-pair cost of this merge walk at the 10× rehearsal scale.
  * Caller contract: both inputs pre-sorted with `sort_array` (one sort per
  * document, amortized over all its pairs) — binary UTF8 order, the same
  * ordering this merge uses.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  // the merge dispatches on the LEFT element type; both sides must agree
  // and be one of the two supported element types, or the typed getters
  // would read garbage from the other encoding (r13 review)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) |
           (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "sorted_intersect_count expects two array<string> or two " +
          s"array<long>, got ${l.simpleString} and ${r.simpleString}")
    }

  // dispatch once at plan time: string-element merge (q25's exact shingle
  // sets) vs long-element merge (the hashed corpus-pipeline sets)
  private def isLongArr: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(aAny: Any, bAny: Any): Any =
    if (isLongArr)
      SortedIntersectCount.evalCountLong(
        aAny.asInstanceOf[ArrayData], bAny.asInstanceOf[ArrayData])
    else
      SortedIntersectCount.evalCount(
        aAny.asInstanceOf[ArrayData], bAny.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val m = if (isLongArr) "evalCountLong" else "evalCount"
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedIntersectCount.$m($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {
  def evalCount(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { n += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    n
  }

  def evalCountLong(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

/** 32-bit-prefix MD5 hash of a string, as a long — semantically identical
  * to `conv(substring(md5(c), 1, 8), 16, 10)` (the engine's shared
  * deterministic shingle/token hash, mirrored as
  * `('0x' || substr(md5(x),1,8))::BIGINT` in the DuckDB oracles) but
  * evaluated as one digest call over the UTF-8 bytes: no 32-char hex
  * string, no substring, no base-16 parse, and the MessageDigest instance
  * is thread-cached. The first 8 hex chars of the digest ARE its first 4
  * bytes, so the value is the big-endian unsigned int of those bytes.
  */
case class Md5PrefixInt(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Md5PrefixInt.evalHash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5PrefixInt.evalHash($c)")
  override protected def withNewChildInternal(c: Expression): Md5PrefixInt = copy(c)
  override def prettyName: String = "md5_prefix_int"
}

object Md5PrefixInt {
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val outLocal: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](16))

  def evalHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    md.update(s.getBytes)
    val out = outLocal.get()
    md.digest(out, 0, 16)
    hash32(out)
  }

  private[functions] def hash32(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)

  /** Digest of `bytes[off, off+len)` → 32-bit-prefix long (zero-alloc path
    * for byte-range windows; same value as evalHash on that slice). */
  private[functions] def hashRange(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = mdLocal.get()
    md.reset()
    md.update(bytes, off, len)
    val out = outLocal.get()
    md.digest(out, 0, 16)
    hash32(out)
  }
}

/** Membership probe against a pre-built Bloom filter over LONG keys
  * (`org.apache.spark.util.sketch.BloomFilter`, the same sketch Spark's
  * own runtime bloom joins use). The serialized filter rides a BROADCAST
  * handle, not the expression tree: the expression (hence every task
  * binary and the driver's plan string) carries only the ~handle-sized
  * reference, the bytes ship once per executor over the broadcast
  * mechanism, and the deserialized filter is per-task-instance lazy —
  * at a 100-TB decontamination filter (~100M keys ≈ 170 MB serialized)
  * tree-embedding would have re-shipped it inside every task (r13
  * review). Eval is two hash probes, codegen'd via a static call so the
  * surrounding projection stays in whole-stage codegen. False POSITIVES
  * only — a `true` must be confirmed by an exact join, a `false` is
  * definitive — which is exactly the prefilter contract q92 builds on.
  */
case class BloomMightContain(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[Array[Byte]])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType

  // deserialized lazily per expression instance and dropped with the
  // plan: no static cache, nothing to leak across the many q92 runs of a
  // long-lived JVM; the BYTES live once per executor in the broadcast
  // block store either way
  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloom.value))

  def probe(v: Long): Boolean = filter.mightContainLong(v)

  override def nullSafeEval(v: Any): Any = probe(v.asInstanceOf[Long])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val selfRef = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomMightContain].getName)
    defineCodeGen(ctx, ev, c => s"$selfRef.probe($c)")
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
  override def prettyName: String = "bloom_might_contain"
}

/** The whole q23 winnowing-fingerprint document loop as one expression:
  * 5-char shingles → 32-bit-prefix MD5 hashes → rolling min of each 4-hash
  * window → (n_shingles, n_fp = distinct mins, fp_min, fp_max).
  *
  * Semantically identical to the composed form
  *   sh   = transform(sequence(1, greatest(length(text)-4, 1)), i -> substring(text, i, 5))
  *   h    = transform(sh, md5Int)
  *   mins = size<4 ? [array_min(h)] : transform(..., least of 4)
  * but one static call per document: char→byte offsets computed once (so
  * shingle windows are byte ranges, not per-position UTF8String
  * allocations), one thread-cached digest, no hex round-trip, no
  * interpreted higher-order lambdas. The rolling-hash CPU is the inherent
  * cost; everything else was wrapper.
  */
case class WinnowStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_shingles", IntegerType, nullable = false),
    StructField("n_fp", IntegerType, nullable = false),
    StructField("fp_min", LongType, nullable = false),
    StructField("fp_max", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    WinnowStats.evalText(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowStats.evalText($c)")

  override protected def withNewChildInternal(c: Expression): WinnowStats = copy(c)
  override def prettyName: String = "winnow_stats"
}

object WinnowStats {
  private final val K = 5 // shingle chars
  private final val W = 4 // winnow window (hashes)

  def evalText(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    // byte offset of each char start, plus the end sentinel
    val nChars = s.numChars()
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var o = 0
    while (i < nChars) {
      offs(i) = o
      o += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(o))
      i += 1
    }
    offs(nChars) = bytes.length
    // substring(text, i, 5) semantics: 1-based char start, shorter at the
    // tail; n_shingles = greatest(nChars - 4, 1) (one whole-text shingle
    // for short docs)
    val nSh = math.max(nChars - (K - 1), 1)
    val hashes = new Array[Long](nSh)
    i = 0
    while (i < nSh) {
      val from = offs(math.min(i, nChars))
      val until = offs(math.min(i + K, nChars))
      hashes(i) = Md5PrefixInt.hashRange(bytes, from, until - from)
      i += 1
    }
    // rolling min of each W-hash window; short docs: one global min
    val nMins = if (nSh < W) 1 else nSh - (W - 1)
    val mins = new Array[Long](nMins)
    if (nSh < W) {
      var m = Long.MaxValue
      i = 0
      while (i < nSh) { if (hashes(i) < m) m = hashes(i); i += 1 }
      mins(0) = m
    } else {
      i = 0
      while (i < nMins) {
        var m = hashes(i)
        var j = i + 1
        while (j < i + W) { if (hashes(j) < m) m = hashes(j); j += 1 }
        mins(i) = m
        i += 1
      }
    }
    var fpMin = Long.MaxValue
    var fpMax = Long.MinValue
    i = 0
    while (i < nMins) {
      if (mins(i) < fpMin) fpMin = mins(i)
      if (mins(i) > fpMax) fpMax = mins(i)
      i += 1
    }
    val sorted = java.util.Arrays.copyOf(mins, nMins)
    java.util.Arrays.sort(sorted)
    var nFp = 1
    i = 1
    while (i < nMins) { if (sorted(i) != sorted(i - 1)) nFp += 1; i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nSh, nFp, fpMin, fpMax))
  }
}

/** Sorted distinct word-bigram set of a document — the shingle unit of the
  * dedup family (q25/q26/q49) as ONE static call per document.
  * Semantically identical to the composed chain
  *   tok   = split(trim(text), "\\s+")
  *   sh2   = transform(sequence(1, greatest(size(tok)-1, 1)),
  *                     i -> concat_ws(' ', slice(tok, i, 2)))
  *   shset = sort_array(array_distinct(sh2))
  * (single-token docs yield that token as their one "bigram", exactly like
  * slice's 1-element tail) but without the per-token interpreted lambda,
  * slice allocation and two array rebuilds — the prep was ~4× the cost of
  * the minhash aggregation it feeds at the 10× rehearsal scale. Sort order
  * is binary UTF8, the same order sort_array uses, so downstream merge
  * intersections (SortedIntersectCount) see identical arrays.
  */
case class WordBigrams(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    WordBigrams.evalText(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordBigrams.evalText($c)")

  override protected def withNewChildInternal(c: Expression): WordBigrams = copy(c)
  override def prettyName: String = "word_bigrams"
}

object WordBigrams {
  import org.apache.spark.unsafe.types.UTF8String

  def evalText(s: UTF8String): ArrayData = {
    // trim() is space-only (0x20), matching functions.trim; the regex split
    // matches split(col, "\\s+") which delegates to Java String.split
    val toks = s.trim().toString.split("\\s+", -1)
    val n = math.max(toks.length - 1, 1)
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i < n) {
      val bigram =
        if (i + 1 < toks.length) toks(i) + " " + toks(i + 1)
        else toks(i) // 1-element tail slice (single-token doc)
      set.add(UTF8String.fromString(bigram))
      i += 1
    }
    val out = new Array[AnyRef](set.size())
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sorted distinct md5-32 hashes of a document's word bigrams — the
  * HASHED twin of [[WordBigrams]], equal by construction to
  * `sort_array(array_distinct(transform(word_bigrams(text), md5_prefix_int)))`
  * but built in one kernel pass.
  *
  * This is the corpus-pipeline representation: a shingle travels as 8
  * bytes instead of a ~15-char string, which shrinks the persisted shingle
  * frame and every candidate-verification shuffle/sort by an order of
  * magnitude — at the 10× rehearsal the string form spilled 21 GB in the
  * verify join's sort alone. Jaccard over distinct hashes equals Jaccard
  * over distinct strings absent 32-bit collisions inside a document pair's
  * union (~10⁻⁶ per pair at 10³ shingles); both engines hash identically,
  * so the cross-engine compare stays bit-exact regardless. The whole dedup
  * family (q25/q26/q49) uses this representation; [[WordBigrams]] keeps
  * the literal shingles available for text ops that need them.
  */
case class HashedWordBigrams(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashedWordBigrams.evalText(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedWordBigrams.evalText($c)")

  override protected def withNewChildInternal(c: Expression): HashedWordBigrams = copy(c)
  override def prettyName: String = "hashed_word_bigrams"
}

object HashedWordBigrams {
  import org.apache.spark.unsafe.types.UTF8String

  def evalText(s: UTF8String): ArrayData = HashedWordNgrams.evalText(s, 2)
}

/** Sorted distinct md5-32 hashes of word n-grams — [[HashedWordBigrams]]
  * generalized to any n (same tokenization and tail-slice contract:
  * max(len−n+1, 1) positions, the final positions clamp to the token
  * list's end, so a doc shorter than n yields its whole token list as one
  * gram). Equal by construction to hashing
  * `array_join(slice(tok, i, n), ' ')` per position and distinct-ing.
  */
case class HashedWordNgrams(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashedWordNgrams.evalText(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedWordNgrams.evalText($c, $n)")

  override protected def withNewChildInternal(c: Expression): HashedWordNgrams =
    copy(child = c)
  override def prettyName: String = s"hashed_word_${n}grams"
}

object HashedWordNgrams {
  import org.apache.spark.unsafe.types.UTF8String

  def evalText(s: UTF8String, n: Int): ArrayData = {
    val toks = s.trim().toString.split("\\s+", -1)
    val nPos = math.max(toks.length - n + 1, 1)
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < nPos) {
      sb.setLength(0)
      val end = math.min(i + n, toks.length)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      set.add(Md5PrefixInt.evalHash(UTF8String.fromString(sb.toString)))
      i += 1
    }
    val out = new Array[Long](set.size())
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Seeded running maximum of a double array, scaled — element i is
  * max(seed, arr[1..i]) * scale (1-based prefixes). With scale 1.0 it is
  * semantically identical to
  *   transform(sequence(1, size(a)), i -> greatest(seed, array_max(slice(a, 1, i))))
  * (the trailing-stop running high of gen201, seeded with the entry price)
  * but a single O(n) scan instead of the O(n²) per-trade slice+max chain —
  * at the reference's 200-bar forward windows that is 40,000 → 200 ops per
  * trade. The scale folds gen201's per-bar trailing stop
  * (running max × (1 − trail_pct)) into the same pass, one multiply per
  * element exactly as `transform(running_maxes, rm -> rm * scale)` did.
  * Max is associative and commutative over doubles, so the scan's
  * values are bit-identical to the slice form — including NaN, which is
  * the LARGEST value under Spark's double ordering and therefore poisons
  * the running max from its position on in both forms. NULL elements poison the
  * prefix from their position on, exactly like array_max over a slice
  * containing NULL... which never occurs here (forward arrays are built
  * from non-null OHLC); inputs with NULLs return NULL for safety.
  */
case class RunningMaxSeeded(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(arrAny: Any, seedAny: Any, scaleAny: Any): Any =
    RunningMaxSeeded.evalScan(arrAny.asInstanceOf[ArrayData],
      seedAny.asInstanceOf[Double], scaleAny.asInstanceOf[Double])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, seed, scale) => {
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
         |  graft.functions.RunningMaxSeeded.evalScan($arr, $seed, $scale);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "running_max_seeded"
}

object RunningMaxSeeded {
  def evalScan(ad: ArrayData, seed: Double, scale: Double): ArrayData = {
    val n = ad.numElements()
    val out = new Array[Double](n)
    var m = seed
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      val v = ad.getDouble(i)
      // Spark's double ordering (SQLOrderingUtil: primitive == first,
      // then Double.compare), not primitive '>': greatest/array_max —
      // the forms the doc claims bit-identity with — treat NaN as the
      // LARGEST value, and ±0.0 as EQUAL with the incumbent kept.
      // Primitive '>' would DROP NaN (v > m is false; pinned by spec);
      // bare Double.compare would replace -0.0 with 0.0 where the
      // composed form keeps the first-seen zero
      if (v != m && java.lang.Double.compare(v, m) > 0) m = v
      out(i) = m * scale
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** First-touch barrier scan: the 1-based index of the first element of
  * `arr[offset+1 .. offset+len]` that is >= (`above`) or <= (`!above`) the
  * threshold, 0 if none — one codegen'd loop for what was
  *   coalesce(array_position(transform(slice(arr, offset + 1, len),
  *     x -> x >= t), true), 0)   (+ offset when found)
  * whose `transform` lambda is a CodegenFallback: evaluated interpreted
  * per row with boxed doubles and a materialized boolean array, and it
  * forced an UnsafeProjection copy of each scanned row's forward arrays.
  *
  * Semantics are those of the composed form, element for element:
  *  - comparison under SQLOrderingUtil.compareDoubles (NaN is the largest
  *    double and equals itself; -0.0 equals 0.0), as `>=`/`<=` compile;
  *  - a NULL element (or, for an array threshold, a NULL or missing
  *    threshold element — zip_with pads with NULL) never matches;
  *  - a NULL array, offset, length or scalar threshold yields 0;
  *  - `len` past the end of the array is clipped; a negative `len` raises
  *    slice's INVALID_PARAMETER_VALUE.LENGTH and a negative offset a named
  *    error, before the threshold is read.
  * The threshold is a double, or an array<double> compared element-wise
  * at the same index (the trailing stop's per-bar stop prices). Returns
  * an index into `arr` (offset included), so the two-segment scan's
  * second segment needs no re-basing.
  */
case class FirstTouch(arr: Expression, offset: Expression, len: Expression,
    threshold: Expression, above: Boolean) extends Expression {
  override def children: Seq[Expression] = Seq(arr, offset, len, threshold)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = InputChecks.all(
    InputChecks.typed(s"$prettyName arr", arr, ArrayType(DoubleType)),
    InputChecks.typed(s"$prettyName offset", offset, IntegerType),
    InputChecks.typed(s"$prettyName len", len, IntegerType),
    if (threshold.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else InputChecks.typed(s"$prettyName threshold", threshold, ArrayType(DoubleType)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = arr.eval(input)
    if (a == null) return 0L
    val o = offset.eval(input)
    if (o == null) return 0L
    val n = len.eval(input)
    if (n == null) return 0L
    FirstTouch.checkWindow(o.asInstanceOf[Int], n.asInstanceOf[Int])
    threshold.eval(input) match {
      case null => 0L
      case t: ArrayData => FirstTouch.scan(
        a.asInstanceOf[ArrayData], o.asInstanceOf[Int], n.asInstanceOf[Int], t, above)
      case t => FirstTouch.scan(
        a.asInstanceOf[ArrayData], o.asInstanceOf[Int], n.asInstanceOf[Int],
        t.asInstanceOf[Double], above)
    }
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val Seq(a, o, n, t) = children.map(_.genCode(ctx))
    // nested like nullSafeCodeGen (a child is only evaluated once the
    // ones before it are non-null), but a NULL reads as "no touch" (0)
    ev.copy(code = code"""
      |${a.code}
      |long ${ev.value} = 0L;
      |if (!${a.isNull}) {
      |  ${o.code}
      |  if (!${o.isNull}) {
      |    ${n.code}
      |    if (!${n.isNull}) {
      |      graft.functions.FirstTouch.checkWindow(${o.value}, ${n.value});
      |      ${t.code}
      |      if (!${t.isNull}) {
      |        ${ev.value} = graft.functions.FirstTouch.scan(
      |          ${a.value}, ${o.value}, ${n.value}, ${t.value}, $above);
      |      }
      |    }
      |  }
      |}""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FirstTouch =
    copy(arr = cs(0), offset = cs(1), len = cs(2), threshold = cs(3))
  override def prettyName: String = "first_touch"
}

object FirstTouch {
  def checkWindow(offset: Int, len: Int): Unit = {
    if (len < 0) throw GraftBridge.negativeLengthError("first_touch", len)
    if (offset < 0) throw new IllegalArgumentException(
      s"first_touch requires offset >= 0, got $offset")
  }

  def scan(a: ArrayData, offset: Int, len: Int, t: Double, above: Boolean): Long =
    scanFrom(a, offset, len, t, null, above)

  def scan(a: ArrayData, offset: Int, len: Int, ts: ArrayData, above: Boolean): Long =
    scanFrom(a, offset, len, 0.0, ts, above)

  /** One loop for both threshold shapes: `ts == null` means the scalar `t`. */
  private def scanFrom(a: ArrayData, offset: Int, len: Int, t: Double,
      ts: ArrayData, above: Boolean): Long = {
    val end = math.min(a.numElements().toLong, offset.toLong + len).toInt
    val tn = if (ts == null) 0 else ts.numElements()
    var i = offset
    while (i < end) {
      if (!a.isNullAt(i) && (ts == null || (i < tn && !ts.isNullAt(i)))) {
        val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
          a.getDouble(i), if (ts == null) t else ts.getDouble(i))
        if (if (above) c >= 0 else c <= 0) return i + 1L
      }
      i += 1
    }
    0L
  }
}

object QuantileExactExclusive {
  /** Static evaluator shared by the interpreted and codegen paths. */
  def evalArray(ad: ArrayData, q: Double): java.lang.Double = {
    val n0 = ad.numElements()
    val buf = new Array[Double](n0)
    var m = 0
    var i = 0
    while (i < n0) {
      if (!ad.isNullAt(i)) { buf(m) = ad.getDouble(i); m += 1 }
      i += 1
    }
    if (m == 0) null
    else {
      java.util.Arrays.sort(buf, 0, m)
      val h = q * (m + 1)
      if (h < 1.0) buf(0)
      else if (h >= m) buf(m - 1)
      else {
        val fh = math.floor(h)
        val idx = fh.toInt // 1-based order statistic
        buf(idx - 1) + (h - fh) * (buf(idx) - buf(idx - 1))
      }
    }
  }
}

/** Column-level API + SQL registration for the graft custom functions. */
object GraftFunctions {

  def erf(c: Column): Column =
    GraftBridge.toColumn(ErfExpr(GraftBridge.toExpr(c)))

  def erfAS(c: Column): Column = ErfAS.erfAS(c)

  def quantileExactExclusive(arr: Column, q: Double): Column =
    GraftBridge.toColumn(QuantileExactExclusive(
      GraftBridge.toExpr(arr), GraftBridge.toExpr(lit(q))))

  /** All of `qs` from one sorted pass over the array (see
    * [[QuantileMultiExclusive]]); result(i) == quantileExactExclusive(qs(i)). */
  def quantileMultiExclusive(arr: Column, qs: Seq[Double]): Column =
    GraftBridge.toColumn(QuantileMultiExclusive(GraftBridge.toExpr(arr), qs))

  /** Sequential-fold dot product (see [[DotFold]]); bit-identical to
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)`. */
  def dotFold(a: Column, b: Column): Column =
    GraftBridge.toColumn(DotFold(GraftBridge.toExpr(a), GraftBridge.toExpr(b)))

  /** Sign-random-projection LSH bucket (see [[SrpBucket]]); bit j is the
    * sign of planes(j)·e as a sequential left fold. */
  def srpBucket(e: Column, planes: Seq[Seq[Double]]): Column =
    GraftBridge.toColumn(SrpBucket(GraftBridge.toExpr(e),
      planes.map(_.toArray).toArray))

  /** |A∩B| of two sorted distinct null-free string arrays (see
    * [[SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.toColumn(SortedIntersectCount(
      GraftBridge.toExpr(a), GraftBridge.toExpr(b)))

  /** 32-bit-prefix MD5 hash (see [[Md5PrefixInt]]); drop-in for
    * `conv(substring(md5(c), 1, 8), 16, 10)`. */
  def md5PrefixInt(c: Column): Column =
    GraftBridge.toColumn(Md5PrefixInt(GraftBridge.toExpr(c)))

  /** Bloom-filter membership probe over a long key (see
    * [[BloomMightContain]]); false positives only, so pair it with an
    * exact confirm join. Takes the serialized filter as a BROADCAST so
    * large filters ship once per executor, never per task. */
  def bloomMightContain(c: Column,
      bytes: org.apache.spark.broadcast.Broadcast[Array[Byte]]): Column =
    GraftBridge.toColumn(BloomMightContain(GraftBridge.toExpr(c), bytes))

  /** PQ code vector vs a flat (s·k + j) codebook (see [[PqEncode]]). */
  def pqEncode(mud: Column, cb: Seq[Seq[Long]], m: Int, k: Int): Column =
    GraftBridge.toColumn(PqEncode(GraftBridge.toExpr(mud), cb, m, k))

  /** Flattened m·k ADC lookup table for a probe (see [[PqLut]]). */
  def pqLut(mud: Column, cb: Seq[Seq[Long]], m: Int, k: Int): Column =
    GraftBridge.toColumn(PqLut(GraftBridge.toExpr(mud), cb, m, k))

  /** Map-only k-means argmin vs a broadcast centroid table (see
    * [[CentroidArgmin]]). */
  def centroidArgmin(mud: Column, cents: Seq[Seq[Long]]): Column =
    GraftBridge.toColumn(CentroidArgmin(GraftBridge.toExpr(mud), cents))

  /** Per-row argmin over a JOINED cell table (see [[CellArgmin]]) — the
    * routed assignment's in-cell kernel: centroids arrive as column
    * values, never as driver/broadcast state. */
  def cellArgmin(mud: Column, cells: Column, ids: Column): Column =
    GraftBridge.toColumn(CellArgmin(GraftBridge.toExpr(mud),
      GraftBridge.toExpr(cells), GraftBridge.toExpr(ids)))

  /** Winnowing fingerprint stats struct (see [[WinnowStats]]). */
  def winnowStats(text: Column): Column =
    GraftBridge.toColumn(WinnowStats(GraftBridge.toExpr(text)))

  /** Sorted distinct word-bigram shingle set (see [[WordBigrams]]). */
  def wordBigrams(text: Column): Column =
    GraftBridge.toColumn(WordBigrams(GraftBridge.toExpr(text)))

  /** Sorted distinct md5-32 hashes of the word-bigram set (see
    * [[HashedWordBigrams]]) — the 8-byte-per-shingle pipeline form. */
  def hashedWordBigrams(text: Column): Column =
    GraftBridge.toColumn(HashedWordBigrams(GraftBridge.toExpr(text)))

  /** Sorted distinct md5-32 hashes of word n-grams (see
    * [[HashedWordNgrams]]). */
  def hashedWordNgrams(text: Column, n: Int): Column =
    GraftBridge.toColumn(HashedWordNgrams(GraftBridge.toExpr(text), n))

  /** Seeded prefix maximum array times `scale` (see [[RunningMaxSeeded]]);
    * one O(n) scan replacing the O(n²) transform/array_max(slice) chain. */
  def runningMaxSeeded(arr: Column, seed: Column, scale: Column = lit(1.0)): Column =
    GraftBridge.toColumn(RunningMaxSeeded(
      GraftBridge.toExpr(arr), GraftBridge.toExpr(seed), GraftBridge.toExpr(scale)))

  /** First 1-based index of `arr[offset+1 .. offset+len]` at or above
    * (`above`) / at or below the threshold, 0 if none (see [[FirstTouch]]);
    * the codegen'd form of
    * `coalesce(array_position(transform(slice(arr, 1, len), x -> x >= t), true), 0)`. */
  def firstTouch(arr: Column, len: Column, threshold: Column, above: Boolean,
      offset: Column = lit(0)): Column =
    GraftBridge.toColumn(FirstTouch(GraftBridge.toExpr(arr), GraftBridge.toExpr(offset),
      GraftBridge.toExpr(len), GraftBridge.toExpr(threshold), above))

  /** Exclusive quantile as an incremental aggregate (TypedImperativeAggregate)
    * — use for plain aggregation and EXPANDING window frames (SURVEY §4.3.1b);
    * for sliding frames prefer quantileExactExclusive over collect_list. */
  def exclusiveQuantileAgg(x: Column, q: Double): Column =
    GraftBridge.toColumn(
      ExclusiveQuantileAgg(GraftBridge.toExpr(x), q).toAggregateExpression())

  /** Normal CDF Φ(x) via precise erf. */
  def normCdf(c: Column): Column =
    lit(0.5) * (lit(1.0) + erf(c / lit(math.sqrt(2.0))))

  /** Sample-adjusted skewness G1 (ClickHouse skewSamp / DuckDB skewness)
    * from Spark's population g1. `n` = non-null count column. */
  def skewSamp(x: Column, n: Column): Column =
    skewness(x) * sqrt(n * (n - lit(1))) / nullif((n - lit(2)).cast("double"), lit(0.0))

  /** Sample excess kurtosis G2 (DuckDB kurtosis) from Spark's population
    * excess g2. */
  def kurtSampExcess(x: Column, n: Column): Column =
    ((n + lit(1)) * kurtosis(x) + lit(6)) * (n - lit(1)) /
      nullif(((n - lit(2)) * (n - lit(3))).cast("double"), lit(0.0))

  /** Raw (non-excess) kurtosis, normal→3 — the convention the reference's
    * DSR math expects (eval/dsr.py:36-43 uses kurt−3). */
  def kurtRaw(x: Column): Column = kurtosis(x) + lit(3.0)

  /** Register SQL-callable versions so reference-shaped queries can be
    * written in spark.sql as well as the DSL. */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val reg = spark.sessionState.functionRegistry
    // SQL numeric literals arrive as Decimal; cast to the expected types
    // (the DSL path goes through lit(...) doubles and needs no cast).
    reg.createOrReplaceTempFunction("graft_erf",
      es => ErfExpr(Cast(es.head, DoubleType)), "scala_udf")
    reg.createOrReplaceTempFunction("quantile_exact_exclusive",
      es => QuantileExactExclusive(
        Cast(es.head, ArrayType(DoubleType)), Cast(es(1), DoubleType)), "scala_udf")
  }
}
