package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}


/** Native Catalyst expression for the vector hot path: dot product of
  * two array<double> columns with whole-stage-codegen support.
  *
  * Why an Expression and not `aggregate(zip_with(...))`: Spark's
  * higher-order functions evaluate their lambdas interpreted (one
  * closure call per element, plus a materialized zipped array per
  * row) — measured ~5× slower on the embedding pair scan. This codegen
  * loop keeps the whole similarity stage inside generated Java.
  * Accumulation is sequential ascending-index double adds — the exact
  * order the HOF fold and the DuckDB oracle use, so results stay
  * bit-identical.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  // getDouble on ArrayData silently misreads a wrong-typed column;
  // reject at analysis time (ExpectsInputTypes can't express this —
  // its AbstractDataType is private[sql])
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
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
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection LSH signature of an array<double> vector:
  * bit j is the sign of the dot product with a deterministic
  * pseudo-random hyperplane — no stored model, reproducible on any
  * cluster.
  *
  * Hyperplane weight (j, d) comes from md5("j|d"): the first 6 hex
  * digits as an integer, mapped affinely into [-1, 1]. md5 is
  * bit-identical in every engine, so an ANSI-SQL oracle (DuckDB) can
  * reproduce the planes digit-for-digit and the whole LSH pipeline
  * becomes hash-matchable — the differential-testing property the
  * driver gate needs. The plane table is built once per (bits, dim)
  * and cached (transient, per-JVM), so the md5 cost never touches the
  * per-row path.
  *
  * Why native: the equivalent HOF formulation (`transform` over planes
  * of `aggregate` over dimensions) builds an O(bits × dim) expression
  * tree that gets DUPLICATED through self-joins — large enough to make
  * Catalyst planning take minutes. This node is O(1) in the plan and a
  * tight loop at runtime. */
case class LshSignature(child: Expression, bits: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(bits >= 1 && bits <= 63, "bits in [1, 63]")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "graft_lsh_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${t.sql}")
    }

  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()

  /** Flat [j * dim + d] plane table; see [[LshSignature.hyperplane]]. */
  private def planesFor(dim: Int): Array[Double] =
    planeCache.computeIfAbsent(dim, _ => {
      val arr = new Array[Double](bits * dim)
      var j = 0
      while (j < bits) {
        var d = 0
        while (d < dim) {
          arr(j * dim + d) = LshSignature.hyperplane(j, d)
          d += 1
        }
        j += 1
      }
      arr
    })

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val planes = planesFor(dim)
    var sig = 0L
    var j = 0
    while (j < bits) {
      var proj = 0.0
      var d = 0
      while (d < dim) {
        proj += v.getDouble(d) * planes(j * dim + d)
        d += 1
      }
      sig = (sig << 1) | (if (proj > 0) 1L else 0L)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("lshExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $expr.sigEval($c);")
  }

  /** Called from generated code. */
  def sigEval(v: ArrayData): Long = nullSafeEval(v).asInstanceOf[Long]

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSignature {
  /** Deterministic hyperplane weight in [-1, 1]: the first 6 hex
    * digits of md5("j|d") as an integer v, then
    * (v % 2000001 - 1000000) / 1e6. SQL mirror (DuckDB):
    * instr-decode the six hex digits of md5(j || '|' || d) and apply
    * the same affine map — integer-exact, so both engines hold the
    * identical double. */
  def hyperplane(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$j|$d".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val v = ((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)
    (v % 2000001 - 1000000) / 1000000.0
  }
}

/** Multi-long sign-LSH band signatures: `bands` longs, each holding
  * `bits` sign bits — band i covers hyperplanes j ∈ [i·bits,
  * (i+1)·bits) (the SAME md5-derived [[LshSignature.hyperplane]]
  * planes), accumulated `val = val<<1 | bit` over ascending j within
  * the band, so plane j lands at position `bits − 1 − (j mod bits)`.
  *
  * Why this exists: [[LshSignature]] packs the whole signature into
  * ONE long, which caps band width at r ≤ 30 once the bucket space
  * must track the corpus (2^r ≥ ⌈n/8⌉) — past ~8.6e9 vectors the cap
  * binds, and well before it the leftover band budget b = 60÷r
  * shrinks to 2, collapsing recall (measured 49% at cos 0.99, n=10⁹,
  * on the single-long rule). Emitting one long PER BAND removes the
  * total-bits budget entirely: r may grow to 62 (a band value always
  * fits a non-negative long) while b is chosen for recall alone.
  *
  * Equivalence note: for geometries that fit a single long, banding
  * this array is candidate-set-identical to shifting a packed
  * [[LshSignature]] — both partition the same plane set into the same
  * contiguous r-plane groups, and (band_idx, band_val) keys are
  * injective relabelings of those groups.
  *
  * One pass over all bands·bits planes per row (same total work as
  * the packed form), whole-stage codegen via a reference-object call. */
case class LshBandArray(child: Expression, bands: Int, bits: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(bands >= 1 && bands <= 64, "bands in [1, 64]")
  require(bits >= 1 && bits <= 62, "bits-per-band in [1, 62]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_lsh_bands"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${t.sql}")
    }

  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()

  /** Flat [j * dim + d] plane table over all bands·bits planes. */
  private def planesFor(dim: Int): Array[Double] =
    planeCache.computeIfAbsent(dim, _ => {
      val total = bands * bits
      val arr = new Array[Double](total * dim)
      var j = 0
      while (j < total) {
        var d = 0
        while (d < dim) {
          arr(j * dim + d) = LshSignature.hyperplane(j, d)
          d += 1
        }
        j += 1
      }
      arr
    })

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val planes = planesFor(dim)
    val out = new Array[Long](bands)
    var i = 0
    var j = 0
    while (i < bands) {
      var sig = 0L
      var k = 0
      while (k < bits) {
        var proj = 0.0
        var d = 0
        while (d < dim) {
          proj += v.getDouble(d) * planes(j * dim + d)
          d += 1
        }
        sig = (sig << 1) | (if (proj > 0) 1L else 0L)
        k += 1
        j += 1
      }
      out(i) = sig
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("lshBandsExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$expr.bandsEval($c);")
  }

  /** Called from generated code. */
  def bandsEval(v: ArrayData): ArrayData =
    nullSafeEval(v).asInstanceOf[ArrayData]

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encoder: per `subDim`-wide subspace, the
  * 1-based index of the codebook vector whose subspace slice is
  * nearest (squared L2) to the input's — the 32-codes-per-vector
  * compression at the heart of [[graft.analytics.SimilarityQueries
  * .qSimPqTopk]].
  *
  * Why native: the HOF formulation (`transform` over subspaces of
  * `array_sort` over `transform` over codebook entries of
  * `aggregate(zip_with(slice, slice))`) evaluates ~2k interpreted
  * closures and allocates ~4k slice arrays PER ROW — measured 3.3 s
  * of the sf0.1 bench on 2 000 vectors. This loop is the same
  * arithmetic in one pass: sequential ascending-index double adds per
  * subspace, distances rounded once to integer micro-units
  * (`Math.round(d2 * 1e6)` — positive inputs, so identical to the
  * HALF_UP the SQL `round` and the DuckDB oracle apply), ties to the
  * smaller codebook index. The query-side LUT keeps the HOF form (20
  * rows); both paths round identically so ADC lookups stay exact.
  *
  * `left`: array<double> (the vector); `right`: array<array<double>>
  * (the codebook, cid-sorted — position IS the code). */
case class PqCodes(left: Expression, right: Expression, subDim: Int)
  extends BinaryExpression {

  require(subDim >= 1, "subDim >= 1")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def prettyName: String = "graft_pq_codes"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<array<double>>), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override protected def nullSafeEval(vec: Any, cents: Any): Any = {
    val v = vec.asInstanceOf[ArrayData]
    val cs = cents.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val k = cs.numElements()
    // loud, named failures beat an executor-side AIOOBE (short
    // codebook entry) or silently dropped trailing dims (dim not a
    // multiple of subDim); the O(k) length sweep is negligible next
    // to the O(dim·k) distance work
    if (dim % subDim != 0)
      throw new IllegalArgumentException(
        s"graft_pq_codes: vector length $dim is not a multiple of subDim $subDim")
    var kc = 0
    while (kc < k) {
      val clen = cs.getArray(kc).numElements()
      if (clen < dim)
        throw new IllegalArgumentException(
          s"graft_pq_codes: codebook entry $kc has $clen dims but the vector has $dim")
      kc += 1
    }
    val m = dim / subDim
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val off = mi * subDim
      var best = Long.MaxValue
      var bestK = 0
      var ki = 0
      while (ki < k) {
        val cv = cs.getArray(ki)
        var d2 = 0.0
        var i = 0
        while (i < subDim) {
          val diff = v.getDouble(off + i) - cv.getDouble(off + i)
          d2 += diff * diff
          i += 1
        }
        val micro = Math.round(d2 * 1000000.0)
        // strict <: equal micro distances keep the earlier (smaller)
        // codebook index — the (d2m, k) ascending tie-break
        if (micro < best) { best = micro; bestK = ki + 1 }
        ki += 1
      }
      codes(mi) = bestK
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Called from generated code. */
  def codesEval(v: ArrayData, cs: ArrayData): ArrayData =
    nullSafeEval(v, cs).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("pqExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s" $expr.codesEval($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance (ADC) score: codes (array<int>, 1-based PQ
  * codebook positions — [[PqCodes]]' output convention) indexed into a
  * per-query lookup table (array<array<bigint>>, one row of micro-unit
  * subspace distances per code cell), summed as a long.
  *
  * This is THE per-candidate hot loop of the PQ/IVFADC family — at
  * scale every probed candidate pays exactly this: |cells| integer
  * array lookups and adds. The HOF formulation
  * (`aggregate(zip_with(codes, lut, (c, r) -> element_at(r, c)))`)
  * evaluates its lambdas interpreted AND materializes a zipped
  * struct-array per candidate row; this expression keeps the whole
  * scoring stage inside whole-stage codegen with zero per-row
  * allocation. Identical arithmetic (integer adds in cell order), so
  * swapping it in changed no oracle-gated result. Out-of-range codes
  * fail loudly with the expression name, never an executor AIOOBE. */
case class AdcScore(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_adc_score"

  // scoreEval's getInt/getLong accessors assume exactly these shapes;
  // anything else must fail at analysis, not as an executor miscast
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(LongType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int>, array<array<bigint>>), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override protected def nullSafeEval(codes: Any, lut: Any): Any = {
    val c = codes.asInstanceOf[ArrayData]
    val t = lut.asInstanceOf[ArrayData]
    scoreEval(c, t)
  }

  /** Shared by eval and codegen (referenced object — same pattern as
    * [[PqCodes.codesEval]]). */
  def scoreEval(c: ArrayData, t: ArrayData): Long = {
    val n = c.numElements()
    if (t.numElements() < n)
      throw new IllegalArgumentException(
        s"graft_adc_score: ${t.numElements()} LUT rows for $n codes")
    var acc = 0L
    var i = 0
    while (i < n) {
      val code = c.getInt(i)
      val row = t.getArray(i)
      if (code < 1 || code > row.numElements())
        throw new IllegalArgumentException(
          s"graft_adc_score: code $code out of range 1..${row.numElements()}" +
            s" in cell $i")
      acc += row.getLong(code - 1)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("adcExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $expr.scoreEval($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Codegen'd dot product over two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    ExprBridge.column(DotProduct(
      ExprBridge.expression(a), ExprBridge.expression(b)))

  /** Codegen'd sign-LSH signature (`bits` sign bits as a long). */
  def lshSignature(v: Column, bits: Int): Column =
    ExprBridge.column(LshSignature(ExprBridge.expression(v), bits))

  /** Codegen'd multi-long sign-LSH band signatures: `bands` longs of
    * `bits` sign bits each (band i = planes [i·bits, (i+1)·bits)). */
  def lshBands(v: Column, bands: Int, bits: Int): Column =
    ExprBridge.column(LshBandArray(ExprBridge.expression(v), bands, bits))

  /** Codegen'd PQ encode: 1-based nearest-codebook-slice index per
    * `subDim`-wide subspace. */
  def pqCodes(v: Column, codebook: Column, subDim: Int): Column =
    ExprBridge.column(PqCodes(
      ExprBridge.expression(v), ExprBridge.expression(codebook), subDim))

  /** Codegen'd ADC score: 1-based codes indexed into per-cell LUT rows,
    * summed as a long. */
  def adcScore(codes: Column, lut: Column): Column =
    ExprBridge.column(AdcScore(
      ExprBridge.expression(codes), ExprBridge.expression(lut)))
}
