package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native (codegen'd) array dot product.
  *
  * The builtin route — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — walks
  * boxed lambda closures per element; at 2M candidate pairs × 64 dims that
  * interpretation cost dominated the embedding queries (~20 s at sf0.1).
  * This expression compiles to a primitive double loop inside whole-stage
  * codegen: the 100 TB-honest shape for vector math without leaving SQL.
  *
  * Null contract: null input array → null result (BinaryExpression default);
  * null *elements* are not expected (embeddings are dense) and read as 0.0.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Callers pass array<double>; no implicit coercion is attempted.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `k` nearest centroids of a vector, as an array<int> of cell ids ordered
  * by (round(cos, 6) desc, cid desc) — exactly the ordering
  * `sort_array(array(struct(round(dot/nrm·cnorm, 6), cid)...), desc)`
  * produced when the centroid scoring was spelled as 16 inline dot-product
  * structs. That spelling was correct but generated the largest codegen
  * unit in the engine (16 × 64-element literal loops), whose whole-stage
  * compilation dominated the IVF query's wall clock; this expression is
  * one tight loop over a reference-object matrix instead.
  *
  * `centroids` and `k` arrive as foldable literals and are extracted once
  * at plan build (see [[ArrayOps.nearestCells]]); rounding replicates
  * Spark's `round` for doubles (BigDecimal HALF_UP) bit-for-bit.
  */
case class NearestCells(left: Expression, right: Expression,
                        centroids: Array[Array[Double]], k: Int)
    extends BinaryExpression {

  // precomputed per-centroid norms (host-side constants)
  private val cnorms: Array[Double] = NearestCells.norms(centroids)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_cells"

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestCells.run(a.asInstanceOf[ArrayData], b.asInstanceOf[Double],
      centroids, cnorms, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val nRef = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NearestCells.run($a, $b, $cRef, $nRef, $k);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCells {
  /** The per-centroid norms [[run]] takes. */
  def norms(cents: Array[Array[Double]]): Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum))

  def run(v: ArrayData, nrm: Double, cents: Array[Array[Double]],
          cnorms: Array[Double], k: Int): ArrayData = {
    val m = cents.length
    val scores = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cv = cents(c)
      val n = math.min(v.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * cv(i); i += 1 }
      // identical arithmetic to round(dot / (nrm * cnorm), 6); a zero-norm
      // vector or centroid makes the quotient non-finite, which
      // BigDecimal.valueOf would throw on (the round() expression it
      // replaces returned NaN silently) — rank degenerate cells last
      val q = s / (nrm * cnorms(c))
      scores(c) =
        if (!java.lang.Double.isFinite(q)) Double.NegativeInfinity
        else Round6.round(q) // = BigDecimal HALF_UP at 6 dp, sans the
      // per-value decimal detour ([[Round6]] — was the 10M wall clock)
      c += 1
    }
    // top-k by (score desc, cid desc): selection over m=|cells| entries
    val out = new Array[Int](math.min(k, m))
    val taken = new Array[Boolean](m)
    var r = 0
    while (r < out.length) {
      var best = -1
      var cc = 0
      while (cc < m) {
        if (!taken(cc) && (best < 0 || scores(cc) > scores(best) ||
            (scores(cc) == scores(best) && cc > best))) best = cc
        cc += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** L2-nearest codebook index of a subvector — the PQ assignment kernel:
  * `argmax round(⟨sv, c⟩ − |c|²/2, 6)`, ties → HIGHER index (the same
  * contract as the `array_max`-over-(score, idx)-structs spelling it
  * replaces, which — like the pre-[[NearestCells]] IVF scoring — blew
  * past the whole-stage-codegen method limit at 64 centroids × 8
  * subspaces and fell back to interpreted eval, turning the 500k-vector
  * encode into the DevScale outlier). One tight loop over a
  * reference-object matrix; |c|²/2 precomputed host-side with the same
  * sequential sum the oracle's `list_dot_product(cv, cv)` uses.
  */
case class NearestCodeL2(child: Expression, centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val halves: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum / 2.0)

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_code_l2"

  override def nullSafeEval(a: Any): Any =
    NearestCodeL2.run(a.asInstanceOf[ArrayData], centroids, halves)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val hRef = ctx.addReferenceObj("halves", halves, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NearestCodeL2.run($a, $cRef, $hRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCodeL2 {
  def run(v: ArrayData, cents: Array[Array[Double]],
          halves: Array[Double]): Long = {
    var best = -1
    var bestScore = 0.0
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val n = math.min(v.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * cv(i); i += 1 }
      // identical arithmetic to round(dot − half, 6) — BigDecimal HALF_UP
      // for finite scores; non-finite pass through unrounded, exactly as
      // Spark's round() returns NaN/±Inf unchanged
      val q = s - halves(c)
      // [[Round6]] = the BigDecimal HALF_UP result without the per-value
      // decimal detour (512 of these per row in the PQ encode); it
      // passes non-finite q through unchanged, as round() does
      val score = Round6.round(q)
      // Double.compare replicates Spark's sort ordering for doubles
      // (nanSafeCompareDoubles): NaN greatest, NaN == NaN, −0.0 < 0.0 —
      // so the argmax matches the array_max-over-structs parity pin on
      // NON-finite inputs too, not just the finite fixture range.
      // Ties (compare == 0) → >= keeps the later centroid.
      if (best < 0 || java.lang.Double.compare(score, bestScore) >= 0) {
        best = c; bestScore = score
      }
      c += 1
    }
    best.toLong
  }
}

/** Elementwise `a[i] − b[i]` over two array<double> columns, length =
  * min(|a|, |b|) — the codegen'd twin of `zip_with(a, b, (x, y) => x − y)`
  * on equal-length dense arrays (the HOF spelling interprets a boxed
  * lambda per element; at 500k × 64-dim residualizations that pass was
  * measurable wall clock). Same IEEE subtraction, same element order.
  */
case class ArraySub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_array_sub"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) - y.getDouble(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"graft.functions.ArraySub.run($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArraySub {
  def run(a: ArrayData, b: ArrayData): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) - b.getDouble(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Elementwise `v[i] / s` — the codegen'd twin of
  * `transform(v, x => x / s)` (same per-element boxing story as
  * [[ArraySub]]; division by the scalar, NOT multiplication by its
  * reciprocal, so results are bit-identical to the HOF spelling and to
  * the oracle's `list_transform(v, x -> x / nrm)`).
  */
case class ArrayDivScalar(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_array_divs"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDivScalar.run(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"graft.functions.ArrayDivScalar.run($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayDivScalar {
  def run(v: ArrayData, s: Double): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = v.getDouble(i) / s; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `cast(round(x * scale, 0) as bigint)` as one branchy primitive kernel —
  * the fixed-point quantization inside every Lloyd update and per-cell
  * mean. Spark's `Round` on a double goes through
  * `BigDecimal.valueOf(d).setScale(0, HALF_UP)` — a shortest-decimal
  * format + parse + scale per ELEMENT, which at 10M × 64-dim × 3
  * iterations (1.9G calls) WAS the k-means wall clock (measured 521 s of
  * the 10M residual chain).
  *
  * Exactness: for scale-0 HALF_UP the decimal detour cannot change the
  * answer — the shortest decimal representation of a double round-trips,
  * so it lies on the SAME side of any `n + 0.5` boundary as the binary
  * value (a decimal repr equal to `n.5` exactly would parse to the
  * `n.5` double, which round-trips only for the exactly-representable
  * halves). Hence comparing `t` against the EXACT midpoint `floor(t) +
  * 0.5` (representable whenever t is non-integral, i.e. |t| < 2⁵²) +
  * away-from-zero on the tie replicates BigDecimal HALF_UP bit-for-bit
  * on the SQL spelling's whole ANSI domain. A fraction `t − floor(t)`
  * would NOT work: the subtraction is inexact across a binade (e.g.
  * −0.49999999999999994 + 1 ties-to-even to exactly 0.5 — caught by the
  * spec). Outside the ANSI domain (where `cast` THROWS — never reached
  * by the bounded |x·scale| ≤ ~2²¹ quantization inputs) the kernel
  * zeroes NaN and saturates ±Inf/overflow. `FixedPointSpec` sweeps the
  * adversarial boundaries (±n.5 exact halves, ±0.49999999999999994,
  * 1 − 2⁻⁵³ neighbours, the 2⁵² integrality edge) against the SQL
  * spelling and pins the out-of-domain contract directly.
  */
case class RoundScaledLong(child: Expression, scale: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_round_scaled"

  override def nullSafeEval(a: Any): Any =
    RoundScaledLong.run(a.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.RoundScaledLong.run($a, ${scale}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoundScaledLong {
  def run(x: Double, scale: Long): Long = {
    val t = x * scale
    if (java.lang.Double.isNaN(t)) return 0L
    if (t >= 9.223372036854776e18) return Long.MaxValue
    if (t <= -9.223372036854776e18) return Long.MinValue
    val f = math.floor(t)
    if (t == f) return t.toLong // integral (covers every |t| ≥ 2^52)
    val mid = f + 0.5 // exact: non-integral t ⇒ |f| < 2^52
    val rounded =
      if (t > mid) f + 1.0
      else if (t < mid) f
      else if (t >= 0.0) f + 1.0 // tie: HALF_UP rounds away from zero
      else f
    rounded.toLong
  }
}

/** `round(x, 6)` (BigDecimal HALF_UP, Spark's double rounding) with a
  * guarded primitive fast path — the 6-dp score rounding runs per CELL
  * per row in [[NearestCells]], per CODEBOOK ENTRY per row in
  * [[NearestCodeL2]], and per scored PAIR in every top-k scan; at 10M
  * vectors that is billions of `BigDecimal.valueOf` calls (shortest-
  * decimal format + parse each) and was the dominant cost of the whole
  * ANN family (k-means alone measured 521 s).
  *
  * Fast path: `t = x·10⁶` (inexact — 10⁶ is not a power of two), so the
  * integer `n` nearest the DECIMAL value of x·10⁶ is derived from t only
  * when t sits comfortably away from the `n + 0.5` midpoint: the binary
  * drift (shortest-decimal ≤ half-ulp of x, multiply ≤ half-ulp of t) is
  * bounded by a few ulp(t), so outside a 4·ulp(t) band the fast n is the
  * decimal n. Inside the band — exact or near-exact decimal halves — it
  * falls back to the BigDecimal spelling itself, so ties keep HALF_UP's
  * away-from-zero semantics verbatim. Integer boundaries need no band:
  * a decimal value just under `f` rounds to `f` like one just over it.
  * The result `n / 10⁶` is one correctly-rounded divide — the same
  * double `BigDecimal.doubleValue()` produces for n·10⁻⁶. NaN/±Inf pass
  * through unchanged, exactly as Spark's `round` behaves.
  * `FixedPointSpec` sweeps decimal-midpoint neighbourhoods (n+0.5)·10⁻⁶
  * ± ulps and random doubles against `round(x, 6)`.
  */
object Round6 {
  def round(q: Double): Double = {
    if (!java.lang.Double.isFinite(q)) return q
    val t = q * 1e6
    if (math.abs(t) >= 4.5e15) // large-|x| edge (never a cosine) → exact path
      return java.math.BigDecimal.valueOf(q)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val f = math.floor(t)
    val r = t - f
    val band = 4.0 * math.ulp(t) + java.lang.Double.MIN_NORMAL
    val n =
      if (r > 0.5 + band) f + 1.0
      else if (r < 0.5 - band) f
      else return java.math.BigDecimal.valueOf(q)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val out = n / 1e6
    if (out == 0.0) 0.0 else out // BigDecimal has no −0.0
  }
}

/** Codegen'd `round(x, 6)` — [[Round6]] as an expression for the scored
  * top-k pair rounding (`cos_r`), bit-identical to Spark's `Round`.
  */
case class RoundSix(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round6"

  override def nullSafeEval(a: Any): Any =
    Round6.round(a.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Round6.round($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Pack an `array<long>` of 8-bit codes (0..255) into a BinaryType of
  * one byte per code — the SQ8 index representation that makes the
  * "64 B/vector" claim literal: the stored/scanned artifact is 64 bytes,
  * not 64 boxed longs (8×). Values are masked to the low byte; callers
  * guarantee the 0..255 range (the quantizer clamps).
  */
case class PackCodes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "graft_pack_codes"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val out = new Array[Byte](x.numElements())
    var i = 0
    while (i < out.length) { out(i) = (x.getLong(i) & 0xFFL).toByte; i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |byte[] $out = new byte[$a.numElements()];
         |for (int $i = 0; $i < $out.length; $i++) {
         |  $out[$i] = (byte) ($a.getLong($i) & 0xFFL);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The SQ8 ADC dot against PACKED codes: `Σ w_d · (bytes[d] & 0xFF)` —
  * arithmetic bit-identical to `graft_dot(w, cast(codes as array<double>))`
  * over the unpacked longs (byte → exact small double, same fold order),
  * so the DuckDB oracles replaying the unpacked spelling pin this kernel
  * too. One primitive loop inside whole-stage codegen; the scan touches
  * 64 bytes per corpus row.
  */
case class SqAdcDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sq_adc"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val bytes = a.asInstanceOf[Array[Byte]]
    val w = b.asInstanceOf[ArrayData]
    val n = math.min(bytes.length, w.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += w.getDouble(i) * (bytes(i) & 0xFF); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $b.getDouble($i) * (double) (($a[$i]) & 0xFF);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayOps {

  /** Idempotently register graft functions on the session's registry. */
  def register(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => ArrayDotProduct(exprs.head, exprs(1)), "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cells", exprs => {
        val matrix = exprs(2).eval() match {
          case ad: ArrayData => ad.toObjectArray(ArrayType(DoubleType))
            .map(_.asInstanceOf[ArrayData].toDoubleArray())
        }
        NearestCells(exprs.head, exprs(1), matrix,
          exprs(3).eval().asInstanceOf[Int])
      }, "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_array_sub", exprs => ArraySub(exprs.head, exprs(1)), "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_array_divs", exprs => ArrayDivScalar(exprs.head, exprs(1)), "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_round6", exprs => RoundSix(exprs.head), "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_round_scaled", exprs =>
        RoundScaledLong(exprs.head,
          exprs(1).eval().asInstanceOf[Long]), "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pack_codes", exprs => PackCodes(exprs.head), "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_sq_adc", exprs => SqAdcDot(exprs.head, exprs(1)), "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_code_l2", exprs => {
        val matrix = exprs(1).eval() match {
          case ad: ArrayData => ad.toObjectArray(ArrayType(DoubleType))
            .map(_.asInstanceOf[ArrayData].toDoubleArray())
        }
        NearestCodeL2(exprs.head, matrix)
      }, "built-in")
  }

  /** L2-nearest codebook index (PQ assignment) for a subvector column;
    * the codebook travels as a foldable literal, unpacked at plan build.
    */
  def nearestCodeL2(spark: SparkSession, sv: Column,
                    centroids: Seq[Seq[Double]]): Column = {
    register(spark)
    call_function("graft_code_l2", sv,
      org.apache.spark.sql.functions.typedlit(centroids))
  }

  /** Codegen'd `round(x, 6)` for the per-pair score rounding — the
    * [[Round6]] guarded fast path as a column, bit-identical to
    * `functions.round(x, 6)`.
    */
  def round6(spark: SparkSession, x: Column): Column = {
    register(spark)
    call_function("graft_round6", x)
  }

  /** Codegen'd `cast(round(x * scale, 0) as bigint)` — the fixed-point
    * quantization of the Lloyd / per-cell-mean updates, bit-identical to
    * the SQL spelling without its per-element BigDecimal detour.
    */
  def roundScaledLong(spark: SparkSession, x: Column, scale: Long): Column = {
    register(spark)
    call_function("graft_round_scaled", x,
      org.apache.spark.sql.functions.lit(scale))
  }

  /** Codegen'd dot product of two array<double> columns. */
  def dotNative(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }

  /** Pack an array<long> of 0..255 codes into a one-byte-per-code
    * binary — the literal 64 B/vector SQ8 index representation. */
  def packCodes(spark: SparkSession, codes: Column): Column = {
    register(spark)
    call_function("graft_pack_codes", codes)
  }

  /** Codegen'd SQ8 ADC dot: Σ w_d · byte_d over a packed-codes binary;
    * bit-identical to `graft_dot(w, cast(codes as array<double>))`. */
  def sqAdcDot(spark: SparkSession, packed: Column, w: Column): Column = {
    register(spark)
    call_function("graft_sq_adc", packed, w)
  }

  /** Codegen'd elementwise subtraction of two array<double> columns. */
  def subNative(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_array_sub", a, b)
  }

  /** Codegen'd elementwise division of an array<double> by a scalar. */
  def divScalarNative(spark: SparkSession, v: Column, s: Column): Column = {
    register(spark)
    call_function("graft_array_divs", v, s)
  }

  /** `k` nearest centroid ids for a (vector, norm) column pair; the
    * centroid matrix travels as a foldable literal and is unpacked at
    * plan build time.
    */
  def nearestCells(spark: SparkSession, v: Column, nrm: Column,
                   centroids: Seq[Seq[Double]], k: Int): Column = {
    register(spark)
    call_function("graft_cells", v, nrm,
      org.apache.spark.sql.functions.typedlit(centroids),
      org.apache.spark.sql.functions.lit(k))
  }
}
