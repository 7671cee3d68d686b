package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the engine's numeric hot paths.
  *
  * Rationale (SURVEY.md §7.3's "custom code" escape hatch, exercised here
  * because the built-in alternative is measurably wrong-shaped): Spark's
  * higher-order functions (`zip_with` + `aggregate`) express a dot product
  * correctly but evaluate the lambda INTERPRETED per element — at 64 floats
  * × millions of candidate pairs that is the ANN search's entire budget.
  * These expressions keep whole-stage codegen (`doGenCode` emits a call to
  * a tight static kernel) while preserving the exact sequential-fold
  * arithmetic the DuckDB oracles replicate.
  *
  * Exposure is the fully-public path: [[register]] installs them in the
  * session's FunctionRegistry; the Column helpers resolve by name via
  * `call_function` (the `Column(expr)` bridge is private[sql] in Spark 4).
  */
object VectorExpressions {

  /** dot product of two ArrayType(FloatType) columns, in double. */
  case class VectorDotF32(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vector_dot_f32"

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorKernels.dotF32(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.dotF32($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** L2 norm of an ArrayType(FloatType) column, in double. */
  case class VectorNormF32(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vector_norm_f32"

    override def nullSafeEval(v: Any): Any =
      math.sqrt(VectorKernels.normSqF32(v.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = java.lang.Math.sqrt(graft.functions.VectorKernels.normSqF32($a));")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** dot product of two ArrayType(DoubleType) columns (k-means centroid
    * math — embeddings cast up; means are inherently double). */
  case class VectorDotF64(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vector_dot_f64"

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorKernels.dotF64(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.dotF64($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** L2 norm of an ArrayType(DoubleType) column. */
  case class VectorNormF64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vector_norm_f64"

    override def nullSafeEval(v: Any): Any =
      math.sqrt(VectorKernels.normSqF64(v.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = java.lang.Math.sqrt(graft.functions.VectorKernels.normSqF64($a));")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** L1 distance of two aligned ArrayType(LongType) columns — the byte-
    * histogram near-dup verifier. Same rationale as the dot products:
    * `zip_with`+`aggregate` express this but evaluate the lambda
    * interpreted per element, and the histogram verify runs it per
    * CANDIDATE PAIR — measured 7× slower end-to-end than this codegen
    * kernel on the sf0.1 corpus. */
  case class VectorL1I64(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vector_l1_i64"

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorKernels.l1I64(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.l1I64($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Squared L2 distance of two aligned ArrayType(LongType) columns —
    * the PQ (product-quantization) encode/LUT kernel over int8 codes.
    * All-integer, so exact under any order; codegen for the same reason
    * as [[VectorL1I64]]: it runs per (vector × subspace × codebook
    * entry). */
  case class VectorDistSqI64(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vector_distsq_i64"

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorKernels.distSqI64(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.distSqI64($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** 31-polynomial rolling hash mod 1e9+7 of a string column. */
  /** Fused MinHash band builder over a text column — see
    * [[VectorKernels.minhashBands8]] for the exact chain it replaces and
    * the bitwise-equality argument. `k` is the shingle width (a foldable
    * int in SQL form). Output: array of 4 band values whose INDEX is the
    * band id (posexplode re-derives (band_id, band_val)); empty array
    * when the text has fewer than k words. */
  case class MinhashBands8(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "minhash_bands8"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.minhashBands8(v.asInstanceOf[UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.VectorKernels.minhashBands8($s, $k);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fused per-code-point block histogram — see
    * [[VectorKernels.charHistEntries]]. */
  case class CharHistEntries(child: Expression, blocks: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("c", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "charhist_entries"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.charHistEntries(v.asInstanceOf[UTF8String], blocks)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.VectorKernels.charHistEntries($s, $blocks);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private[functions] val charHistEntriesBuilder: Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"charhist_entries expects (text, blocks), got ${es.length} args")
    val blocks = (es(1) match {
      case e if e.foldable => e.eval()
      case other => throw new IllegalArgumentException(
        s"charhist_entries: blocks must be a literal, got $other")
    }) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"charhist_entries: blocks must be integral, got $other")
    }
    require(blocks >= 1, s"charhist_entries: blocks must be >= 1, got $blocks")
    CharHistEntries(es.head, blocks)
  }

  /** Aligned count vector over sorted (k, c) entries — see
    * [[VectorKernels.alignedCounts]]. */
  case class AlignedCounts(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "aligned_counts"

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorKernels.alignedCounts(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.alignedCounts($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** mod-1000 marginal count vector — see [[VectorKernels.marginalCounts]]. */
  case class MarginalCounts(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "marginal_counts"

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorKernels.marginalCounts(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.marginalCounts($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The eight seeded md5 hex digests of a string as one array — see
    * [[VectorKernels.md5Seeded8]]. */
  case class Md5Seeded8(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "md5_seeded8"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.md5Seeded8(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.VectorKernels.md5Seeded8($s);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Registry builder: k must be a foldable integral literal (the
    * hilbert_d2 convention). */
  private[functions] val minhashBands8Builder: Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"minhash_bands8 expects (text, k), got ${es.length} args")
    val lit = es(1) match {
      case e if e.foldable => e.eval()
      case other => throw new IllegalArgumentException(
        s"minhash_bands8: k must be a literal, got $other")
    }
    val k = lit match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"minhash_bands8: k must be integral, got $other")
    }
    require(k >= 1, s"minhash_bands8: k must be >= 1, got $k")
    MinhashBands8(es.head, k)
  }

  /** Registry builders with arity checks (ADVICE r13: `es.head`/`es(1)`
    * without a length guard surfaced wrong SQL arity as a raw
    * IndexOutOfBoundsException, or silently IGNORED extra arguments).
    * The entries/keys inputs of aligned_counts and marginal_counts must
    * be sorted (entries by k asc; keys asc) — a binary-search contract
    * the registered description strings also state, since an unsorted
    * caller gets silently wrong counts, not an error. */
  private[functions] val alignedCountsBuilder: Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"aligned_counts expects (entries, keys), got ${es.length} args")
    AlignedCounts(es.head, es(1))
  }
  private[functions] val marginalCountsBuilder: Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"marginal_counts expects (entries, keys), got ${es.length} args")
    MarginalCounts(es.head, es(1))
  }
  private[functions] val md5Seeded8Builder: Seq[Expression] => Expression = { es =>
    require(es.length == 1, s"md5_seeded8 expects (s), got ${es.length} args")
    Md5Seeded8(es.head)
  }
  private[functions] val damerauLevenshteinBuilder: Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"damerau_levenshtein expects (a, b), got ${es.length} args")
    DamerauLevenshtein(es.head, es(1))
  }

  case class RollingHash31(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "rolling_hash31"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.rollingHash31(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.VectorKernels.rollingHash31($s);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Every w-char window's 31-polynomial hash of a string column, as one
    * ArrayType(LongType) — entry j (0-based) = rolling_hash31 of the
    * window STARTING at 1-based position j+1. One O(len) pass with the
    * true rolling subtraction; the per-position
    * `rolling_hash31(substring(text, i, w))` form this replaces rescans
    * the string per window (O(len²) per document). */
  case class WindowHash31(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "window_hash31"

    override def nullSafeEval(s: Any, w: Any): Any =
      VectorKernels.windowHash31(s.asInstanceOf[UTF8String], w.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.windowHash31($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** 2-D Hilbert index of two long columns on a 2^bits grid — the layout
    * key [[graft.ops.Layout]] clusters on where Z-order's diagonal jumps
    * hurt box locality (Hilbert is the space-filling curve with the best
    * known bounding-box quality; Z-order trades that for a pure
    * interleave). `bits` is a construction-time literal, validated by the
    * registry builder. */
  case class HilbertD2(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hilbert_d2"

    override def nullSafeEval(x: Any, y: Any): Any =
      VectorKernels.hilbertD2(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.hilbertD2($a, $b, $bits);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** True Damerau-Levenshtein distance of two string columns (UTF-8
    * bytes, unrestricted transpositions — [[VectorKernels
    * .damerauLevenshtein]]). Spark ships `levenshtein` but nothing
    * transposition-aware; typo-heavy entity resolution wants "hte"→"the"
    * to cost 1, not 2. Codegen for the fuzzy-join hot path: the kernel
    * runs per blocked candidate pair. */
  case class DamerauLevenshtein(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "damerau_levenshtein"

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorKernels.damerauLevenshtein(
        l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorKernels.damerauLevenshtein($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private def hilbertBuilder(es: Seq[Expression]): Expression = {
    require(es.length == 3, "hilbert_d2(x, y, bits) takes exactly 3 arguments")
    val lit = es(2) match {
      case l if l.foldable => l.eval()
      case _ => throw new IllegalArgumentException(
        "hilbert_d2: bits must be a literal")
    }
    val b = lit match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"hilbert_d2: bits must be integral, got $other")
    }
    require(b >= 1 && b <= 31, s"hilbert_d2: bits must be in [1, 31], got $b")
    HilbertD2(es(0), es(1), b)
  }

  /** Install in the session's FunctionRegistry (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vector_dot_f32", es => VectorDotF32(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("vector_norm_f32", es => VectorNormF32(es.head), "built-in")
    reg.createOrReplaceTempFunction("vector_dot_f64", es => VectorDotF64(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("vector_norm_f64", es => VectorNormF64(es.head), "built-in")
    reg.createOrReplaceTempFunction("rolling_hash31", es => RollingHash31(es.head), "built-in")
    reg.createOrReplaceTempFunction("window_hash31", es => WindowHash31(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("hilbert_d2", hilbertBuilder, "built-in")
    reg.createOrReplaceTempFunction("vector_l1_i64", es => VectorL1I64(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("vector_distsq_i64", es => VectorDistSqI64(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("damerau_levenshtein", damerauLevenshteinBuilder, "built-in")
    reg.createOrReplaceTempFunction("range_bucket_search", RangeBucketSearch.build, "built-in")
    reg.createOrReplaceTempFunction("minhash_bands8", minhashBands8Builder, "built-in")
    reg.createOrReplaceTempFunction("md5_seeded8", md5Seeded8Builder, "built-in")
    reg.createOrReplaceTempFunction("charhist_entries", charHistEntriesBuilder, "built-in")
    reg.createOrReplaceTempFunction("aligned_counts", alignedCountsBuilder, "built-in")
    reg.createOrReplaceTempFunction("marginal_counts", marginalCountsBuilder, "built-in")
  }

  // Column-level entry points (require register(spark) on the session)
  def vector_dot_f32(a: Column, b: Column): Column = call_function("vector_dot_f32", a, b)
  def vector_norm_f32(a: Column): Column = call_function("vector_norm_f32", a)
  def vector_dot_f64(a: Column, b: Column): Column = call_function("vector_dot_f64", a, b)
  def vector_norm_f64(a: Column): Column = call_function("vector_norm_f64", a)
  def rolling_hash31(c: Column): Column = call_function("rolling_hash31", c)
  def window_hash31(c: Column, w: Column): Column = call_function("window_hash31", c, w)
  def hilbert_d2(x: Column, y: Column, bits: Column): Column =
    call_function("hilbert_d2", x, y, bits)
  def vector_l1_i64(a: Column, b: Column): Column = call_function("vector_l1_i64", a, b)
  def vector_distsq_i64(a: Column, b: Column): Column = call_function("vector_distsq_i64", a, b)
  def damerau_levenshtein(a: Column, b: Column): Column = call_function("damerau_levenshtein", a, b)
  def minhash_bands8(text: Column, k: Column): Column = call_function("minhash_bands8", text, k)
  def md5_seeded8(s: Column): Column = call_function("md5_seeded8", s)
  def charhist_entries(text: Column, blocks: Column): Column =
    call_function("charhist_entries", text, blocks)
  def aligned_counts(entries: Column, keys: Column): Column =
    call_function("aligned_counts", entries, keys)
  def marginal_counts(entries: Column, keys: Column): Column =
    call_function("marginal_counts", entries, keys)
}
