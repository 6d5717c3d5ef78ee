package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expressions (SURVEY §2.9 preference level 3): used
  * where pure expression composition proved too slow — the higher-order
  * -function forms of these kernels run interpreted (HOFs don't
  * participate in whole-stage codegen) at O(tokens × 64) expression-tree
  * evaluations per document. Each expression here generates a single
  * static kernel call inside the codegen'd stage instead.
  *
  * Register with [[GraftFunctions.register]]; use from SQL/expr as
  * `simhash64(text)`, `minhash_doc(text)`, `min_fingerprint(text)`.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("sim_lo", LongType, nullable = false),
    StructField("sim_hi", LongType, nullable = false)))
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhashRow(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.simhashRow($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

case class MinHashDoc(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("sh", ArrayType(StringType, containsNull = false)),
    StructField("bkeys", ArrayType(StringType, containsNull = false))))
  override def prettyName: String = "minhash_doc"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashDocRow(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.minhashDocRow($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `minhash_doc_banded(text, seeds, rows_per_band[, shingle_k])` —
  * the banded generalization of `minhash_doc` (≡ (8, 2, 3); kernel
  * scaladoc explains the S-curve and shingle-width knobs and the
  * aligned-band subset property). All parameters must be literals:
  * the band/shingle layout is part of the PLAN. */
case class MinHashDocBanded(child: Expression, seeds: Int,
    rowsPerBand: Int, shingleK: Int = 3) extends UnaryExpression {
  require(seeds >= 1 && seeds <= 64,
    s"minhash_doc_banded: seeds must be in [1, 64], got $seeds")
  require(rowsPerBand >= 1 && seeds % rowsPerBand == 0,
    s"minhash_doc_banded: rows_per_band ($rowsPerBand) must divide " +
      s"seeds ($seeds)")
  require(shingleK >= 1 && shingleK <= 16,
    s"minhash_doc_banded: shingle_k must be in [1, 16], got $shingleK")
  override def dataType: DataType = StructType(Seq(
    StructField("sh", ArrayType(StringType, containsNull = false)),
    StructField("bkeys", ArrayType(StringType, containsNull = false))))
  override def prettyName: String = "minhash_doc_banded"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashDocBandedRow(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      seeds, rowsPerBand, shingleK)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.minhashDocBandedRow(" +
        s"$c, $seeds, $rowsPerBand, $shingleK);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object MinHashDocBanded {
  def build(es: Seq[Expression]): MinHashDocBanded = {
    require(es.length == 3 || es.length == 4,
      "minhash_doc_banded(text, seeds, rows_per_band[, shingle_k]) " +
        "takes 3 or 4 arguments")
    MinHashDocBanded(es.head,
      LiteralArg.int("minhash_doc_banded", es(1), "seeds"),
      LiteralArg.int("minhash_doc_banded", es(2), "rows_per_band"),
      if (es.length == 4)
        LiteralArg.int("minhash_doc_banded", es(3), "shingle_k")
      else 3)
  }
}

/** `shingles_k(text, k)` — the shingle-extraction half of
  * `minhash_doc_banded` on its own: distinct word-k-gram shingles in
  * first-occurrence order. The DF-filtered minhash tier (r20) censuses
  * these, drops chrome, and only THEN computes signatures — a fused
  * text→signature kernel cannot express a corpus-dependent shingle
  * filter. */
case class ShinglesK(child: Expression, shingleK: Int)
    extends UnaryExpression {
  require(shingleK >= 1 && shingleK <= 16,
    s"shingles_k: k must be in [1, 16], got $shingleK")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles_k"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shinglesKRow(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      shingleK)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.shinglesKRow(" +
        s"$c, $shingleK);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `minhash_banded_from(shingles, seeds, rows_per_band)` — the
  * signature/band half of `minhash_doc_banded` over a GIVEN shingle
  * array (post-DF-filter). Byte-identical band keys to the fused
  * kernel on the same shingle set. */
case class MinHashBandedFrom(child: Expression, seeds: Int,
    rowsPerBand: Int) extends UnaryExpression {
  require(seeds >= 1 && seeds <= 64,
    s"minhash_banded_from: seeds must be in [1, 64], got $seeds")
  require(rowsPerBand >= 1 && seeds % rowsPerBand == 0,
    s"minhash_banded_from: rows_per_band ($rowsPerBand) must divide " +
      s"seeds ($seeds)")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_banded_from"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"minhash_banded_from expects array<string>, got " +
          s"${t.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashBandedFromRow(
      input.asInstanceOf[ArrayData], seeds, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.minhashBandedFromRow(" +
        s"$c, $seeds, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Shared plan-time literal extraction for the parameterized
  * functions: a Long literal narrows via toIntExact, so an
  * out-of-range value that would WRAP into the valid range fails
  * loudly instead of silently running with a different parameter. */
private[functions] object LiteralArg {
  def int(fn: String, e: Expression, what: String): Int = {
    require(e.foldable, s"$fn: $what must be a literal integer")
    e.eval(null) match {
      case i: Int => i
      case l: Long =>
        try Math.toIntExact(l) catch {
          case _: ArithmeticException =>
            throw new IllegalArgumentException(
              s"$fn: $what literal $l does not fit an Int")
        }
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }
  }

  def double(fn: String, e: Expression, what: String): Double = {
    require(e.foldable, s"$fn: $what must be a numeric literal")
    e.eval(null) match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a numeric literal, got $other")
    }
  }
}

/** `simhash_close_pairs(members, max_hamming)` — group-local candidate
  * generation + Hamming verify over ONE LSH band bucket's members (an
  * `array<struct<doc_id, sim_lo, sim_hi>>` built by
  * `collect_list(struct(...))` under `groupBy(band, bval)`). Emits only
  * the surviving pairs as `array<struct<d1, d2, hamming>>` with
  * d1 < d2 — see [[HashKernels.simhashClosePairs]] for why this beats
  * the banded self-join at scale. `max_hamming` is a literal: the
  * near-dup threshold is part of the PLAN. */
case class SimhashClosePairs(child: Expression, maxHamming: Int)
    extends UnaryExpression {
  require(maxHamming >= 0 && maxHamming <= 128,
    s"simhash_close_pairs: max_hamming must be in [0, 128], got $maxHamming")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull = false required: the kernel getStructs every element,
    // so a null member would NPE — reject it as a type error instead
    // (the registered plans build the array via collect_list, which is
    // containsNull = false by construction)
    case ArrayType(StructType(fs), false)
        if fs.length == 3 && fs.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRUCT<BIGINT, BIGINT, BIGINT>> " +
        s"(doc_id, sim_lo, sim_hi) with non-null elements, " +
        s"got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("hamming", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "simhash_close_pairs"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhashClosePairs(input.asInstanceOf[ArrayData], maxHamming)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.simhashClosePairs(" +
        s"$c, $maxHamming);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object SimhashClosePairs {
  def build(es: Seq[Expression]): SimhashClosePairs = {
    require(es.length == 2,
      "simhash_close_pairs(members, max_hamming) takes 2 arguments")
    SimhashClosePairs(es.head,
      LiteralArg.int("simhash_close_pairs", es(1), "max_hamming"))
  }
}

/** `simhash_close_pairs_x(members_a, members_b, same_segment,
  * max_hamming)` — the two-list segment variant of
  * [[SimhashClosePairs]], used by the hot-bucket guard: buckets over
  * the plan's cap are hash-split and each segment cell (within via
  * `same_segment = true`, cross otherwise) verifies in-task — see
  * [[HashKernels.simhashClosePairsCross]]. */
case class SimhashClosePairsX(a: Expression, b: Expression,
    same: Expression, maxHamming: Int) extends TernaryExpression {
  require(maxHamming >= 0 && maxHamming <= 128,
    s"simhash_close_pairs_x: max_hamming must be in [0, 128], " +
      s"got $maxHamming")
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = same

  private def memberOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fs), false) =>
      fs.length == 3 && fs.forall(_.dataType == LongType)
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (memberOk(a.dataType) && memberOk(b.dataType) &&
        same.dataType == BooleanType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRUCT<BIGINT, BIGINT, BIGINT>> " +
        "member lists with non-null elements and a BOOLEAN, got " +
        s"(${a.dataType.simpleString}, ${b.dataType.simpleString}, " +
        s"${same.dataType.simpleString})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("hamming", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "simhash_close_pairs_x"

  override protected def nullSafeEval(ma: Any, mb: Any, sm: Any): Any =
    HashKernels.simhashClosePairsCross(ma.asInstanceOf[ArrayData],
      mb.asInstanceOf[ArrayData], sm.asInstanceOf[Boolean], maxHamming)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ma, mb, sm) =>
      s"${ev.value} = graft.functions.HashKernels.simhashClosePairsCross(" +
        s"$ma, $mb, $sm, $maxHamming);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(a = newFirst, b = newSecond, same = newThird)
}

object SimhashClosePairsX {
  def build(es: Seq[Expression]): SimhashClosePairsX = {
    require(es.length == 4,
      "simhash_close_pairs_x(members_a, members_b, same_segment, " +
        "max_hamming) takes 4 arguments")
    SimhashClosePairsX(es(0), es(1), es(2),
      LiteralArg.int("simhash_close_pairs_x", es(3), "max_hamming"))
  }
}

/** `cosine_close_pairs(members_a, members_b, same_bucket, threshold)` —
  * group-local candidate generation + exact-cosine verify over the two
  * member lists of one qualifying Hamming-≤1 LSH code pair (each an
  * `array<struct<vec_id, emb, nrm>>` built by `collect_list` under a
  * groupBy on the code). `same_bucket` (a column: `ca = cb`) switches
  * to within-bucket i < j enumeration; `threshold` is a literal — the
  * near-dup definition is part of the PLAN. Emits only surviving pairs
  * as `array<struct<v1, v2, cos_sim>>` with v1 < v2 — see
  * [[HashKernels.cosineClosePairs]] for the exactness contract and why
  * this beats the code-pair-keyed vector join at scale. */
case class CosineClosePairs(a: Expression, b: Expression,
    same: Expression, threshold: Double) extends TernaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = same

  // containsNull = false required (kernel getStructs every element);
  // collect_list produces exactly that
  private def memberOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fs), false) =>
      fs.length == 3 && fs(0).dataType == LongType &&
        (fs(1).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }) && fs(2).dataType == DoubleType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (memberOk(a.dataType) && memberOk(b.dataType) &&
        same.dataType == BooleanType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>, " +
        "DOUBLE>> member lists with non-null elements and a BOOLEAN, " +
        s"got (${a.dataType.simpleString}, ${b.dataType.simpleString}, " +
        s"${same.dataType.simpleString})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v1", LongType, nullable = false),
    StructField("v2", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cosine_close_pairs"

  override protected def nullSafeEval(ma: Any, mb: Any, sm: Any): Any =
    HashKernels.cosineClosePairs(ma.asInstanceOf[ArrayData],
      mb.asInstanceOf[ArrayData], sm.asInstanceOf[Boolean], threshold)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ma, mb, sm) =>
      s"${ev.value} = graft.functions.HashKernels.cosineClosePairs(" +
        s"$ma, $mb, $sm, ${threshold}D);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(a = newFirst, b = newSecond, same = newThird)
}

object CosineClosePairs {
  def build(es: Seq[Expression]): CosineClosePairs = {
    require(es.length == 4,
      "cosine_close_pairs(members_a, members_b, same_bucket, threshold) " +
        "takes 4 arguments")
    CosineClosePairs(es(0), es(1), es(2),
      LiteralArg.double("cosine_close_pairs", es(3), "threshold"))
  }
}

case class MinFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "min_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.fingerprintUtf8(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.fingerprintUtf8($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

case class Ngram5Count(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ngram5_count"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.ngram5Count(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.ngram5Count($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

case class Ngram5Packed(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType,
    containsNull = false)
  override def prettyName: String = "ngram5_packed"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.ngram5Packed(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.ngram5Packed($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

case class Ngram8Packed(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType,
    containsNull = false)
  override def prettyName: String = "ngram8_packed"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.ngram8Packed(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.ngram8Packed($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

case class Ngram3Set(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType,
    containsNull = false)
  override def prettyName: String = "ngram3_set"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.ngram3Set(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.ngram3Set($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** One-pass per-document repetition counters (see
  * [[HashKernels.repStats]]) — the narrow-projection carrier for the
  * Gopher/C4 repetition-filter family. */
case class RepStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("nw", LongType, nullable = false),
    StructField("ndw", LongType, nullable = false),
    StructField("topw", LongType, nullable = false),
    StructField("topbg", LongType, nullable = false)))
  override def prettyName: String = "rep_stats"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.repStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.repStats($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** One-pass text quality statistics (see [[HashKernels.qualityStats]])
  * — `quality_stats(text)` → struct(nw, nu, ncl, nsw, npunct). */
case class QualityStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("nw", LongType, nullable = false),
    StructField("nu", LongType, nullable = false),
    StructField("ncl", LongType, nullable = false),
    StructField("nsw", LongType, nullable = false),
    StructField("npunct", LongType, nullable = false)))
  override def prettyName: String = "quality_stats"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.qualityStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.qualityStats($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** One-pass token statistics (see [[HashKernels.tokenStats]]) —
  * `token_stats(text)` → struct(ws_tokens, bpeish_tokens, n_chars). */
case class TokenStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("ws_tokens", LongType, nullable = false),
    StructField("bpeish_tokens", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))
  override def prettyName: String = "token_stats"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.tokenStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.tokenStats($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** All-pairs distance statistics per frame (see
  * [[GeomKernels.pairDistStats]]) — `pair_dist_stats(xs, ys, zs)`. */
case class PairDistStats(children: Seq[Expression]) extends Expression {
  require(children.length == 3,
    "pair_dist_stats takes (xs, ys, zs) float arrays")
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == ArrayType(FloatType, false)) ||
      children.forall(_.dataType == ArrayType(FloatType, true)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 3 ARRAY<FLOAT> arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = StructType(Seq(
    StructField("sum", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = false),
    StructField("mx", DoubleType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "pair_dist_stats"

  override def eval(input: InternalRow): Any = {
    val xs = children(0).eval(input)
    val ys = children(1).eval(input)
    val zs = children(2).eval(input)
    if (xs == null || ys == null || zs == null) null
    else GeomKernels.pairDistStats(
      xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData],
      zs.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val childCode = evs.map(_.code).reduce(_ + _)
    val anyNull =
      if (nullable) evs.map(_.isNull.toString).mkString(" || ") else "false"
    val args = evs.map(_.value.toString).mkString(", ")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.GeomKernels.pairDistStats($args);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    HashKernels.sortedIntersectCount(
      l.asInstanceOf[ArrayData].toLongArray(),
      r.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashKernels.sortedIntersectCount(" +
        s"$a.toLongArray(), $b.toLongArray());")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `span_gram_hashes(arr, span)` — per-window 128-bit gram
  * fingerprints without gram-string materialization
  * (HashKernels.spanGramHashes scaladoc). `span` must be a literal:
  * the window width is part of the plan. */
case class SpanGramHashes(child: Expression, span: Int)
    extends UnaryExpression {
  require(span >= 2 && span <= 64,
    s"span_gram_hashes: span must be in [2, 64], got $span")
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "span_gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.spanGramHashes(input.asInstanceOf[ArrayData], span)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.spanGramHashes(" +
        s"$c, $span);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object SpanGramHashes {
  def build(es: Seq[Expression]): SpanGramHashes = {
    require(es.length == 2,
      "span_gram_hashes(arr, span) takes 2 arguments")
    SpanGramHashes(es.head,
      LiteralArg.int("span_gram_hashes", es(1), "span"))
  }
}

/** `span_clean(arr, rm)` — span-dedup document rebuild
  * (HashKernels.spanClean scaladoc). arr: the doc's split tokens;
  * rm: the covered-position ints. Returns struct(n_kept, clean). */
case class SpanClean(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<STRING>, ARRAY<INT>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("n_kept", LongType, nullable = false),
    StructField("clean", StringType, nullable = false)))
  override def prettyName: String = "span_clean"

  override protected def nullSafeEval(a: Any, r: Any): Any =
    HashKernels.spanClean(a.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, r) =>
      s"${ev.value} = graft.functions.HashKernels.spanClean($a, $r);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `ngram_close_pairs(members)` — group-local n-gram Jaccard verify
  * over one gathered (fp, lenb) block
  * (HashKernels.ngramClosePairs scaladoc has the shuffle argument).
  * members: array<struct<doc_id: bigint, grams: array<bigint>>>. */
case class NgramClosePairs(child: Expression) extends UnaryExpression {
  private def memberOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fs), false) =>
      fs.length == 2 && fs(0).dataType == LongType &&
        (fs(1).dataType match {
          case ArrayType(LongType, _) => true
          case _ => false
        })
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (memberOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRUCT<BIGINT, ARRAY<BIGINT>>> " +
        s"with non-null elements, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("ni", LongType, nullable = false),
    StructField("den", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ngram_close_pairs"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.ngramClosePairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.ngramClosePairs($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `ngram_close_pairs_x(ma, mb, same)` — the segment-cell twin (all
  * cross pairs, or i < j within ma when `same`). */
case class NgramClosePairsX(a: Expression, b: Expression,
    same: Expression) extends TernaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = same

  private def memberOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fs), false) =>
      fs.length == 2 && fs(0).dataType == LongType &&
        (fs(1).dataType match {
          case ArrayType(LongType, _) => true
          case _ => false
        })
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (memberOk(a.dataType) && memberOk(b.dataType) &&
        same.dataType == BooleanType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRUCT<BIGINT, ARRAY<BIGINT>>> " +
        "member lists and a BOOLEAN, got " +
        s"(${a.dataType.simpleString}, ${b.dataType.simpleString}, " +
        s"${same.dataType.simpleString})")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("ni", LongType, nullable = false),
    StructField("den", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ngram_close_pairs_x"

  override protected def nullSafeEval(ma: Any, mb: Any, sm: Any): Any =
    HashKernels.ngramClosePairsCross(ma.asInstanceOf[ArrayData],
      mb.asInstanceOf[ArrayData], sm.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ma, mb, sm) =>
      s"${ev.value} = graft.functions.HashKernels.ngramClosePairsCross(" +
        s"$ma, $mb, $sm);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(a = newFirst, b = newSecond, same = newThird)
}

case class DotScaled(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_scaled"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    HashKernels.dotScaled(
      l.asInstanceOf[ArrayData].toDoubleArray(),
      r.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashKernels.dotScaled(" +
        s"$a.toDoubleArray(), $b.toDoubleArray());")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `dot_floor_scaled(a, b)` — Σ floor(a_i·b_i·1e12 + 0.5) as BIGINT,
  * the PQ-training oracle's exact term form (HashKernels.dotFloorScaled
  * scaladoc explains why this is NOT dot_scaled's rounding). */
case class DotFloorScaled(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_floor_scaled"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    HashKernels.dotFloorScaled(
      l.asInstanceOf[ArrayData].toDoubleArray(),
      r.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashKernels.dotFloorScaled(" +
        s"$a.toDoubleArray(), $b.toDoubleArray());")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `xyz_sum_scaled(xyz, axis)` — scaled-BIGINT axis sum over a wide
  * frame's `array<array<double>>` coordinates (GeomKernels.xyzSumScaled
  * scaladoc has the arithmetic contract). `axis` must be a literal in
  * [0, 2]: it selects a physical coordinate lane, part of the PLAN. */
case class XyzSumScaled(child: Expression, axis: Int)
    extends UnaryExpression {
  require(axis >= 0 && axis <= 2,
    s"xyz_sum_scaled: axis must be in [0, 2], got $axis")
  override def dataType: DataType = LongType
  override def prettyName: String = "xyz_sum_scaled"

  override protected def nullSafeEval(input: Any): Any =
    GeomKernels.xyzSumScaled(input.asInstanceOf[ArrayData], axis)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GeomKernels.xyzSumScaled($c, $axis);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object XyzSumScaled {
  def build(es: Seq[Expression]): XyzSumScaled = {
    require(es.length == 2, "xyz_sum_scaled(xyz, axis) takes 2 arguments")
    XyzSumScaled(es.head, LiteralArg.int("xyz_sum_scaled", es(1), "axis"))
  }
}

/** `com_sums_scaled(atoms, masses)` — one-pass mass-weighted COM sums
  * over a wide frame's atom map (GeomKernels.comSumsScaled has the
  * arithmetic contract). Returns struct(sxm, sym, szm, sm), all
  * scaled BIGINT. */
case class ComSumsScaled(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("sxm", LongType, nullable = false),
    StructField("sym", LongType, nullable = false),
    StructField("szm", LongType, nullable = false),
    StructField("sm", LongType, nullable = false)))
  override def prettyName: String = "com_sums_scaled"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    GeomKernels.comSumsScaled(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
      r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GeomKernels.comSumsScaled($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `cog_sums_scaled(atoms)` — one-pass unweighted COG sums over a wide
  * frame's atom map (GeomKernels.cogSumsScaled has the arithmetic
  * contract). Returns struct(sx, sy, sz, n) — scaled BIGINT sums plus
  * the member count, so cog_wide shares com_wide's atom-map build. */
case class CogSumsScaled(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("sx", LongType, nullable = false),
    StructField("sy", LongType, nullable = false),
    StructField("sz", LongType, nullable = false),
    StructField("n", LongType, nullable = false)))
  override def prettyName: String = "cog_sums_scaled"

  override protected def nullSafeEval(input: Any): Any =
    GeomKernels.cogSumsScaled(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GeomKernels.cogSumsScaled($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

case class Lsh16Code(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh16_code"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.lsh16Code(input.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.lsh16Code(" +
        s"$c.toDoubleArray());")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `lsh_code(emb, bits)` — the width-parameterized sign-LSH code
  * (HashKernels.lshCode scaladoc explains the scale knob; lsh16_code
  * ≡ lsh_code(emb, 16)). `bits` must be a literal in [1, 63]: the
  * code width is part of the PLAN (it decides bucket granularity),
  * not per-row data. */
case class LshCode(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 63,
    s"lsh_code: bits must be in [1, 63], got $bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_code"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.lshCode(
      input.asInstanceOf[ArrayData].toDoubleArray(), bits)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.lshCode(" +
        s"$c.toDoubleArray(), $bits);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object LshCode {
  /** Registration builder: bits must fold to an integer literal. */
  def build(es: Seq[Expression]): LshCode = {
    require(es.length == 2, "lsh_code(emb, bits) takes 2 arguments")
    LshCode(es.head, LiteralArg.int("lsh_code", es(1), "bits"))
  }
}

/** Triclinic minimum-image distance: tri_mic(dx, dy, dz, ax, bx, by,
  * cx, cy, cz) — the codegen'd kernel form of
  * graft.traj.TrajOps.distMicTriclinic (geometry/distance.py:50-58
  * general path). The box components are ordinary child expressions, so
  * the box may be literal (the user-supplied argument of
  * compute_distances) or table-sourced per frame (the reference reading
  * unitcell columns off the trajectory, distance.py:128).
  *
  * Exists because the 27-image `least` Column tree inside a CASE blew
  * janino's 64 KB method limit and dropped the whole stage to the
  * interpreted path; this generates ONE static call instead. */
case class TriclinicMicDist(children: Seq[Expression]) extends Expression {
  require(children.length == 9,
    "tri_mic takes (dx, dy, dz, ax, bx, by, cx, cy, cz)")
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 9 DOUBLE arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "tri_mic"

  override def eval(input: InternalRow): Any = {
    val v = new Array[Double](9)
    var i = 0
    while (i < 9) {
      val r = children(i).eval(input)
      if (r == null) return null
      v(i) = r.asInstanceOf[Double]
      i += 1
    }
    GeomKernels.triMic(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val childCode = evs.map(_.code).reduce(_ + _)
    val anyNull =
      if (nullable) evs.map(_.isNull.toString).mkString(" || ") else "false"
    val args = evs.map(_.value.toString).mkString(", ")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.GeomKernels.triMic($args);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object GraftFunctions {
  /** One function-table entry: the SQL name, the usage line that
    * `DESCRIBE FUNCTION` prints, and the expression builder. */
  final case class Fn(name: String, usage: String,
      builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo =
      new ExpressionInfo("graft.functions", null, name, usage,
        "", "", "", "", "", "", "scala_udf")
  }

  /** Every graft native function. [[graft.GraftExtensions]] injects
    * this table at session build and [[register]] registers it into an
    * existing session; neither keeps a list of its own. */
  val table: Seq[Fn] = Seq(
    Fn("simhash64",
      "simhash64(text) - 64-bit frequency-weighted SimHash as (sim_lo, sim_hi)",
      es => SimHash64(es.head)),
    Fn("minhash_doc",
      "minhash_doc(text) - word-3-gram shingles + 8-hash MinHash " +
        "signature + 4 LSH band keys",
      es => MinHashDoc(es.head)),
    Fn("minhash_doc_banded",
      "minhash_doc_banded(text, seeds, rows_per_band[, shingle_k]) - " +
        "banded minhash signature",
      es => MinHashDocBanded.build(es)),
    Fn("shingles_k",
      "shingles_k(text, k) - distinct word-k-gram shingles in " +
        "first-occurrence order",
      es => ShinglesK(es.head, LiteralArg.int("shingles_k", es(1), "k"))),
    Fn("minhash_banded_from",
      "minhash_banded_from(shingles, seeds, rows_per_band) - banded " +
        "minhash signature over a given shingle array",
      es => MinHashBandedFrom(es.head,
        LiteralArg.int("minhash_banded_from", es(1), "seeds"),
        LiteralArg.int("minhash_banded_from", es(2), "rows_per_band"))),
    Fn("min_fingerprint",
      "min_fingerprint(text) - lexicographic-min md5 over all char 8-grams",
      es => MinFingerprint(es.head)),
    Fn("ngram5_count",
      "ngram5_count(text) - number of distinct char 5-grams",
      es => Ngram5Count(es.head)),
    Fn("ngram5_packed",
      "ngram5_packed(text) - sorted distinct char 5-grams as packed longs",
      es => Ngram5Packed(es.head)),
    Fn("ngram8_packed",
      "ngram8_packed(text) - sorted distinct char 8-grams as packed longs",
      es => Ngram8Packed(es.head)),
    Fn("ngram3_set",
      "ngram3_set(text) - distinct char 3-grams in first-occurrence order",
      es => Ngram3Set(es.head)),
    Fn("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |A intersect B| of two sorted long arrays",
      es => SortedIntersectCount(es(0), es(1))),
    Fn("dot_scaled",
      "dot_scaled(a, b) - exact sum of round(a_i*b_i*1e12) as bigint",
      es => DotScaled(es(0), es(1))),
    Fn("dot_floor_scaled",
      "dot_floor_scaled(a, b) - exact sum of floor(a_i*b_i*1e12 + 0.5) as bigint",
      es => DotFloorScaled(es(0), es(1))),
    Fn("xyz_sum_scaled",
      "xyz_sum_scaled(xyz, axis) - scaled-bigint sum of one coordinate " +
        "axis over a wide frame",
      es => XyzSumScaled.build(es)),
    Fn("com_sums_scaled",
      "com_sums_scaled(atoms, masses) - mass-weighted centre-of-mass sums " +
        "as scaled bigints (sxm, sym, szm, sm)",
      es => ComSumsScaled(es(0), es(1))),
    Fn("cog_sums_scaled",
      "cog_sums_scaled(atoms) - centre-of-geometry sums as scaled bigints " +
        "plus the member count (sx, sy, sz, n)",
      es => CogSumsScaled(es.head)),
    Fn("span_clean",
      "span_clean(arr, rm) - a document's tokens without the covered " +
        "positions, as (n_kept, clean)",
      es => SpanClean(es(0), es(1))),
    Fn("span_gram_hashes",
      "span_gram_hashes(arr, span) - 128-bit fingerprint of every " +
        "span-token window",
      es => SpanGramHashes.build(es)),
    Fn("ngram_close_pairs",
      "ngram_close_pairs(members) - n-gram Jaccard verify of the pairs " +
        "in one block, as (d1, d2, ni, den)",
      es => NgramClosePairs(es.head)),
    Fn("ngram_close_pairs_x",
      "ngram_close_pairs_x(members_a, members_b, same) - the two-list " +
        "segment variant of ngram_close_pairs",
      es => NgramClosePairsX(es(0), es(1), es(2))),
    Fn("lsh16_code",
      "lsh16_code(v) - 16-bit sign-LSH hyperplane code",
      es => Lsh16Code(es.head)),
    Fn("lsh_code",
      "lsh_code(v, bits) - width-parameterized sign-LSH hyperplane code",
      es => LshCode.build(es)),
    Fn("tri_mic",
      "tri_mic(dx, dy, dz, ax, bx, by, cx, cy, cz) - triclinic " +
        "minimum-image distance",
      es => TriclinicMicDist(es)),
    Fn("rep_stats",
      "rep_stats(text) - (n_words, n_distinct, top_word, top_bigram) " +
        "repetition counters",
      es => RepStats(es.head)),
    Fn("quality_stats",
      "quality_stats(text) - (nw, nu, ncl, nsw, npunct) one-pass " +
        "quality counters",
      es => QualityStats(es.head)),
    Fn("token_stats",
      "token_stats(text) - (ws_tokens, bpeish_tokens, n_chars) " +
        "one-pass token counters",
      es => TokenStats(es.head)),
    Fn("pair_dist_stats",
      "pair_dist_stats(xs, ys, zs) - all-pairs C(n,2) distance " +
        "sum/min/max/count per frame",
      es => PairDistStats(es)),
    Fn("simhash_close_pairs",
      "simhash_close_pairs(members, max_hamming) - Hamming verify of " +
        "the pairs in one LSH bucket, as (d1, d2, hamming)",
      es => SimhashClosePairs.build(es)),
    Fn("simhash_close_pairs_x",
      "simhash_close_pairs_x(members_a, members_b, same_segment, " +
        "max_hamming) - the two-list segment variant of simhash_close_pairs",
      es => SimhashClosePairsX.build(es)),
    Fn("cosine_close_pairs",
      "cosine_close_pairs(members_a, members_b, same_bucket, threshold) " +
        "- exact-cosine verify of two LSH buckets, as (v1, v2, cos_sim)",
      es => CosineClosePairs.build(es)),
    Fn("topk_pairs",
      "topk_pairs(v, id, k) - partial-aggregatable per-group top-k of " +
        "(v, id) pairs",
      es => TopKPairs.build(es).toAggregateExpression()))

  /** Idempotent per-session registration of the function table, the
    * frame-gather planner strategy ([[graft.sources.FrameGather]]), the
    * driver-merge planner strategy for ungrouped aggregates
    * ([[DriverMerge]]), the small-sort planner strategy
    * ([[SmallSort]]) and the field-extraction rewrite
    * ([[ArrayFieldExtract]]). Only names the session does not resolve
    * yet are registered, so a session built with the extensions, or
    * registered before, keeps its functions: nothing is replaced. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.filterNot(f => reg.functionExists(f.id))
      .foreach(f => reg.registerFunction(f.id, f.info, f.builder))
    val extra = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = extra ++
      Seq(graft.sources.FrameGather, DriverMerge, SmallSort).filterNot(extra.contains)
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(ArrayFieldExtract))
      spark.experimental.extraOptimizations = rules :+ ArrayFieldExtract
  }
}
