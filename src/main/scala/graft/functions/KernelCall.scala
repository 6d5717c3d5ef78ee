package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** A trailing literal parameter of a kernel function. It is part of the
  * plan, not per-row data, so it must fold to a literal at analysis. */
sealed trait Param { def name: String }

/** An integer in [lo, hi]; a `default` (last parameter only) fills in
  * when the call leaves it out. */
final case class IntParam(name: String, lo: Int, hi: Int,
    default: Option[Int] = None) extends Param

/** An integer ≥ 1 that divides the earlier parameter `of`. */
final case class DivisorParam(name: String, of: String) extends Param

/** Any numeric literal, passed as a double. */
final case class DoubleParam(name: String) extends Param

/** One native kernel function, as plain data: the SQL name, the
  * declared type of each column argument, the trailing literal
  * parameters, the result type and the static method `owner.method`
  * that computes it from (arguments…, parameters…). Column arguments
  * arrive as Spark's internal values: `UTF8String`, `ArrayData`,
  * `MapData` or a primitive. */
final case class Kernel(name: String, args: Seq[DataType],
    params: Seq[Param], result: DataType, owner: String, method: String)

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

/** A call of one [[Kernel]]: the single Catalyst expression behind every
  * native kernel function of [[GraftFunctions.table]]. Null in, null
  * out: the result is null when any column argument is, and nullable
  * iff one of them is. Generated code makes one direct static call
  * `owner.method(args…, params…)`, with each literal parameter emitted
  * as Spark's [[Literal]] emits it; interpreted eval calls the same
  * method, resolved once per expression instance. Plan strings read
  * `name(args…, params…)` and SQL (so auto-generated column names)
  * `name(args…)`. */
case class KernelCall(kernel: Kernel, children: Seq[Expression],
    params: Seq[Any]) extends Expression {

  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.result
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ params.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(kernel.args).indexWhere { case (c, t) =>
      !KernelCall.fits(t, c.dataType)
    } match {
      case -1 => TypeCheckResult.TypeCheckSuccess
      case i =>
        import ExpectsInputTypes.{ordinalNumber, toSQLExpr, toSQLType}
        val want = kernel.args(i)
        DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> ordinalNumber(i),
          "requiredType" -> (toSQLType(want) + (want match {
            case ArrayType(_, false) => " with non-null elements"
            case _ => ""
          })),
          "inputSql" -> toSQLExpr(children(i)),
          "inputType" -> toSQLType(children(i).dataType)))
    }

  private def paramTypes: Seq[DataType] = kernel.params.map {
    case _: DoubleParam => DoubleType
    case _ => IntegerType
  }

  @transient private lazy val method: Method =
    Class.forName(kernel.owner).getMethod(kernel.method,
      (kernel.args ++ paramTypes).map(CodeGenerator.javaClass): _*)

  override def eval(input: InternalRow): Any = {
    val values = new Array[Any](children.length + params.length)
    var i = 0
    while (i < children.length) {
      values(i) = children(i).eval(input)
      if (values(i) == null) return null
      i += 1
    }
    params.copyToArray(values, i)
    try method.invoke(null, values.asInstanceOf[Array[AnyRef]]: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val lits = params.zip(paramTypes).map { case (p, t) =>
      Literal(p, t).genCode(ctx)
    }
    val setup = (evs ++ lits).map(_.code).reduce(_ + _)
    val call = s"${kernel.owner}.${kernel.method}(" +
      (evs ++ lits).map(_.value).mkString(", ") + ")"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable) ev.copy(code =
      code"""
        $setup
        $javaType ${ev.value} = $call;
      """, isNull = FalseLiteral)
    else {
      val anyNull = children.zip(evs).filter(_._1.nullable)
        .map(_._2.isNull.toString).mkString(" || ")
      ev.copy(code =
        code"""
          $setup
          boolean ${ev.isNull} = $anyNull;
          $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
          if (!${ev.isNull}) {
            ${ev.value} = $call;
          }
        """)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object KernelCall {
  /** The function-registry builder: splits the call's arguments into
    * the column arguments and the literal parameters, and checks each
    * parameter's literal and range. */
  def build(k: Kernel, es: Seq[Expression]): KernelCall = {
    val arity = k.args.length + k.params.length
    val optional = k.params.lastOption.exists {
      case IntParam(_, _, _, d) => d.isDefined
      case _ => false
    }
    require(es.length == arity || (optional && es.length == arity - 1),
      s"${k.name} takes ${if (optional) s"${arity - 1} or " else ""}" +
        s"$arity arguments, got ${es.length}")
    val (cols, lits) = es.splitAt(k.args.length)
    val params = k.params.indices.foldLeft(Vector.empty[Any]) { (done, i) =>
      done :+ (k.params(i) match {
        case IntParam(what, lo, hi, default) =>
          val v = lits.lift(i).map(LiteralArg.int(k.name, _, what))
            .getOrElse(default.get)
          require(lo <= v && v <= hi,
            s"${k.name}: $what must be in [$lo, $hi], got $v")
          v
        case DivisorParam(what, of) =>
          val v = LiteralArg.int(k.name, lits(i), what)
          val n = done(k.params.indexWhere(_.name == of)).asInstanceOf[Int]
          require(v >= 1 && n % v == 0,
            s"${k.name}: $what ($v) must divide $of ($n)")
          v
        case DoubleParam(what) => LiteralArg.double(k.name, lits(i), what)
      })
    }
    KernelCall(k, cols, params)
  }

  /** `got` fits the declared `want` when the two match up to struct
    * field names and nullability. An array declared with
    * `containsNull = false` (a member list whose every element the
    * kernel reads) also needs non-null elements. */
  private def fits(want: DataType, got: DataType): Boolean =
    (want, got) match {
      case (ArrayType(w, wn), ArrayType(g, gn)) => fits(w, g) && (wn || !gn)
      case (MapType(wk, wv, _), MapType(gk, gv, _)) =>
        fits(wk, gk) && fits(wv, gv)
      case (StructType(wf), StructType(gf)) =>
        wf.length == gf.length &&
          wf.zip(gf).forall { case (w, g) => fits(w.dataType, g.dataType) }
      case _ => want == got
    }
}
