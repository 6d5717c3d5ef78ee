package graft

import graft.functions.{ArrayFieldExtract, GraftFunctions}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Expression, GetArrayStructFields}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ArrayFieldExtractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val point = StructType(Seq(
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = true),
    StructField("p", StructType(Seq(StructField("x", FloatType))), nullable = true)))

  /** Rows with a null array, a null element and a null field, over an
    * RDD so the optimizer cannot fold the projection into a local
    * relation before the rule sees it. */
  private def input(containsNull: Boolean): DataFrame = {
    val rows = Seq(
      Row(1, Seq(Row(1f, 2f, Row(3f)), Row(4f, null, null)), Row(9f, 8f, null)),
      Row(2, null, null),
      Row(3, Seq(), Row(0f, null, Row(1f)))) ++
      (if (containsNull) Seq(Row(4, Seq(Row(5f, 6f, Row(7f)), null), null)) else Nil)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", ArrayType(point, containsNull)), StructField("c", point)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def optimizedHas(df: DataFrame)(p: Expression => Boolean): Boolean =
    df.queryExecution.optimizedPlan.flatMap(_.expressions).exists(_.exists(p))

  private def fired(df: DataFrame): Boolean =
    optimizedHas(df)(_.isInstanceOf[GetArrayStructFields])

  /** The same query with the rule excluded. */
  private def withoutRule(q: => DataFrame): (Array[Row], StructType) = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, ArrayFieldExtract.ruleName)
    try {
      val df = q
      assert(!fired(df) && optimizedHas(df)(_.isInstanceOf[ArrayTransform]))
      (df.collect(), df.schema)
    } finally spark.conf.unset(key)
  }

  test("transform(a, s -> s.f) becomes a field extraction with the same " +
    "rows and schema: null arrays, null elements, nullable fields") {
    GraftFunctions.register(spark)
    for (containsNull <- Seq(false, true); f <- Seq("x", "y", "p")) {
      val q = () => input(containsNull)
        .select(expr("id"), expr(s"transform(a, s -> s.$f)").as("v")).orderBy("id")
      val df = q()
      assert(fired(df) && !optimizedHas(df)(_.isInstanceOf[ArrayTransform]),
        df.queryExecution.optimizedPlan.toString)
      val (rows, schema) = withoutRule(q())
      assert(df.schema == schema)
      assert(df.collect().toSeq == rows.toSeq, s"field $f, containsNull $containsNull")
    }
  }

  test("lambdas that are not one field of their own argument are left alone") {
    GraftFunctions.register(spark)
    for (lambda <- Seq("transform(a, s -> s.x + 1)", "transform(a, (s, i) -> s.x)",
        "transform(a, s -> s.p.x)", "transform(a, s -> c.x)",
        "transform(a, s -> transform(a, t -> s.x))")) {
      val df = input(containsNull = true).select(expr(lambda).as("v"))
      assert(!fired(df) && optimizedHas(df)(_.isInstanceOf[ArrayTransform]),
        s"$lambda:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("register installs the rule once") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(spark.experimental.extraOptimizations.count(_ == ArrayFieldExtract) == 1)
  }
}
