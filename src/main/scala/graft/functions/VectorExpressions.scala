package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two ArrayType(Double) columns.
  *
  * The SQL higher-order form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)` is
  * interpreted (a Catalyst lambda per element); on pairwise similarity
  * scans that dominates runtime. This expression participates in
  * whole-stage codegen: a tight primitive loop, ~30× less overhead, while
  * keeping the exact left-to-right double accumulation order the oracle
  * (DuckDB list_dot_product) uses.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"dot_product expects ARRAY<DOUBLE> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
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
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
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

/** Session registration + Column-level API for graft native functions. */
object GraftFunctions {
  /** Shared builder (per-session registry AND GraftExtensions). */
  val dotBuilder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression = exprs => {
    require(exprs.length == 2,
      s"graft_dot expects (a, b), got ${exprs.length} arguments")
    DotProduct(exprs(0), exprs(1))
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", dotBuilder, "built-in")
  }

  /** Requires register(spark) on the session first. */
  def dotProduct(a: Column, b: Column): Column = call_function("graft_dot", a, b)
}
