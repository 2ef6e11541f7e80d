package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash fingerprint: h = (h*31 + codepoint)
  * mod 1_000_000_007, over unicode codepoints. Deterministic and cheap;
  * the LLM boundary's stub client keys its canned responses on it.
  */
object RollingHash {
  final val Mod = 1000000007L

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** Native codegen form of the recursive character splitter
  * (graft.trace.Chunker.splitText — langchain's
  * RecursiveCharacterTextSplitter algorithm). chunkSize/overlap are
  * plan-time constants, so they ride as constructor fields, not child
  * expressions. Null text → empty array (matching the UDF it replaces),
  * hence the non-null-intolerant eval. */
case class SplitTextExpr(child: Expression, chunkSize: Int, overlap: Int)
  extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if chunkSize > 0 && overlap >= 0 && overlap < chunkSize =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"graft_split_text needs 0 <= overlap < chunkSize, got ($chunkSize, $overlap)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_split_text expects STRING, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    SplitTextExpr.splitU(
      child.eval(input).asInstanceOf[UTF8String], chunkSize, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} =
          graft.functions.SplitTextExpr.splitU(
            ${c.isNull} ? null : ${c.value}, $chunkSize, $overlap);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SplitTextExpr {
  /** Static entry shared by interpreted + generated code. */
  def splitU(s: UTF8String, chunkSize: Int, overlap: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val pieces =
      if (s == null) Seq.empty[String]
      else graft.trace.Chunker.splitText(s.toString, chunkSize, overlap)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      pieces.map(UTF8String.fromString).toArray[Any])
  }
}

object TextFunctions {
  /** Shared builder (per-session registry AND GraftExtensions). */
  val splitTextBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3,
      s"graft_split_text expects (text, chunkSize, overlap), got ${exprs.length} arguments")
    def asInt(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
        v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"graft_split_text $what must be a literal, got $other")
    }
    SplitTextExpr(exprs.head, asInt(exprs(1), "chunkSize"),
      asInt(exprs(2), "overlap"))
  }

  /** Registers `graft_split_text` only when the session lacks it: the
    * trace chunker calls this once per `splitChunks`. */
  def splitText(c: Column, chunkSize: Int, overlap: Int): Column = {
    val spark = SparkSession.active
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_split_text")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_split_text", splitTextBuilder, "built-in")
    call_function("graft_split_text", c,
      org.apache.spark.sql.functions.lit(chunkSize),
      org.apache.spark.sql.functions.lit(overlap))
  }
}
