package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge-table replay: a word's full segmentation string
  * (`" l o w </w>"` — leading space, single-spaced symbols, `</w>`
  * terminal) after folding the ENTIRE trained merge table over its
  * character segmentation, in one compiled expression.
  *
  * This replaces the former per-merge `aggregate()` fold stack in
  * `Bpe.segmentWords`: numMerges nested higher-order-function layers
  * (interpreted, one Catalyst lambda per symbol per layer, plus lazy
  * localCheckpoint truncations every 8 layers to keep the analyzer
  * alive). The replay here is the identical textbook left-to-right
  * non-overlapping fold — BpeSpec pins it against the naive reference
  * and the registered DuckDB oracles replay the same semantics — but as
  * a single whole-stage-codegen-friendly call: O(|merges| · |word|)
  * primitive work per row, a one-node expression tree, no checkpoints.
  * The merge table rides along as one referenced object, never as
  * literal expression layers.
  */
case class BpeReplayExpr(child: Expression, merges: Array[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_replay expects STRING, got ${t.sql}")
  }

  def run(w: UTF8String): UTF8String =
    UTF8String.fromString(BpeReplayExpr.segment(w.toString, merges))

  override def nullSafeEval(v: Any): Any = run(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeReplay", this, classOf[BpeReplayExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.run($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BpeReplayExpr {

  /** `graft_bpe_replay(word, merges_literal)`: the merge table must
    * arrive as ONE folded array<struct<l,r>> Literal (typedlit, never a
    * CreateArray tree), converted here to the referenced
    * String-pair array so the merges never occupy expression-tree
    * nodes. */
  val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"graft_bpe_replay expects (word, merges), got ${exprs.length}")
    val merges = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.sql.catalyst.util.ArrayData, t) =>
        val st = t.asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        v.toObjectArray(st).map { row =>
          val r = row.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
        }
      case other => throw new IllegalArgumentException(
        s"graft_bpe_replay merges must be an array literal, got $other")
    }
    BpeReplayExpr(exprs(0), merges)
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bpe_replay", builder, "built-in")

  /** Column API; registers on the active session first. */
  def replay(word: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    register(org.apache.spark.sql.SparkSession.active)
    org.apache.spark.sql.functions.call_function("graft_bpe_replay", word,
      org.apache.spark.sql.functions.typedlit(merges))
  }

  /** Character segmentation of `word` folded through `merges` in rank
    * order; exactly `Bpe.applyMerge`'s fold per merge (when the previous
    * kept symbol equals `a` and the next is `b`, they merge to `ab`; a
    * merged symbol never re-merges with a following `b` in the same
    * pass). Returns the library's canonical segmentation string. */
  def segment(word: String, merges: Array[(String, String)]): String = {
    var toks = new java.util.ArrayList[String](word.length + 1)
    var i = 0
    while (i < word.length) { toks.add(String.valueOf(word.charAt(i))); i += 1 }
    toks.add("</w>")
    var m = 0
    while (m < merges.length) {
      val a = merges(m)._1
      val b = merges(m)._2
      val out = new java.util.ArrayList[String](toks.size)
      var j = 0
      while (j < toks.size) {
        val x = toks.get(j)
        if (!out.isEmpty && out.get(out.size - 1) == a && x == b)
          out.set(out.size - 1, a + b)
        else out.add(x)
        j += 1
      }
      toks = out
      m += 1
    }
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < toks.size) { sb.append(' ').append(toks.get(k)); k += 1 }
    sb.toString
  }
}
