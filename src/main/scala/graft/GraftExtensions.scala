package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{Ewma, GraftFunctions}

/** Session-extension entry point: registers the engine's native Catalyst
  * expressions at session build time, so a cluster deployment gets them
  * everywhere via `--conf spark.sql.extensions=graft.GraftExtensions`
  * (no per-session register() calls). Builders are shared with the
  * per-session registration helpers so the two paths cannot diverge.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot"), GraftFunctions.dotBuilder))
    ext.injectFunction((FunctionIdentifier("graft_ewma"),
      info("graft_ewma"), Ewma.builder))
    ext.injectFunction((FunctionIdentifier("graft_split_text"),
      info("graft_split_text"), graft.functions.TextFunctions.splitTextBuilder))
    ext.injectFunction((FunctionIdentifier("graft_hll"),
      info("graft_hll"), graft.functions.HllAgg.builder))
    ext.injectFunction((FunctionIdentifier("graft_hll_regs"),
      info("graft_hll_regs"), graft.functions.HllAgg.regsBuilder))
    ext.injectFunction((FunctionIdentifier("graft_pct_sample"),
      info("graft_pct_sample"), graft.functions.PctSampleAgg.builder))
    ext.injectFunction((FunctionIdentifier("graft_kmv"),
      info("graft_kmv"), graft.functions.KmvAgg.builder))
    graft.functions.PyNum.Names.foreach { case (mode, name) =>
      ext.injectFunction((FunctionIdentifier(name),
        info(name), graft.functions.PyNum.builder(mode)))
    }
  }
}
