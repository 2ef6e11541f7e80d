package graft

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Regression net for the scale audit: every registered query must plan
  * WITHOUT a Cartesian product, and without a BroadcastNestedLoopJoin
  * unless its broadcast side is bounded by construction and the bound is
  * named below. The round-4 scale run proved why the blanket "BNLJ is
  * fine" assumption had to go: the recovery lookback joins planned as
  * BNLJ over a GROWING side and measured 26× at 10× volume until they
  * were re-shaped into time-bucketed equi-joins.
  */
class PlanGuardSpec extends SparkSpec {

  /** BNLJ allowed ONLY where the broadcast side cannot grow with the
    * data: each entry names the bound. */
  private val allowedBnlj: Map[String, String] = Map(
    // 1-row global stats frame crossJoined onto bucket counts (J4)
    "ev_zscore_hotspots" -> "broadcast side is a single global-stats row",
    // three 1-row aggregate counts crossJoined into one summary row
    "q14_nation_set_ops" -> "all sides are 1-row aggregates",
    // AnomalyGate.stats: total-events 1-row agg × anomaly-count 1-row agg
    "trace_anomaly_gate" -> "both sides are 1-row aggregates",
    // Detectors.metricAnomalies: window-count agg × flagged-sample agg
    "trace_metric_anomalies" -> "both sides are 1-row aggregates",
    // TimelineBuilder: five 1-row first-event aggregates → one row
    "trace_timeline" -> "all sides are 1-row first-event aggregates",
    // Rag.retrieve: ONE embedded question broadcast against the chunks
    "trace_rag_retrieve" -> "broadcast side is the single query embedding",
    // HLL set ops: the type_a < type_b pair frame over the ≤ #event_types
    // per-type sketch aggregate (both sides are groupBy(event_type) rows)
    "ev_hll_overlap" -> "both sides are per-type sketch aggregates (≤ #event_types rows)"
  )

  // The RCA loop queries execute their bounded driver-side orchestration
  // at DataFrame-construction time (RcaLoopSpec covers them); planning
  // them here would re-run the whole loop for no added plan coverage.
  private val skip = Set("trace_rca_loop", "trace_rca_final")

  test("no registered query plans a Cartesian product or an unbounded BNLJ") {
    // As of round 8 EVERY registered plan is UDF-free: the numeric
    // parsers (round 6) and the recursive text splitter (round 8) are
    // native codegen expressions. ANY ScalaUDF in a registered plan is a
    // regression to a path that de-codegens the enclosing stage — no
    // names, no exemptions.
    // Each query plans under its own try, so one that cannot read its
    // fixtures does not hide the checks on every query after it.
    val bnljSeen = Set.newBuilder[String]
    val planned = Set.newBuilder[String]
    val unplanned = Seq.newBuilder[String]
    val violations = graft.queries.Registry.all
      .filterNot(q => skip(q.name))
      .flatMap { q =>
        try {
          val plan = q.run(spark, SfDir).queryExecution.sparkPlan
          planned += q.name
          val product = plan.collect { case c: CartesianProductExec => c }
            .headOption.map(_ => s"${q.name}: CartesianProduct")
          val hasBnlj = plan
            .collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty
          if (hasBnlj) bnljSeen += q.name
          val bnlj =
            if (hasBnlj && !allowedBnlj.contains(q.name))
              Some(s"${q.name}: BroadcastNestedLoopJoin")
            else None
          val parserUdfs = plan.flatMap(_.expressions.flatMap(_.collect {
            case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF =>
              s"${q.name}: ScalaUDF ${u.udfName.getOrElse(u.function.getClass.getName)}" +
                " (plans must stay UDF-free — use a native expression)"
          })).distinct
          product ++ bnlj ++ parserUdfs
        } catch {
          case scala.util.control.NonFatal(e) =>
            unplanned += s"${q.name}: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).linesIterator.nextOption()
                .getOrElse("")
            Nil
        }
      }
    // The net stays tight in both directions: an allowlist entry whose
    // plan no longer contains a BNLJ is dead weight that would silently
    // excuse a future regression — remove it when the plan improves.
    // Only entries whose query planned can be judged stale.
    val stale = (allowedBnlj.keySet & planned.result()) -- bnljSeen.result()
    val couldNotPlan = unplanned.result()
    val failures = Seq(
      if (stale.isEmpty) None
      else Some("allowedBnlj entries with no BNLJ in today's plan — " +
        "remove them: " + stale.toSeq.sorted.mkString(", ")),
      if (violations.isEmpty) None
      else Some("plans with a product / BNLJ over a side not proven " +
        "bounded — re-shape as a bucketed equi-join (see RecoveryDetector." +
        "lookbackJoin) or justify in allowedBnlj:\n" +
        violations.mkString("\n")),
      if (couldNotPlan.isEmpty) None
      else Some("queries that could not plan, so none of the checks " +
        "above covered them:\n" + couldNotPlan.mkString("\n"))
    ).flatten
    if (failures.nonEmpty) fail(failures.mkString("\n\n"))
  }
}
