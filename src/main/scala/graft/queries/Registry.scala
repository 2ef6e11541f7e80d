package graft.queries

/** All registered queries. Each suite maps a slice of SURVEY.md §2's
  * operator inventory onto the driver testdata tables. */
object Registry {
  lazy val all: Seq[QueryDef] =
    Relational.all ++ EventAnalytics.all ++ TraceQueries.all ++
      SinkRoundtrip.all

  lazy val byName: Map[String, QueryDef] =
    all.map(q => q.name -> q).toMap
}
