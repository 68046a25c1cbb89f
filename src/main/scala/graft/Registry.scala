package graft

/** Central registry of every declared engine query. Families are added
  * as they land (SURVEY.md §2 coverage + the LLM-pipeline extensions).
  */
object Registry {
  def all: Seq[GraftQuery] =
    queries.Relational.queries ++ queries.Relational2.queries ++
      queries.Relational3.queries ++ queries.Relational4.queries ++
      queries.Relational5.queries ++ queries.Relational6.queries ++
      queries.TpchQueries.queries ++
      queries.TextQueries.queries ++ queries.TextQueries2.queries ++
      queries.TextQueries3.queries ++ queries.TextQueries4.queries ++
      queries.TextQueries5.queries ++ queries.TextQueries6.queries ++
      queries.TextQueries7.queries ++ queries.TextQueries8.queries ++
      queries.TextQueries9.queries ++ queries.TextQueries10.queries ++
      queries.TextQueries11.queries ++
      queries.GraphQueries.queries ++
      queries.VectorQueries.queries ++ queries.VectorQueries2.queries ++
      queries.EventQueries.queries ++
      queries.EventQueries2.queries ++
      queries.EventQueries3.queries ++
      queries.MultimodalQueries.queries

  def byName: Map[String, GraftQuery] = all.map(q => q.name -> q).toMap
}
