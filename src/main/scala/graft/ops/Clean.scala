package graft.ops

/** Null-handling and sentinel scrubbing (SURVEY.md §2.2 P3/P4).
  *
  * Ordering contract (N1, reference `src/main.py:80-83`): dropna runs
  * BEFORE the sentinel replace — a measure holding the *string* `"*"`
  * survives the null-filter and only then becomes null, so it flows into
  * downstream rollups (where SQL `sum` skips it), while born-null
  * measures were already dropped.
  *
  * The HPV pipeline applies N1 and N2 to its driver rows itself
  * (`HpvPipeline.combine`), with [[DefaultSentinels]] and
  * [[droppedByName]] from here. The DataFrame reference forms of P3/P4,
  * which the specs check `combine` against, live in the spec tree.
  */
object Clean {

  /** NHS small-number suppression markers (reference `src/main.py:81-83`). */
  val DefaultSentinels: Seq[String] = Seq("*", "[E]", "[DS]")

  /** P1/P2: the reference's name-pattern column drops — a header naming
    * a percentage or the 2-doses measure is not kept.
    */
  def droppedByName(header: String): Boolean =
    header.contains("%") || header.contains("2 doses")
}
