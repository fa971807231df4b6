package graftbench

/** Reference values the output checks compare against. */
object Expected {
  /** Curation stage-boundary row counts over ONE copy of the
    * documents (the cipher is structure-preserving, so k copies give k
    * times these). Produced by the oracle mode (see README), which also
    * checks each against the engine's oracled standalone queries.
    */
  val curateOneCopy: Map[String, Long] = Map(
    "quality" -> 2877L, "exact" -> 2872L, "pairs" -> 133L, "survivors" -> 2743L,
    "spans" -> 2743L, "decontaminated" -> 2710L, "mixed" -> 905L, "packed" -> 905L)

  /** Ids (within a copy) of long documents that reach the curated training
    * mix in every copy: re-crawl sources and twin targets that must be in
    * the snapshot.
    * Listed by the oracle mode.
    */
  val stableSurvivors: IndexedSeq[Long] = IndexedSeq(102L, 103L, 104L, 105L, 106L, 107L, 108L,
    109L, 110L, 113L, 116L, 118L, 119L, 120L, 121L, 123L, 124L, 126L, 132L, 135L, 143L, 146L, 149L,
    201L, 202L, 205L, 208L, 209L, 210L, 212L, 213L, 215L, 216L, 220L, 221L, 223L, 226L, 235L, 238L,
    243L)
}
