package graft.queries

/** The query-family file each QueryPack query is defined in. */
object Families {
  val Names: Seq[String] = Seq("relational", "event", "text", "dedup", "vector")

  def of(query: String): String =
    if (QueryPack.relationalOracles.contains(query)) "relational"
    else if (QueryPack.eventOracles.contains(query)) "event"
    else if (QueryPack.textOracles.contains(query)) "text"
    else if (QueryPack.dedupOracles.contains(query)) "dedup"
    else if (QueryPack.vectorOracles.contains(query)) "vector"
    else sys.error(s"$query is in no family")
}
