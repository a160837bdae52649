package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator: the Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) the equivalent DuckDB SQL for the driver's
  * correctness gate. Entries without an oracle get the driver's weaker
  * rows-only check.
  */
case class QueryEntry(fn: (SparkSession, String) => DataFrame, oracle: Option[String] = None)

object QueryRegistry {
  /** All modules contributing registered queries, each as its
    * (name, entry) pairs in declaration order — a `Map` literal would drop
    * a name repeated inside one module before [[merge]] could see it.
    */
  def modules: Seq[Seq[(String, QueryEntry)]] = Seq(
    queries.VerifierQueries.entries,
    queries.AnalyticsQueries.entries,
    queries.TextQueries.entries,
    queries.CorpusQueries.entries,
    queries.DedupQueries.entries,
    queries.SimilarityQueries.entries,
    queries.EventQueries.entries,
    queries.MultimodalQueries.entries,
    queries.DriftQueries.entries,
    queries.PrivacyQueries.entries
  )

  lazy val all: Map[String, QueryEntry] = merge(modules)

  /** One map of every module's queries. A name registered twice — in two
    * modules or twice in one — fails, naming it, instead of one entry
    * silently replacing the other.
    */
  private[graft] def merge(modules: Seq[Seq[(String, QueryEntry)]]): Map[String, QueryEntry] = {
    val names = modules.flatMap(_.map(_._1))
    val dups = names.diff(names.distinct).distinct.sorted
    require(dups.isEmpty, s"query names registered more than once: ${dups.mkString(", ")}")
    modules.flatten.toMap
  }
}
