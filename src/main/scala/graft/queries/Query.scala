package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query, declared once: the builder, its DuckDB oracle (None for
  * the rows-only queries) and its gate tag.
  *
  * Determinism rules for oracle parity:
  *  - money sums go through DECIMAL(18,2) per-value casts (exact,
  *    order-independent) and are cast back to DOUBLE at the end;
  *  - derived ratios are `floor(x * 1e4)` BIGINTs, never `round`
  *    (floor of an identical IEEE double is portable, round ties
  *    are not);
  *  - timestamps are formatted to strings on both sides;
  *  - every ranking has a deterministic tiebreak column.
  *
  * `gate` marks a query whose in-query cost is dominated by adjudication
  * machinery it runs by construction: an exact baseline recomputed next
  * to the approximate operator (the recall/error gates), an incremental
  * path re-run against its own full rebuild plus the equality join, or
  * a duplicate training run that exists only to grade accuracy. The
  * bench reports operator and gate subtotals separately. The test is
  * "does the query recompute its own baseline", not "is the query's
  * purpose assurance": q164 (the k-means training is the shipped
  * operator), q176 (pure composition), q130/q69 (threshold faces of
  * shipped scorers) and the additive family q175/q183/q187/q188 (the
  * equality is the oracle's job) are not gates.
  */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: Option[String],
                       gate: Boolean = false)

/** The query inventory, keyed by name. Construction fails on a name
  * declared twice. */
final class Registry(declared: Seq[Query]) {
  Registry.requireUnique(declared.map(_.name), "query name")

  val builds: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  val oracles: Map[String, String] =
    declared.flatMap(q => q.oracle.map(q.name -> _)).toMap

  val gates: Set[String] = declared.filter(_.gate).map(_.name).toSet
}

object Registry {

  /** Every family's declarations. */
  lazy val all: Registry = new Registry(Seq(
    WarehouseQueries.all, TextQueries.all, QualityQueries.all,
    DedupQueries.all, VectorQueries.all, CurationQueries.all,
    MultimodalQueries.all, CrawlQueries.all, PrivacyQueries.all,
    GraphQueries.all).flatten)

  private[queries] def requireUnique(keys: Seq[String], what: String): Unit = {
    val dups = keys.diff(keys.distinct).distinct.sorted
    require(dups.isEmpty, s"duplicate $what: ${dups.mkString(", ")}")
  }
}
