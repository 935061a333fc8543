package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** One registered query: its name, its Spark body (session, sf dir) and the
  * DuckDB SQL that recomputes its rows from the same tables. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Driver contract — queries + DuckDB oracles (see SURVEY.md §2, §7).
  *
  * Every query is written once, as a [[QuerySpec]] in its domain's file
  * under `queries/`; `queries` and `oracleSql` are derived from that one
  * list, so a name cannot have a body without an oracle or the reverse.
  * Cross-engine determinism rules live on [[graft.queries.Shared]].
  */
object SparkEntry {

  val specs: Seq[QuerySpec] =
    RelationalQueries.specs ++ PlacementQueries.specs ++ EventQueries.specs ++
      TextQueries.specs ++ SearchQueries.specs ++ DedupQueries.specs ++
      CurationQueries.specs ++ AnnQueries.specs ++ MultimodalQueries.specs ++
      LayoutQueries.specs ++ SketchQueries.specs ++ GraphQueries.specs

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")
}
