package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the lineitem co-purchase graph: triangle counts
  * and PageRank. */
object GraphQueries {

  /** Per-part triangle counts over the co-order graph (parts appearing in
    * the same order are adjacent). Edge build is one equi-join on
    * l_orderkey with per-order-bounded fan-out; counting is the
    * degree-oriented wedge-close join (see operators.Triangles — found
    * once per triangle, no /3 correction). */
  private def qPartTriangles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
    operators.Triangles.perNode(coPurchaseEdges(li), "u", "v")
      .withColumnRenamed("node", "l_partkey")
      .orderBy("l_partkey")
  }

  private val qPartTrianglesSql =
    s"""WITH e AS (
       |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
       |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |  WHERE l1.l_partkey < l2.l_partkey),
       |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1 JOIN e e2 ON e2.u = e1.v
       |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
       |x AS (SELECT a AS l_partkey FROM t UNION ALL SELECT b FROM t
       |  UNION ALL SELECT c FROM t)
       |SELECT l_partkey, COUNT(*) AS n_triangles
       |FROM x GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  /** Exact-integer PageRank (operators.PageRank, 3 iterations, damping
    * 0.85) over the symmetrized co-order part graph — co-purchase
    * centrality. The oracle unrolls all three iterations as CTEs with the
    * identical Euclidean-split damping arithmetic, so contribution sums,
    * floor divisions and the dangling/base handling are all under the
    * hash. */
  /** Co-purchase edges via grouped pair expansion: one aggregate
    * collects each order's (deduped, sorted) part set and pairs expand
    * narrowly in-array — measurably faster than the self-join spelling
    * (r10 same-JVM A/B, recorded in PLANS.md: 1.14 vs 1.33 s at sf0.1,
    * same 1.196M edges)
    * because it replaces the SMJ sorts with one hash aggregate. The
    * per-order array is bounded by order size (single-digit for this
    * corpus shape); pair fan-out is the same k^2 either spelling pays.
    *
    * The pinned-width repartition between the aggregate and the explode
    * exists because AQE's parallelism-first coalescing sizes partitions by
    * the COMPACT pre-explode shuffle bytes (minPartitionSize=1m), which
    * serializes the k^2 pair expansion + pair-distinct map side onto 3-4
    * tasks on a 32-core host (measured: 3.7 s of the pagerank wall at
    * sf0.1, ~0.5 s once spread). REPARTITION_BY_NUM is exempt from AQE
    * coalescing and defaultParallelism tracks the cluster, so the
    * expansion width scales with executors; the moved bytes are the
    * order-compact relation, not the exploded pairs. */
  private[graft] def coPurchaseEdges(li: DataFrame): DataFrame =
    li.groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .repartition(li.sparkSession.sparkContext.defaultParallelism)
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
           transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"""))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))

  private def qPartPagerank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
    operators.PageRank.ranksUndirected(
        coPurchaseEdges(li).distinct(), "u", "v", iters = 3)
      .withColumnRenamed("node", "l_partkey")
      .orderBy("l_partkey")
  }

  private val qPartPagerankSql = {
    val iters = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node, SUM($prev.r // d.outdeg) AS s
         |  FROM e JOIN deg d ON d.src = e.src
         |  JOIN $prev ON $prev.node = e.src GROUP BY e.dst),
         |r$i AS (SELECT n.node, CAST(150000
         |    + (COALESCE(c$i.s, 0) // 1000000) * 850000
         |    + ((COALESCE(c$i.s, 0) % 1000000) * 850000) // 1000000
         |  AS BIGINT) AS r FROM n LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
       |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |  WHERE l1.l_partkey < l2.l_partkey),
       |e AS (SELECT u AS src, v AS dst FROM e0
       |      UNION ALL SELECT v, u FROM e0),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |n AS (SELECT DISTINCT node FROM (
       |      SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
       |$iters
       |SELECT node AS l_partkey, r AS rank_micros FROM r3
       |ORDER BY l_partkey""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_part_triangles", qPartTriangles, qPartTrianglesSql),
    QuerySpec("q_part_pagerank", qPartPagerank, qPartPagerankSql)
  )
}
