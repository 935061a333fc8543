package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Shared._

/** TPC-H-style relational analytics over the sf tables: pricing
  * summaries, top orders/parts, region revenue, the lineitem column
  * profile, the bucketed co-located join and the fuzzy part-name join. */
object RelationalQueries {

  /** Exactly 5 decimal sums + 1 count per group: the three averages are
    * *derived* from already-computed micros-sums in a post-aggregation
    * projection (floor(sum/count) — the same expression `mavg` plans), so
    * no aggregate buffer is spent on an avg that a sum already implies. */
  private def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    def davg(sumCol: Column): Column =
      floor(sumCol / col("count_order")).cast("long")
    // widened (util.Par scaladoc): a compact single-row-group lineitem
    // file scans as ONE real task, serializing the 5-decimal-sum map side;
    // in-JVM A/B at sf0.1: 2.2 s -> 1.1 s steady-state. No-op at
    // production scan widths, and the decimal sums are order-independent.
    util.Par.widen(Tables.lineitem(s, dir))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        msum(col("l_quantity")).as("sum_qty_micros"),
        msum(col("l_extendedprice")).as("sum_base_price_micros"),
        msum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price_micros"),
        msum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge_micros"),
        msum(col("l_discount")).as("sum_disc_micros"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty_micros"), col("sum_base_price_micros"),
        col("sum_disc_price_micros"), col("sum_charge_micros"),
        davg(col("sum_qty_micros")).as("avg_qty_micros"),
        davg(col("sum_base_price_micros")).as("avg_price_micros"),
        davg(col("sum_disc_micros")).as("avg_disc_micros"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q1PricingSql =
    s"""SELECT l_returnflag, l_linestatus,
       | ${msumSql("l_quantity")} AS sum_qty_micros,
       | ${msumSql("l_extendedprice")} AS sum_base_price_micros,
       | ${msumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price_micros,
       | ${msumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge_micros,
       | ${mavgSql("l_quantity")} AS avg_qty_micros,
       | ${mavgSql("l_extendedprice")} AS avg_price_micros,
       | ${mavgSql("l_discount")} AS avg_disc_micros,
       | COUNT(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: top-10 open orders by discounted revenue for one market
    * segment. Only the filtered customer key set is force-broadcast (a true
    * dimension at any scale); the orders side is left to AQE — at test SF
    * its runtime stats are small enough to auto-broadcast, while at 100 TB
    * (where segment-filtered orders is still |orders|/5 and would OOM a
    * forced broadcast) it degrades gracefully to a shuffle join keyed by
    * l_orderkey. */
  private def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).where(col("c_mktsegment") === "MACHINERY")
      .select("c_custkey")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(msum(col("rev")).as("revenue_micros"),
        unix_millis(min(col("o_orderdate")).cast("timestamp")).as("order_date_ms"))
      .orderBy(col("revenue_micros").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q3TopOrdersSql =
    s"""SELECT o_orderkey,
       | ${msumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue_micros,
       | epoch_ms(MIN(o_orderdate)) AS order_date_ms
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'MACHINERY'
       |GROUP BY o_orderkey
       |ORDER BY revenue_micros DESC, o_orderkey
       |LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: revenue by nation where customer and supplier share the
    * nation, restricted to one region. Only the fixed-cardinality dimensions
    * (region, nation) are force-broadcast; supplier/customer/orders sides
    * are AQE-decided — auto-broadcast at test SF, shuffle joins at fleet
    * scale where forcing them into executor memory would OOM. lineitem, the
    * 100 TB-class side, is shuffled only on its join/groupBy keys. */
  private def q5RegionRevenueImpl(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).where(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    li.join(supp.join(broadcast(nation), col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .where(col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(msum(col("rev")).as("revenue_micros"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  private val q5RegionRevenueSql =
    s"""SELECT n_name,
       | ${msumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue_micros,
       | COUNT(*) AS n_items
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  /** TPC-H Q6 shape: pure filter + aggregate — the predicate-pushdown
    * showcase (filters reach the parquet scan as PushedFilters). */
  private def q6Forecast(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(msum(col("l_extendedprice") * col("l_discount")).as("revenue_micros"),
        count(lit(1)).as("n_rows"))

  private val q6ForecastSql =
    s"""SELECT ${msumSql("l_extendedprice * l_discount")} AS revenue_micros,
       | COUNT(*) AS n_rows
       |FROM lineitem
       |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Brand revenue over the part dimension. The 2-column part projection is
    * AQE-decided: auto-broadcast while it fits (test SFs), shuffle join on
    * l_partkey at fleet scale — part grows with SF and a forced broadcast
    * would not survive 100 TB. */
  private def qTopParts(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir).select("p_partkey", "p_brand")
    // widened (util.Par scaladoc): the broadcast-join probe + 2-decimal-sum
    // map side otherwise runs on the single real scan task (the q1_pricing
    // pattern; registry stage sweep flagged a 1.6 s 3-task stage here)
    val li = util.Par.widen(Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"), msum(col("l_quantity")).as("sum_qty_micros"),
        msum(col("rev")).as("revenue_micros"))
      .orderBy("p_brand")
  }

  private val qTopPartsSql =
    s"""SELECT p_brand, COUNT(*) AS n_items,
       | ${msumSql("l_quantity")} AS sum_qty_micros,
       | ${msumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue_micros
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Multi-level aggregation via ROLLUP (grouping sets): per-(flag, status)
    * pricing with subtotal and grand-total rows, disambiguated by
    * grouping_id.
    *
    * Partial-reaggregation shape: the fact table aggregates ONCE to the
    * base (flag, status) groups — exact decimal partials — and the rollup
    * expands only those few partial rows. Rolling up the raw fact rows
    * would Expand every row 3x before aggregating; sums of disjoint-group
    * sums are identical, so this is a pure plan improvement. */
  private def qPricingRollup(s: SparkSession, dir: String): DataFrame = {
    val partials = Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("pn"),
        sum((col("l_quantity") * lit(1000000.0)).cast(DecimalType(38, 0))).as("pq"))
    partials
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), sum("pn").as("n_rows"),
        sum("pq").cast("long").as("sum_qty_micros"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("gid").cast("long").as("gid"),
        col("n_rows").cast("long").as("n_rows"), col("sum_qty_micros"))
      .orderBy("rf", "ls", "gid")
  }

  private val qPricingRollupSql =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
       | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       | COUNT(*) AS n_rows,
       | ${msumSql("l_quantity")} AS sum_qty_micros
       |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY rf, ls, gid""".stripMargin

  /** One-pass column profiling over lineitem (`operators/Profile`). */
  private def qProfileLineitem(s: SparkSession, dir: String): DataFrame =
    // widened: the 6-column value-explode map side otherwise runs on the
    // single real scan task (util.Par scaladoc; in-JVM A/B mild win)
    operators.Profile.profile(util.Par.widen(Tables.lineitem(s, dir)),
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag",
          "l_linestatus", "l_shipdate"))
      .orderBy("column")

  private val qProfileLineitemSql = {
    val cols = Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag",
      "l_linestatus", "l_shipdate")
    cols.map { c =>
      s"""SELECT '$c' AS "column", COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Customer order rollup over tables BUCKETED on the join key: orders and
    * customer are written once as 8-bucket tables (the amortized one-time
    * shuffle), then the join AND the groupBy ride the stored partitioning —
    * the only exchange left in the query is the gate's final orderBy.
    * BucketedSpec pins the exchange-free plan; this gate pins the values. */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val wh = s"/tmp/graft_bucketed_${new java.io.File(dir).getName}"
    sources.Bucketed.writeBucketed(s,
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_bkt_orders", s"$wh/orders", "o_custkey", 8)
    sources.Bucketed.writeBucketed(s,
      Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
      "graft_bkt_customer", s"$wh/customer", "c_custkey", 8)
    sources.Bucketed.colocatedJoin(s, "graft_bkt_customer",
        "graft_bkt_orders", "c_custkey", "o_custkey")
      .groupBy("c_custkey")
      .agg(max(col("c_nationkey")).as("c_nationkey"),
        count(lit(1)).as("n_orders"),
        msum(col("o_totalprice")).as("sum_total_micros"))
      .orderBy("c_custkey")
  }

  private val qBucketedJoinSql =
    s"""SELECT c_custkey, MAX(c_nationkey) AS c_nationkey,
       |  COUNT(*) AS n_orders, ${msumSql("o_totalprice")} AS sum_total_micros
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Entity resolution over distinct part names: all name pairs within
    * Levenshtein distance 2 via symmetric-deletion blocking + exact
    * verification (see operators.FuzzyJoin). The oracle is the naive
    * quadratic join, so the blocking must be pair-for-pair complete. */
  private def qFuzzyPartNames(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select(col("p_name")).distinct()
      .select(col("p_name").as("id"), col("p_name"))
    operators.FuzzyJoin.selfJoin(names, "id", "p_name", d = 2)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("distance"))
      .orderBy("name_a", "name_b")
  }

  private val qFuzzyPartNamesSql =
    s"""WITH names AS (SELECT DISTINCT p_name FROM part)
       |SELECT a.p_name AS name_a, b.p_name AS name_b,
       |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
       |FROM names a JOIN names b ON a.p_name < b.p_name
       |WHERE levenshtein(a.p_name, b.p_name) <= 2
       |ORDER BY name_a, name_b""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing", q1Pricing, q1PricingSql),
    QuerySpec("q3_top_orders", q3TopOrders, q3TopOrdersSql),
    QuerySpec("q5_region_revenue", q5RegionRevenueImpl, q5RegionRevenueSql),
    QuerySpec("q6_forecast", q6Forecast, q6ForecastSql),
    QuerySpec("q_pricing_rollup", qPricingRollup, qPricingRollupSql),
    QuerySpec("q_top_parts", qTopParts, qTopPartsSql),
    QuerySpec("q_profile_lineitem", qProfileLineitem, qProfileLineitemSql),
    QuerySpec("q_bucketed_join", qBucketedJoin, qBucketedJoinSql),
    QuerySpec("q_fuzzy_part_names", qFuzzyPartNames, qFuzzyPartNamesSql)
  )
}
