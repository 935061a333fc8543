package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{CandidateFilters, PathAlgebra, Verification}
import graft.sources.MetaFixtures
import graft.sources.MetaFixtures.{cteSql, AsOfMs, DefaultBlockSize, DefaultStaleMs}

/** Driver contract — queries + DuckDB oracles (see SURVEY.md §2, §7).
  *
  * Float determinism across engines: per-row arithmetic stays in DOUBLE
  * (IEEE-deterministic in both engines), then every aggregate is *integerized*
  * — scaled by 1e6, cast to DECIMAL(38,0) (deterministic rounding), summed
  * exactly, and emitted as BIGINT micros. No float ever crosses the
  * hash-compare boundary, so Spark's parallel partial aggregation and
  * DuckDB's sequential sum agree bit-for-bit (DuckDB's DECIMAL->DOUBLE cast
  * is not correctly rounded, so emitting doubles would drift by 1 ULP).
  */
object SparkEntry {

  /** Exact cross-engine aggregation: BIGINT micros (see object Scaladoc). */
  private def msum(c: Column): Column =
    sum((c * lit(1000000.0)).cast(DecimalType(38, 0))).cast("long")
  private def msumSql(e: String): String =
    s"CAST(SUM(CAST(($e) * 1000000.0 AS DECIMAL(38,0))) AS BIGINT)"
  /** Exact cross-engine average in micros (floor of micros-sum / count). */
  private def mavg(c: Column): Column =
    floor(msum(c) / count(lit(1))).cast("long")
  private def mavgSql(e: String): String =
    s"CAST(FLOOR(${msumSql(e)} / COUNT(*)) AS BIGINT)"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  // ===================================================================
  // TPC-H-ish relational analytics over the driver tables
  // ===================================================================

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

  // ===================================================================
  // Placement metadata fixtures (sanity: the arithmetic generator itself)
  // ===================================================================

  private def metaTopology(s: SparkSession, dir: String): DataFrame =
    MetaFixtures.topology(s).orderBy("node_id")
  private val metaTopologySql =
    s"$cteSql SELECT * FROM topology ORDER BY node_id"

  private def metaDatanodes(s: SparkSession, dir: String): DataFrame =
    MetaFixtures.datanodes(s).orderBy("datanode_uuid")
  private val metaDatanodesSql =
    s"$cteSql SELECT * FROM datanodes ORDER BY datanode_uuid"

  private def metaStorages(s: SparkSession, dir: String): DataFrame =
    MetaFixtures.storages(s).orderBy("storage_id")
  private val metaStoragesSql =
    s"$cteSql SELECT * FROM storages ORDER BY storage_id"

  // ===================================================================
  // Placement analytics (P2, P5, P6, P10-P12, P15)
  // ===================================================================

  /** P6 candidate filtering: healthy DISK storages outside /odd with room
    * for a 64 MiB block. */
  private def placementCandidates(s: SparkSession, dir: String): DataFrame =
    CandidateFilters.candidates(
        MetaFixtures.storages(s), MetaFixtures.datanodes(s), MetaFixtures.topology(s),
        DefaultBlockSize, Seq("DISK"), Seq("/odd"), AsOfMs, DefaultStaleMs)
      .select("storage_id", "datanode_uuid", "dc", "rack", "remaining", "xceiver_count")
      .orderBy("storage_id")

  private val placementCandidatesSql =
    s"""$cteSql
       |SELECT s.storage_id, s.datanode_uuid, t.dc, t.rack, s.remaining, d.xceiver_count
       |FROM storages s
       |JOIN datanodes d ON s.datanode_uuid = d.datanode_uuid
       |JOIN topology t ON s.datanode_uuid = t.datanode_uuid
       |WHERE s.state NOT IN ('FAILED', 'READ_ONLY_SHARED')
       |  AND s.remaining >= $DefaultBlockSize
       |  AND s.type IN ('DISK')
       |  AND d.registered AND NOT d.decommission_in_progress
       |  AND NOT d.decommissioned AND NOT d.disallowed
       |  AND $AsOfMs - d.last_heartbeat_ms <= $DefaultStaleMs
       |  AND t.path NOT LIKE '/odd%'
       |ORDER BY s.storage_id""".stripMargin

  /** P5 prefer ordering as a window rank: top-3 candidate storages per rack
    * by (preferred type, space bucket, xceivers). */
  private def placementPreferRank(s: SparkSession, dir: String): DataFrame = {
    val cand = CandidateFilters.candidates(
      MetaFixtures.storages(s), MetaFixtures.datanodes(s), MetaFixtures.topology(s),
      DefaultBlockSize, Seq("DISK"), Nil, AsOfMs, DefaultStaleMs)
    val keys = CandidateFilters.preferKeys(col("type"), col("remaining"),
      col("xceiver_count"), col("storage_id"), Seq("DISK"))
    cand.withColumn("rk", row_number().over(
        Window.partitionBy("dc", "rack").orderBy(keys: _*)))
      .where(col("rk") <= 3)
      .select("dc", "rack", "rk", "storage_id", "remaining")
      .orderBy("dc", "rack", "rk")
  }

  private val placementPreferRankSql =
    s"""$cteSql,
       |cand AS (
       |  SELECT s.*, t.dc, t.rack, d.xceiver_count
       |  FROM storages s
       |  JOIN datanodes d ON s.datanode_uuid = d.datanode_uuid
       |  JOIN topology t ON s.datanode_uuid = t.datanode_uuid
       |  WHERE s.state NOT IN ('FAILED', 'READ_ONLY_SHARED')
       |    AND s.remaining >= $DefaultBlockSize
       |    AND s.type IN ('DISK')
       |    AND d.registered AND NOT d.decommission_in_progress
       |    AND NOT d.decommissioned AND NOT d.disallowed
       |    AND $AsOfMs - d.last_heartbeat_ms <= $DefaultStaleMs),
       |ranked AS (
       |  SELECT dc, rack, storage_id, remaining,
       |    row_number() OVER (PARTITION BY dc, rack ORDER BY
       |      CASE WHEN type = 'DISK' THEN 0 ELSE 1 END,
       |      -floor(remaining / ${MetaFixtures.Bucket100GiB}),
       |      xceiver_count, storage_id) AS rk
       |  FROM cand)
       |SELECT dc, rack, rk, storage_id, remaining FROM ranked
       |WHERE rk <= 3 ORDER BY dc, rack, rk""".stripMargin

  /** P2/P15: distinct top-level racks of decommissioned nodes plus literal
    * exclude paths, DEFAULT_RACK dropped (ref `:117-130`). */
  private def placementTopRacks(s: SparkSession, dir: String): DataFrame = {
    val topo = MetaFixtures.topology(s)
    val dn = MetaFixtures.datanodes(s).where(col("decommissioned"))
    val fromNodes = topo.join(dn, "datanode_uuid")
      .select(PathAlgebra.topRack(col("path")).as("top_rack"))
    val literals = s.createDataFrame(Seq(
        Tuple1("/even/rack_2/10.202.77.4"), Tuple1("/odd/rack_1"),
        Tuple1("/default-rack")))
      .toDF("p").select(PathAlgebra.topRack(col("p")).as("top_rack"))
    fromNodes.union(literals).distinct()
      .where(col("top_rack") =!= "/default-rack")
      .orderBy("top_rack")
  }

  private val placementTopRacksSql =
    s"""$cteSql,
       |cand AS (
       |  SELECT '/' || split_part(t.path, '/', 2) AS top_rack
       |  FROM topology t JOIN datanodes d ON t.datanode_uuid = d.datanode_uuid
       |  WHERE d.decommissioned
       |  UNION ALL SELECT '/even' UNION ALL SELECT '/odd'
       |  UNION ALL SELECT '/default-rack')
       |SELECT DISTINCT top_rack FROM cand
       |WHERE top_rack <> '/default-rack' ORDER BY top_rack""".stripMargin

  /** P12 full balanced-optimal verification over the 200k-block fixture. */
  private def placementVerify(s: SparkSession, dir: String): DataFrame =
    Verification.verifyBalancedOptimal(
        MetaFixtures.replicas(s), MetaFixtures.topology(s), MetaFixtures.blocks(s))
      .orderBy("block_id")

  private val placementVerifySql =
    s"""$cteSql,
       |located AS (
       |  SELECT r.block_id, t.dc, t.rack, t.path, t.ip
       |  FROM replicas r JOIN topology t ON r.datanode_uuid = t.datanode_uuid),
       |edges AS (
       |  SELECT block_id, '' AS parent, '/' || dc AS child FROM located
       |  UNION ALL
       |  SELECT block_id, '/' || dc, '/' || dc || '/' || rack FROM located
       |  UNION ALL
       |  SELECT block_id, '/' || dc || '/' || rack, path FROM located),
       |per_child AS (
       |  SELECT block_id, parent, child, COUNT(*) AS cnt
       |  FROM edges GROUP BY 1, 2, 3),
       |per_parent AS (
       |  SELECT block_id, parent, COUNT(*) AS groups, SUM(cnt) AS leaf,
       |         MAX(cnt) AS max_placed, MIN(cnt) AS min_placed
       |  FROM per_child GROUP BY 1, 2),
       |avail AS (
       |  SELECT '' AS parent, COUNT(DISTINCT dc) AS available FROM topology
       |  UNION ALL
       |  SELECT '/' || dc, COUNT(DISTINCT rack) FROM topology GROUP BY 1
       |  UNION ALL
       |  SELECT '/' || dc || '/' || rack, COUNT(*) FROM topology GROUP BY 1),
       |per_block AS (
       |  SELECT p.block_id,
       |    MAX(CASE WHEN (CASE WHEN p.leaf <= a.available
       |          THEN p.groups <> p.leaf ELSE p.groups <> a.available END)
       |          OR p.max_placed - p.min_placed > 1 THEN 1 ELSE 0 END) AS any_violation,
       |    MAX(CASE WHEN p.parent = '' THEN p.leaf ELSE 0 END) AS root_total
       |  FROM per_parent p JOIN avail a ON p.parent = a.parent
       |  GROUP BY p.block_id),
       |nodes AS (
       |  SELECT block_id,
       |         string_agg('(' || ip || ')', ',' ORDER BY ip) AS nodes
       |  FROM located GROUP BY block_id)
       |SELECT b.block_id,
       |  CASE WHEN v.block_id IS NULL OR v.root_total < b.require_replica THEN false
       |       WHEN v.any_violation = 1 THEN false ELSE true END AS satisfied,
       |  CASE WHEN v.block_id IS NULL OR v.root_total < b.require_replica THEN 'not_enough'
       |       WHEN v.any_violation = 1 THEN 'not_optimal' ELSE NULL END AS reason_code,
       |  CASE WHEN v.block_id IS NULL OR v.root_total < b.require_replica
       |       THEN printf('not enough storage nodes:[%s], require:%d',
       |                   COALESCE(n.nodes, ''), b.require_replica)
       |       WHEN v.any_violation = 1
       |       THEN printf('placement not optimal, datanodes:[%s], require replica:%d',
       |                   COALESCE(n.nodes, ''), b.require_replica)
       |       ELSE NULL END AS reason
       |FROM blocks b
       |LEFT JOIN per_block v ON b.block_id = v.block_id
       |LEFT JOIN nodes n ON b.block_id = n.block_id
       |ORDER BY b.block_id""".stripMargin

  /** P11 fast verification (count-only). */
  private def placementVerifyFast(s: SparkSession, dir: String): DataFrame =
    Verification.verifyFast(MetaFixtures.replicas(s), MetaFixtures.blocks(s))
      .orderBy("block_id")

  private val placementVerifyFastSql =
    s"""$cteSql,
       |counts AS (SELECT block_id, COUNT(*) AS observed FROM replicas GROUP BY 1)
       |SELECT b.block_id, COALESCE(c.observed, 0) AS observed, b.require_replica,
       |       COALESCE(c.observed, 0) >= b.require_replica AS satisfied
       |FROM blocks b LEFT JOIN counts c ON b.block_id = c.block_id
       |ORDER BY b.block_id""".stripMargin

  /** P12 intermediate rolled up across blocks: fleet-level hierarchy load. */
  private def placementHierarchyStats(s: SparkSession, dir: String): DataFrame =
    Verification.hierarchyStats(MetaFixtures.replicas(s), MetaFixtures.topology(s))
      .groupBy("parent")
      .agg(count(lit(1)).as("n_blocks"), sum("groups").as("groups_sum"),
        sum("leaf").as("leaf_sum"), max("max_placed").as("max_placed"))
      .orderBy("parent")

  private val placementHierarchyStatsSql =
    s"""$cteSql,
       |located AS (
       |  SELECT r.block_id, t.dc, t.rack, t.path
       |  FROM replicas r JOIN topology t ON r.datanode_uuid = t.datanode_uuid),
       |edges AS (
       |  SELECT block_id, '' AS parent, '/' || dc AS child FROM located
       |  UNION ALL
       |  SELECT block_id, '/' || dc, '/' || dc || '/' || rack FROM located
       |  UNION ALL
       |  SELECT block_id, '/' || dc || '/' || rack, path FROM located),
       |per_child AS (
       |  SELECT block_id, parent, child, COUNT(*) AS cnt
       |  FROM edges GROUP BY 1, 2, 3),
       |per_parent AS (
       |  SELECT block_id, parent, COUNT(*) AS groups, SUM(cnt) AS leaf,
       |         MAX(cnt) AS max_placed, MIN(cnt) AS min_placed
       |  FROM per_child GROUP BY 1, 2)
       |SELECT parent, COUNT(*) AS n_blocks,
       |       CAST(SUM(groups) AS BIGINT) AS groups_sum,
       |       CAST(SUM(leaf) AS BIGINT) AS leaf_sum, MAX(max_placed) AS max_placed
       |FROM per_parent GROUP BY parent ORDER BY parent""".stripMargin

  /** P1–P9 batch allocation over the request fixture, reported as a
    * per-request *invariant summary*. The seeded greedy's pick order is not
    * SQL-expressible (PlacementSpec covers the choose->verify metamorphic
    * property case by case), but every request class has a deterministic
    * observable contract the DuckDB oracle recomputes from the fixture
    * arithmetic alone:
    *
    *  - selection domain (ref `:117-138`): no writer & no excludes -> root
    *    (both DCs); a writer hint or an exclude collapses it to one DC; a
    *    writer in the excluded DC leaves nothing to select (0 picks);
    *  - pick count = `additional` whenever the domain is non-empty;
    *  - balanced spread (ref `:587-721`): picks land on distinct nodes and
    *    distinct racks; a root-domain request spans `min(2, n)` DCs with at
    *    most `ceil(n/2)` picks per DC, a one-DC domain stays in it;
    *  - filters (ref `:150-173,:365-371`): never an excluded subtree, an
    *    unhealthy node, or a non-preferred/full/failed storage.
    *
    * Any drift in the greedy (lost pick, duplicate node, unbalanced split,
    * filter leak) flips the corresponding counter and fails the hash. */
  private def placementChoose(s: SparkSession, dir: String): DataFrame = {
    val snap = operators.Placement.snapshot(
      MetaFixtures.storages(s), MetaFixtures.datanodes(s), MetaFixtures.topology(s),
      AsOfMs, DefaultStaleMs)
    operators.Placement.chooseInvariants(s, snap, MetaFixtures.requests(s))
      .orderBy("request_id")
  }

  /** The greedy's observable contract, recomputed from request arithmetic:
    * per-class pick counts, spread/balance shape, and zero filter leaks. */
  private val placementChooseSql = {
    val a = s"(1 + ${MetaFixtures.prand("i * 3 + 17")} % 4)"
    val w = s"CASE WHEN i % 3 = 0 THEN 1 + ${MetaFixtures.prand("i * 11 + 23")} % ${MetaFixtures.NumNodes} END"
    s"""WITH sel AS (
       |  SELECT i AS request_id, $a AS a, $w AS w, (i % 7 = 0) AS has_excl
       |  FROM range(0, ${MetaFixtures.NumRequests}) t(i)),
       |cls AS (
       |  SELECT request_id, a,
       |    CASE WHEN w IS NOT NULL AND has_excl AND w % 2 = 1 THEN 'dead'
       |         WHEN w IS NULL AND NOT has_excl THEN 'root'
       |         ELSE 'single' END AS cls
       |  FROM sel)
       |SELECT request_id,
       |  CAST(CASE WHEN cls = 'dead' THEN 0 ELSE a END AS BIGINT) AS n_picked,
       |  CAST(CASE WHEN cls = 'dead' THEN 0 ELSE a END AS BIGINT) AS n_distinct_nodes,
       |  CAST(CASE WHEN cls = 'dead' THEN 0 ELSE a END AS BIGINT) AS n_distinct_racks,
       |  CAST(CASE WHEN cls = 'dead' THEN 0
       |            WHEN cls = 'root' THEN LEAST(2, a) ELSE 1 END AS BIGINT) AS n_dcs,
       |  CAST(CASE WHEN cls = 'dead' THEN 0
       |            WHEN cls = 'root' THEN (a + 1) // 2 ELSE a END AS BIGINT) AS max_per_dc,
       |  CAST(0 AS BIGINT) AS n_excl_violations,
       |  CAST(0 AS BIGINT) AS n_unhealthy,
       |  CAST(0 AS BIGINT) AS n_bad_storage
       |FROM cls ORDER BY request_id""".stripMargin
  }

  /** Favored-nodes allocation (the reference test's
    * `chooseTarget(..., favored, ...)` overload,
    * `TestCrossAZBlockPlacementPolicy.java:371-375`) over a request fixture
    * with one LCG-chosen favored datanode each. Semantics under gate:
    * an eligible favored node (healthy, outside excluded subtrees, with a
    * NORMAL/DISK storage that fits the block) is picked FIRST and counts
    * against the quota; the balanced remainder spreads around it like an
    * already-chosen replica. The oracle recomputes eligibility from the
    * fixture arithmetic (datanode health flags + storage remaining) and
    * predicts every spread/balance column, so a favored-path drift —
    * skipped eligible node, quota overrun, favored emitted after a
    * balanced pick, exclusion leak — fails the hash. */
  private def placementChooseFavored(s: SparkSession, dir: String): DataFrame = {
    val snap = operators.Placement.snapshot(
      MetaFixtures.storages(s), MetaFixtures.datanodes(s), MetaFixtures.topology(s),
      AsOfMs, DefaultStaleMs)
    operators.Placement.chooseFavoredInvariants(s, snap, MetaFixtures.favoredRequests(s))
      .orderBy("request_id")
  }

  /** Favored contract recomputed from fixture arithmetic: eligibility =
    * health AND not-excluded AND the node's NORMAL/DISK storage fits the
    * block; spread columns match the unfavored classes (the favored seed
    * occupies one slot of the same balanced shape). */
  private val placementChooseFavoredSql = {
    val a = s"(1 + ${MetaFixtures.prand("i * 3 + 17")} % 4)"
    val f = s"(1 + ${MetaFixtures.prand("i * 19 + 41")} % ${MetaFixtures.NumNodes})"
    s"""$cteSql,
       |sel AS (
       |  SELECT i AS request_id, $a AS a, $f AS f, (i % 7 = 0) AS has_excl
       |  FROM range(0, ${MetaFixtures.NumRequests}) t(i)),
       |elig AS (
       |  SELECT s.request_id, s.a, s.has_excl,
       |    (d.registered AND NOT d.decommission_in_progress
       |     AND NOT d.decommissioned AND NOT d.disallowed
       |     AND $AsOfMs - d.last_heartbeat_ms <= $DefaultStaleMs
       |     AND st.remaining >= 12
       |     AND NOT (s.has_excl AND s.f % 2 = 1)) AS fe
       |  FROM sel s
       |  JOIN datanodes d ON d.datanode_uuid = concat('dn-', s.f)
       |  JOIN storages st ON st.storage_id = concat('st-', s.f, '-0-0'))
       |SELECT request_id,
       |  CAST(a AS BIGINT) AS n_picked,
       |  CAST(a AS BIGINT) AS n_distinct_nodes,
       |  CAST(a AS BIGINT) AS n_distinct_racks,
       |  CAST(CASE WHEN has_excl THEN 1 ELSE LEAST(2, a) END AS BIGINT) AS n_dcs,
       |  CAST(CASE WHEN has_excl THEN a ELSE (a + 1) // 2 END AS BIGINT) AS max_per_dc,
       |  CAST(1 AS BIGINT) AS n_favored,
       |  CAST(CASE WHEN fe THEN 1 ELSE 0 END AS BIGINT) AS n_favored_eligible,
       |  CAST(CASE WHEN fe THEN 1 ELSE 0 END AS BIGINT) AS n_favored_picked,
       |  true AS favored_first,
       |  CAST(0 AS BIGINT) AS n_excl_violations,
       |  CAST(0 AS BIGINT) AS n_unhealthy,
       |  CAST(0 AS BIGINT) AS n_bad_storage
       |FROM elig ORDER BY request_id""".stripMargin
  }

  /** P13–P14 batch deletion over every fixture block, reported as a
    * per-block *invariant summary*. The greedy pick order itself is not
    * SQL-expressible (the comparator recomputes sibling counts after each
    * removal — DeletionSpec covers it), but its observable contract is:
    * with 2 datacenters the survivor quota is `min(4, r)` (ref
    * `CrossAZBlockPlacementPolicy.java:302-306`), removals happen iff the
    * distinct candidate count exceeds it, exactly the excess is removed,
    * and every victim is a distinct candidate storage. The DuckDB oracle
    * recomputes each of those facts from the fixture arithmetic alone, so
    * any drift in the greedy (wrong count, duplicate victim, non-candidate
    * victim) flips the hash. */
  private def placementDelete(s: SparkSession, dir: String): DataFrame = {
    val snap = operators.Placement.snapshot(
      MetaFixtures.storages(s), MetaFixtures.datanodes(s), MetaFixtures.topology(s),
      AsOfMs, DefaultStaleMs)
    val candidates = MetaFixtures.replicas(s)
      .join(MetaFixtures.blocks(s), "block_id")
      .select("block_id", "require_replica", "storage_id")
    operators.Placement.deleteInvariants(s, snap, candidates)
      .orderBy("block_id")
  }

  /** The greedy's observable contract, recomputed from fixture arithmetic:
    * 2-DC survivor quota `min(4, r)`, excess-only removal, victims distinct
    * and drawn from the candidates. */
  private val placementDeleteSql =
    s"""$cteSql,
       |cand AS (
       |  SELECT r.block_id, b.require_replica, r.storage_id
       |  FROM replicas r JOIN blocks b ON r.block_id = b.block_id),
       |agg AS (
       |  SELECT block_id, MAX(require_replica) AS require_replica,
       |         COUNT(DISTINCT storage_id) AS n_candidates
       |  FROM cand GROUP BY block_id),
       |expct AS (
       |  SELECT block_id, require_replica, n_candidates,
       |    GREATEST(0, n_candidates - LEAST(4, require_replica)) AS n_removed
       |  FROM agg)
       |SELECT block_id, require_replica, n_candidates, n_removed,
       |       n_removed AS n_removed_distinct,
       |       n_removed AS n_in_candidates,
       |       n_candidates - n_removed AS n_survivors
       |FROM expct ORDER BY block_id""".stripMargin

  /** R6 parity: live-datanode census (address, location) as rendered by the
    * reference plugin's status JSON (`CrossAZBlockPlacementPolicyPlugin
    * .java:226-238`); the full document incl. toggles is Status.statusJson. */
  private def statusDatanodes(s: SparkSession, dir: String): DataFrame =
    operators.Status.liveDatanodes(MetaFixtures.topology(s),
      MetaFixtures.datanodes(s), AsOfMs, DefaultStaleMs)

  private val statusDatanodesSql =
    s"""$cteSql
       |SELECT t.ip AS address, '/' || t.dc || '/' || t.rack AS location
       |FROM topology t JOIN datanodes d ON t.datanode_uuid = d.datanode_uuid
       |WHERE d.registered AND NOT d.decommission_in_progress
       |  AND NOT d.decommissioned AND NOT d.disallowed
       |  AND $AsOfMs - d.last_heartbeat_ms <= $DefaultStaleMs
       |ORDER BY address""".stripMargin

  // ===================================================================
  // Events analytics: window functions + sessionization
  // ===================================================================

  /** The events table's timestamp resolution differs by data generation:
    * legacy driver files carry TIMESTAMP(NANOS), which Spark 4 only reads
    * as raw BIGINT nanos (`nanosAsLong`); current files carry
    * TIMESTAMP(MICROS), read as TIMESTAMP_NTZ. Normalize both to exact
    * BIGINT epoch MICROS — the finest resolution actually present in
    * either generation — so every downstream comparison stays exact
    * integer arithmetic (the NTZ→LTZ cast is an identity under the
    * session's pinned UTC zone). DuckDB's `epoch_us`/`epoch_ms` re-derive
    * the same values from either file generation. */
  private def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Tables.events(s, dir)
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    df.withColumn("ts_us", tsUs.cast("long")).drop("ts")
  }

  /** Events with epoch-millis floor — the resolution the analytic queries
    * report (exactly DuckDB's `epoch_ms` semantics). */
  private def eventsBase(s: SparkSession, dir: String): DataFrame =
    eventsRaw(s, dir).select(
      col("user_id"), col("event_id"), col("event_type"), col("value"),
      expr("ts_us div 1000").as("ts_ms"))

  /** Per-user activity profile via window functions (lag gaps). */
  private def qUserWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    eventsBase(s, dir)
      .withColumn("gap_ms", col("ts_ms") - lag("ts_ms", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"),
        coalesce(max("gap_ms"), lit(0L)).as("max_gap_ms"),
        msum(col("value")).as("sum_value_micros"))
      .orderBy("user_id")
  }

  private val qUserWindowsSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
       |  FROM events),
       |g AS (
       |  SELECT *, ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id) AS gap_ms
       |  FROM ev)
       |SELECT user_id, COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types,
       |  MIN(ts_ms) AS first_ms, MAX(ts_ms) AS last_ms,
       |  COALESCE(MAX(gap_ms), 0) AS max_gap_ms,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** 30-minute-gap sessionization via cumulative window sum. */
  private def qSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val sess = eventsBase(s, dir)
      .withColumn("gap_ms", col("ts_ms") - lag("ts_ms", 1).over(w))
      .withColumn("new_session",
        when(col("gap_ms").isNull || col("gap_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("session_events"), msum(col("value")).as("v"))
      .groupBy("user_id")
      .agg(max("session_idx").as("n_sessions"),
        max("session_events").as("max_session_events"),
        sum("v").as("sum_value_micros"))
      .orderBy("user_id")
  }

  private val qSessionsSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events),
       |g AS (
       |  SELECT *, ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id) AS gap_ms
       |  FROM ev),
       |flagged AS (
       |  SELECT *, CASE WHEN gap_ms IS NULL OR gap_ms > 1800000 THEN 1 ELSE 0 END AS new_session
       |  FROM g),
       |sessioned AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM flagged),
       |per_session AS (
       |  SELECT user_id, session_idx, COUNT(*) AS session_events,
       |    ${msumSql("value")} AS v
       |  FROM sessioned GROUP BY user_id, session_idx)
       |SELECT user_id, CAST(MAX(session_idx) AS BIGINT) AS n_sessions,
       |  MAX(session_events) AS max_session_events,
       |  CAST(SUM(v) AS BIGINT) AS sum_value_micros
       |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join (operators/AsOfJoin): every click event annotated with the
    * value of the user's most recent purchase at-or-before the click.
    * DuckDB's native ASOF JOIN is the oracle. */
  private def qAsofLastPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsBase(s, dir)
      .withColumn("vm", floor(col("value") * 1000000).cast("long"))
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "event_id", "ts_ms")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms").agg(max("vm").as("purchase_micros"))
    operators.AsOfJoin.asOf(clicks, purchases, Seq("user_id"),
        "ts_ms", "ts_ms", Seq("purchase_micros"))
      .orderBy("event_id")
  }

  private val qAsofLastPurchaseSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
       |         CAST(floor(value * 1000000) AS BIGINT) AS vm
       |  FROM events),
       |clicks AS (SELECT user_id, event_id, ts_ms FROM ev WHERE event_type = 'click'),
       |purch AS (SELECT user_id, ts_ms, MAX(vm) AS purchase_micros
       |          FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
       |SELECT c.user_id, c.event_id, c.ts_ms, p.purchase_micros
       |FROM clicks c ASOF LEFT JOIN purch p
       |  ON c.user_id = p.user_id AND p.ts_ms <= c.ts_ms
       |ORDER BY c.event_id""".stripMargin

  /** Native bounded-heap top-k aggregate (functions/LongTopK,
    * TypedImperativeAggregate): top-5 event values per type without a
    * per-group sort — O(k) state per group vs the window form's full
    * group sort. Multiset semantics make it exactly reproducible by the
    * SQL window oracle. */
  private def qTopkEventValues(s: SparkSession, dir: String): DataFrame =
    eventsBase(s, dir)
      .withColumn("vm", floor(col("value") * 1000000).cast("long"))
      .groupBy("event_type")
      .agg(call_function("graft_topk", col("vm"), lit(5)).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
        col("col").as("value_micros"))
      .orderBy("event_type", "rk")

  private val qTopkEventValuesSql =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vm FROM events),
       |r AS (
       |  SELECT event_type, vm,
       |    row_number() OVER (PARTITION BY event_type ORDER BY vm DESC) AS rn
       |  FROM ev)
       |SELECT event_type, rn AS rk, vm AS value_micros
       |FROM r WHERE rn <= 5 ORDER BY event_type, rk""".stripMargin

  /** Pivot: per-user event counts spread into one column per event type
    * (explicit value list, so the schema is static and plan-deterministic;
    * an implicit pivot would add a distinct-values job). */
  private def qUserEventPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    eventsBase(s, dir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .count()
      .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  private val qUserEventPivotSql =
    s"""SELECT user_id,
       | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Per-event-type fleet stats. */
  private def qEventTypeStats(s: SparkSession, dir: String): DataFrame =
    eventsBase(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        msum(col("value")).as("sum_value_micros"),
        mavg(col("value")).as("avg_value_micros"))
      .orderBy("event_type")

  private val qEventTypeStatsSql =
    s"""SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       | ${msumSql("value")} AS sum_value_micros,
       | ${mavgSql("value")} AS avg_value_micros
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Daily-total anomaly flags per event type (operators.Anomaly): the
    * monitoring query over the event stream, z = 2.0, decided by exact
    * cross-multiplied DECIMAL(38,0) algebra — the oracle re-derives the
    * identical test in HUGEINT, no float sqrt on either side. One fact
    * aggregate to (type, day) totals; the stats window runs over the
    * compact daily relation. */
  private def qDailyAnomalies(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsBase(s, dir)
      .withColumn("day", expr("ts_ms div 86400000"))
      .withColumn("vm", floor(col("value") * 1000000).cast("long"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"), sum("vm").as("total_micros"))
    operators.Anomaly.flagOutliers(daily, Seq("event_type"),
        "total_micros", sigmaX10 = 20)
      .orderBy("event_type", "day")
  }

  private val qDailyAnomaliesSql =
    s"""WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
       |    CAST(floor(value * 1000000) AS BIGINT) AS vm FROM events),
       |d AS (SELECT event_type, day, COUNT(*) AS n_events,
       |    CAST(SUM(vm) AS BIGINT) AS total_micros FROM ev GROUP BY 1, 2),
       |st AS (SELECT *,
       |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS HUGEINT) AS m,
       |    CAST(SUM(total_micros) OVER (PARTITION BY event_type) AS HUGEINT) AS s,
       |    SUM(CAST(total_micros AS HUGEINT) * total_micros)
       |      OVER (PARTITION BY event_type) AS q
       |  FROM d)
       |SELECT event_type, CAST(day AS BIGINT) AS day, n_events, total_micros,
       |  CAST(CASE WHEN 100 * (m * total_micros - s) * (m * total_micros - s)
       |            > 400 * (m * q - s * s) THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_anomaly
       |FROM st ORDER BY event_type, day""".stripMargin

  /** Skew-guarded dimension join through [[operators.SaltedJoin]]: events
    * is the canonical hot-key fact (5 event_type values, each carrying
    * ~20% of all rows — a plain hash join funnels each fifth of the table
    * into ONE task), joined to a small per-type weight dimension with
    * explicit salting, then rolled up per type. The salted result is
    * row-for-row identical to the plain inner join — which is exactly what
    * the DuckDB oracle runs — so this gates the salting's exactly-once
    * fact-dim pairing the same way every other operator is gated. */
  private def qSaltedEventsJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsBase(s, dir)
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("w", length(col("event_type")).cast("long"))
    operators.SaltedJoin.innerSalted(ev, dim, "event_type", saltFactor = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000000).cast("long") * col("w"))
          .as("weighted_micros"))
      .orderBy("event_type")
  }

  private val qSaltedEventsJoinSql =
    s"""WITH dim AS (
       |  SELECT DISTINCT event_type, CAST(length(event_type) AS BIGINT) AS w
       |  FROM events)
       |SELECT e.event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(FLOOR(e.value * 1000000) AS BIGINT) * d.w) AS BIGINT)
       |    AS weighted_micros
       |FROM events e JOIN dim d USING (event_type)
       |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** JSON scalar extraction from the semi-structured props column. */
  private def qPropsJson(s: SparkSession, dir: String): DataFrame =
    eventsBase2(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        floor(sum("k") / count(lit(1))).cast("long").as("avg_k_floor"))
      .orderBy("event_type")

  private def eventsBase2(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.events(s, dir).select("event_type", "props")
  }

  private val qPropsJsonSql =
    s"""SELECT event_type, COUNT(*) AS n,
       | CAST(SUM(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       | CAST(FLOOR(SUM(CAST(json_extract(props, '$$.k') AS BIGINT)) / COUNT(*)) AS BIGINT) AS avg_k_floor
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ===================================================================
  // LLM-data-pipeline operators over documents/embeddings
  // ===================================================================

  private val TokRe = "[a-z0-9]+"
  private val DuckToks = s"regexp_extract_all(lower(text), '$TokRe')"

  /** 60-bit md5 hash — the exact DuckDB spelling of
    * [[pipeline.Dedup.hash60]], so both engines agree on identical BIGINTs. */
  private val DuckHash60 = "CAST(concat('0x', substr(md5(%s), 1, 15)) AS BIGINT)"

  /** Shared embedding-preparation CTEs (integer-micros scaling + exact
    * squared norms, zero vectors dropped) — mirrors Similarity.prepared. */
  private val DuckPrepared =
    s"""e AS (SELECT vec_id, list_transform(embedding,
       |       v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xs
       |     FROM embeddings),
       |en AS (SELECT vec_id, xs,
       |       CAST(list_sum(list_transform(range(1, len(xs) + 1), i -> xs[i] * xs[i])) AS BIGINT) AS norm2
       |       FROM e),
       |en2 AS (SELECT * FROM en WHERE norm2 > 0)""".stripMargin

  private def textStats(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.textStats(Tables.documents(s, dir)).orderBy("doc_id")

  private val textStatsSql = {
    val stop = pipeline.TextAnalysis.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       | length(text) AS n_chars,
       | len($DuckToks) AS n_tokens,
       | len(list_distinct($DuckToks)) AS n_distinct_tokens,
       | CAST(COALESCE(list_sum(list_transform($DuckToks, t -> length(t))), 0) AS BIGINT) AS total_token_chars,
       | length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_count,
       | len(list_filter($DuckToks, t -> list_contains($stop, t))) AS stopword_count,
       | (len($DuckToks) >= 5 AND len($DuckToks) <= 100000
       |   AND len(list_filter($DuckToks, t -> list_contains($stop, t))) * 100 >= len($DuckToks) * 2
       |   AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 10 <= length(text)) AS quality_ok
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Token-budgeted per-language corpus mix (5000 tokens per language,
    * quality tier first, bucket-granular cut — see Sampling.budgetedMix). */
  private def qCorpusMix(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.budgetedMixBuckets(Tables.documents(s, dir), 5000L)
      .where(col("kept"))
      .groupBy("lang")
      .agg(sum("n_docs").cast("long").as("n_docs_kept"),
        sum("n_tokens").cast("long").as("n_tokens_kept"))
      .orderBy("lang")

  private val qCorpusMixSql = {
    val stop = pipeline.TextAnalysis.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    val mixHash = DuckHash60.format("'graft-mix:' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id, lang, len($DuckToks) AS n_tokens,
       |  (len($DuckToks) >= 5 AND len($DuckToks) <= 100000
       |    AND len(list_filter($DuckToks, t -> list_contains($stop, t))) * 100 >= len($DuckToks) * 2
       |    AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 10 <= length(text)) AS quality_ok
       |  FROM documents),
       |b AS (SELECT lang,
       |        (CASE WHEN quality_ok THEN 0 ELSE 1024 END) + ($mixHash % 1024) AS mix_bucket,
       |        n_tokens FROM t),
       |pb AS (SELECT lang, mix_bucket, COUNT(*) AS n_docs,
       |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |       FROM b GROUP BY 1, 2),
       |c AS (SELECT lang, n_docs, n_tokens,
       |        CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY mix_bucket
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |      FROM pb)
       |SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_docs_kept,
       |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
       |FROM c WHERE cum <= 5000 GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Token counting under whitespace and BPE-ish lexers (LLM budget proxy). */
  private def qTokenCounts(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.tokenCounts(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val qTokenCountsSql =
    s"""SELECT doc_id,
       | len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]+')) AS n_bpe_tokens,
       | len($DuckToks) AS n_word_tokens,
       | length(text) AS n_chars,
       | CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]+')) > 0
       |      THEN (length(text) * 1000000)
       |           // len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]+'))
       |      ELSE 0 END AS chars_per_bpe_micros
       |FROM documents ORDER BY doc_id""".stripMargin

  private def langIdQ(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id")

  private val langIdSql = {
    def hits(words: Seq[String]) = {
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter($DuckToks, t -> list_contains($arr, t)))"
    }
    val (en, de, fr, es) = (hits(pipeline.TextAnalysis.EnStop),
      hits(pipeline.TextAnalysis.DeStop), hits(pipeline.TextAnalysis.FrStop),
      hits(pipeline.TextAnalysis.EsStop))
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    length(text) AS n_chars,
       |    length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS non_ascii,
       |    $en AS en_hits, $de AS de_hits, $fr AS fr_hits, $es AS es_hits
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, non_ascii, en_hits, de_hits, fr_hits, es_hits,
       |  CASE WHEN non_ascii * 5 > n_chars THEN 'zh'
       |       WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
       |       WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
       |       WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
       |       WHEN es_hits > 0 THEN 'es'
       |       ELSE 'und' END AS predicted
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Incremental aggregate maintenance (operators.IncrementalAgg): the
    * standing per-(event_type, user_id) rollup is built from an 80%
    * "history" slice, then REFRESHED with the remaining 20% delta —
    * delta-sized work instead of a history recompute. The oracle is the
    * FULL recompute over all events: hash-equality here is the
    * maintenance invariant itself, merge(agg(A), agg(B)) == agg(A u B),
    * exact because every state component is algebraic integer
    * arithmetic (decimal-sum micros, floored-micros extremes). */
  private def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    val keys = Seq("event_type", "user_id")
    val base = operators.IncrementalAgg.aggregate(
      ev.where(col("event_id") % 10 < 8), keys, "value")
    operators.IncrementalAgg.refresh(base,
        ev.where(col("event_id") % 10 >= 8), keys, "value")
      .orderBy("event_type", "user_id")
  }

  private val qIncrementalAggSql =
    s"""SELECT event_type, user_id, COUNT(*) AS n,
       |  ${msumSql("value")} AS sum_micros,
       |  MIN(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micros,
       |  MAX(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micros
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Positional phrase search (Search.phraseMatches): documents holding
    * the exact token sequence "table value", with occurrence counts —
    * the positional-index primitive bag-of-words retrieval can't
    * express. The positional relation is pruned to the phrase's terms
    * inside the scan; adjacency is re-keyed to plain equality
    * (pos - i), so the oracle replays it as ordinary self-joins over a
    * zipped unnest. */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    pipeline.Search.phraseMatches(Tables.documents(s, dir),
        Seq("table", "value"))
      .orderBy("doc_id")

  private val qPhraseSearchSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
       |        unnest(toks) AS term FROM t)
       |SELECT p0.doc_id, COUNT(*) AS n_matches
       |FROM p p0 JOIN p p1
       |  ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
       | AND p1.term = 'value'
       |WHERE p0.term = 'table'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Blocklist patterns for q_blocklist_screen — lowercase, with shared
    * prefixes and a self-overlapping phrase so the automaton's fail
    * links and overlap counting are exercised on real data; the last
    * pattern never occurs (the all-clear case). Shared verbatim between
    * the Spark automaton and the oracle's VALUES list. */
  private val BlockPatterns = Seq("table", "table part", "part a",
    "slow fast", "a a", "merge batch", "spark", "forbidden phrase")

  /** Multi-pattern blocklist screening (pipeline.Blocklist): one
    * Aho-Corasick pass per document regardless of pattern count — vs one
    * regexp pass per pattern — with every start position counted
    * (overlaps included). The oracle re-counts every pattern at every
    * position with a substring scan, so the exact hit counts (not just
    * the verdicts) are under the hash. */
  private def qBlocklistScreen(s: SparkSession, dir: String): DataFrame =
    pipeline.Blocklist.screen(Tables.documents(s, dir), BlockPatterns)
      .orderBy("doc_id")

  private val qBlocklistScreenSql = {
    val vals = BlockPatterns.map(p => s"('$p')").mkString(", ")
    s"""WITH pats AS (SELECT * FROM (VALUES $vals) AS v(p)),
       |d AS (SELECT doc_id, lower(text) AS t FROM documents),
       |hits AS (SELECT doc_id,
       |    CASE WHEN length(t) >= length(p) THEN
       |      len(list_filter(range(length(t) - length(p) + 1),
       |        i -> substr(t, CAST(i + 1 AS BIGINT), length(p)) = p))
       |    ELSE 0 END AS n
       |  FROM d CROSS JOIN pats)
       |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_patterns_hit,
       |  SUM(n) > 0 AS blocked
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Repetition quality signals (Gopher/C4-style filters). */
  private def qRepetitionStats(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.repetitionStats(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val qRepetitionStatsSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |          MAX(tf) AS top_tf, COUNT(*) AS n_distinct
       |        FROM tf GROUP BY doc_id)
       |SELECT doc_id, n_tokens, top_tf, n_distinct,
       |  (top_tf * 1000000) // n_tokens AS top_tf_ratio_micros,
       |  (n_distinct * 1000000) // n_tokens AS distinct_ratio_micros,
       |  top_tf * 100 >= n_tokens * 20 AS repetitive
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Rolling-hash content-defined chunking (see TextAnalysis.rollingChunks). */
  private def docRollingChunks(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.rollingChunks(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val docRollingChunksSql = {
    val P = pipeline.Dedup.P
    val bPow = Array.iterate(1L, 8)(b => b * 1000003L % P).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |big AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
       |hs AS (SELECT doc_id, list_transform(t,
       |         x -> ${DuckHash60.format("x")} % $P) AS hs FROM big),
       |r AS (SELECT doc_id, list_transform(range(len(hs) - 7), i ->
       |         (list_sum(list_transform(range(8), j ->
       |            (list_extract(hs, i + j + 1) * list_extract($bPow, j + 1)) % $P))) % $P) AS rs
       |      FROM hs)
       |SELECT doc_id,
       |  CAST(len(rs) AS BIGINT) AS n_windows,
       |  CAST(len(list_filter(rs, x -> x % 64 = 0)) AS BIGINT) AS n_boundaries,
       |  CAST(list_sum(list_transform(rs, x -> x % $P)) % $P AS BIGINT) AS rolling_checksum
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** tf-idf top terms per document (rational idf — see TextAnalysis). */
  private def qTfidfTop(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir))
      .orderBy("doc_id", "rk")

  private val qTfidfTopSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |         (t.tf * 1000000 * n.n_docs) // d.df AS score_micros
       |  FROM tf t JOIN df d ON t.term = d.term, n),
       |ranked AS (
       |  SELECT doc_id, term, tf, df, score_micros,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score_micros DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, tf, df, score_micros
       |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Deterministic stratified sampling over documents (salted md5 buckets:
    * reproducible across runs and engines, no RNG state). */
  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "lang"),
        col("lang"), col("doc_id"),
        rates = Map("en" -> 50, "de" -> 30), defaultPct = 10)
      .orderBy("doc_id")

  private val qSampleStratifiedSql =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ${DuckHash60.format("concat('graft:', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
       |  FROM documents)
       |SELECT doc_id, lang FROM b
       |WHERE bucket < (CASE WHEN lang = 'en' THEN 50
       |                     WHEN lang = 'de' THEN 30 ELSE 10 END)
       |ORDER BY doc_id""".stripMargin

  /** Int8 max-abs quantization summaries over embeddings (exact ints). */
  private def qQuantizeEmbeddings(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.quantizeStats(Tables.embeddings(s, dir))
      .orderBy("vec_id")

  private val qQuantizeEmbeddingsSql =
    s"""WITH $DuckPrepared,
       |m AS (SELECT vec_id, xs,
       |        list_max(list_transform(xs, x -> abs(x))) AS maxabs FROM en2),
       |qq AS (SELECT vec_id, maxabs,
       |         list_transform(xs, x -> ((x + maxabs) * 254) // (2 * maxabs) - 127) AS q
       |       FROM m)
       |SELECT vec_id, maxabs AS maxabs_micros,
       |  CAST(list_min(q) AS BIGINT) AS q_min, CAST(list_max(q) AS BIGINT) AS q_max,
       |  CAST(list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * i)) AS BIGINT) AS q_checksum
       |FROM qq ORDER BY vec_id""".stripMargin

  /** Per-dimension embedding statistics (map-side-combined single
    * exchange — see Similarity.dimStats). */
  private def qEmbeddingDimStats(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.dimStats(Tables.embeddings(s, dir))
      .orderBy("dim")

  private val qEmbeddingDimStatsSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding,
       |       v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xs
       |     FROM embeddings),
       |d AS (SELECT unnest(range(len(xs))) AS dim, unnest(xs) AS v FROM e)
       |SELECT dim, COUNT(*) AS n, MIN(v) AS min_micros, MAX(v) AS max_micros,
       |  CAST(SUM(v) AS BIGINT) AS sum_micros,
       |  CAST(FLOOR(CAST(SUM(v) AS BIGINT) / COUNT(*)) AS BIGINT) AS mean_micros
       |FROM d GROUP BY dim ORDER BY dim""".stripMargin

  /** Exact discrete percentiles of document length per language: the value
    * at rank ceil(p * n) in sorted order — rank arithmetic, not engine
    * interpolation (quantile_cont formulas differ subtly across engines).
    * Ties broken by doc_id for full determinism. */
  private def qDocLengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.documents(s, dir)
      .select(col("lang"), length(col("text")).cast("long").as("n_chars"), col("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    ranked
      .groupBy("lang", "n")
      .agg(
        max(when(col("rk") === expr("(n + 1) div 2"), col("n_chars"))).as("p50_chars"),
        max(when(col("rk") === expr("(n * 9 + 9) div 10"), col("n_chars"))).as("p90_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"), col("n").as("n_docs"), col("p50_chars"),
        col("p90_chars"), col("max_chars"))
      .orderBy("lang")
  }

  /** Sketch-merge variant of the per-language length percentiles: the
    * grouped `percentile_approx` path (operators.Quantiles) instead of the
    * per-group global sort — 5 languages over 100 TB cap the exact form's
    * sort at 5 tasks, while the sketch's map-side partials keep
    * parallelism on the data. Same exactness gate as
    * `q_value_outliers_approx`: `accuracy = 2^22 > n` makes the GK sketch
    * return the value at rank `ceil(p*n)` exactly, so the oracle is the
    * SAME rank-statistic SQL and both queries must agree row-for-row
    * (p=1.0 is rank n, i.e. the max). */
  private def qDocLengthQuantilesApprox(s: SparkSession, dir: String): DataFrame =
    operators.Quantiles.approxQuantiles(
        Tables.documents(s, dir)
          .select(col("lang"), length(col("text")).cast("long").as("n_chars")),
        Seq("lang"), "n_chars", Seq(0.5, 0.9, 1.0), accuracy = 1 << 22)
      .select(col("lang"), col("n").as("n_docs"), col("q_0").as("p50_chars"),
        col("q_1").as("p90_chars"), col("q_2").as("max_chars"))
      .orderBy("lang")

  private val qDocLengthQuantilesSql =
    s"""WITH ranked AS (
       |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY length(text), doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM documents)
       |SELECT lang, n AS n_docs,
       |  MAX(CASE WHEN rk = (n + 1) // 2 THEN n_chars END) AS p50_chars,
       |  MAX(CASE WHEN rk = (n * 9 + 9) // 10 THEN n_chars END) AS p90_chars,
       |  MAX(n_chars) AS max_chars
       |FROM ranked GROUP BY lang, n ORDER BY lang""".stripMargin

  /** Anti/semi-join breadth: documents lacking an embedding row and the
    * count of those that do have one (left_anti + left_semi over the same
    * key). */
  private def qDocsWithoutEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val embKeys = Tables.embeddings(s, dir).select(col("vec_id").as("doc_id"))
    docs.join(embKeys, Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_missing"))
      .join(
        docs.join(embKeys, Seq("doc_id"), "left_semi")
          .groupBy("lang").agg(count(lit(1)).as("n_present")),
        Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        coalesce(col("n_present"), lit(0L)).as("n_present"))
      .orderBy("lang")
  }

  private val qDocsWithoutEmbeddingsSql =
    s"""WITH miss AS (
       |  SELECT lang, COUNT(*) AS n_missing FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
       |  GROUP BY lang),
       |pres AS (
       |  SELECT lang, COUNT(*) AS n_present FROM documents d
       |  WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
       |  GROUP BY lang)
       |SELECT COALESCE(m.lang, p.lang) AS lang,
       |  COALESCE(m.n_missing, 0) AS n_missing,
       |  COALESCE(p.n_present, 0) AS n_present
       |FROM miss m FULL OUTER JOIN pres p ON m.lang = p.lang
       |ORDER BY lang""".stripMargin

  private val DuckFp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

  private def docFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), pipeline.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  private val docFingerprintSql =
    s"SELECT doc_id, $DuckFp AS fingerprint FROM documents ORDER BY doc_id"

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.exact(Tables.documents(s, dir)).orderBy("doc_id")

  private val dedupExactSql =
    s"""WITH fp AS (SELECT doc_id, $DuckFp AS fingerprint FROM documents)
       |SELECT doc_id, fingerprint,
       |  COUNT(*) OVER (PARTITION BY fingerprint) AS group_size,
       |  doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep
       |FROM fp ORDER BY doc_id""".stripMargin

  private def dedupNgramPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.ngramJaccardPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private val dedupNgramPairsSql =
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh2),
       |ex AS (SELECT doc_id, unnest(hs) AS s FROM hsd),
       |rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 10),
       |rex AS (SELECT e.doc_id, e.s FROM ex e JOIN rare r ON e.s = r.s),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM rex a JOIN rex b ON a.s = b.s AND a.doc_id < b.doc_id),
       |res AS (SELECT c.doc_a, c.doc_b,
       |          len(list_intersect(ha.hs, hb.hs)) AS inter,
       |          len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS union_size
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, inter, union_size,
       |       CAST(floor(inter * 100 / union_size) AS BIGINT) AS jaccard_pct
       |FROM res WHERE inter * 100 >= union_size * 30
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Sorted-neighborhood near-dup pairs (Dedup.sortedNeighborhoodPairs):
    * the third blocking family — per-bucket sort by a normalized key
    * prefix, candidates within a rank window of 4, exact-Jaccard
    * verification on the shared hashed-shingle primitive. THREE passes
    * (the literature's multi-pass SNM): prefix key + reversed-text key +
    * mid-rotation key, closing the cross-bucket blind spots for head-,
    * tail-, and both-ends-edited near-dups respectively. The oracle
    * re-derives all three keys, buckets, per-bucket ranks, the windowed
    * candidate joins, their union and the Jaccard verdicts. */
  private def dedupSnmPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private val dedupSnmPairsSql =
    s"""WITH nt AS (SELECT doc_id,
       |    regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt
       |  FROM documents),
       |sk1 AS (SELECT doc_id, sk, substr(sk, 1, 2) AS bucket FROM (
       |    SELECT doc_id, substr(nt, 1, 32) AS sk FROM nt)
       |  WHERE length(sk) > 0),
       |rk AS (SELECT doc_id, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) AS rn
       |  FROM sk1),
       |sk2 AS (SELECT doc_id, sk, substr(sk, 1, 2) AS bucket FROM (
       |    SELECT doc_id, substr(reverse(nt), 1, 32) AS sk FROM nt)
       |  WHERE length(sk) > 0),
       |rk2 AS (SELECT doc_id, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) AS rn
       |  FROM sk2),
       |sk3 AS (SELECT doc_id, sk, substr(sk, 1, 2) AS bucket FROM (
       |    SELECT doc_id, substr(substr(nt, length(nt) // 2 + 1) ||
       |        substr(nt, 1, length(nt) // 2), 1, 32) AS sk FROM nt)
       |  WHERE length(sk) > 0),
       |rk3 AS (SELECT doc_id, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) AS rn
       |  FROM sk3),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |      greatest(a.doc_id, b.doc_id) AS doc_b
       |    FROM rk a JOIN rk b ON b.bucket = a.bucket
       |      AND b.rn > a.rn AND b.rn <= a.rn + 3
       |  UNION ALL
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |      greatest(a.doc_id, b.doc_id) AS doc_b
       |    FROM rk2 a JOIN rk2 b ON b.bucket = a.bucket
       |      AND b.rn > a.rn AND b.rn <= a.rn + 3
       |  UNION ALL
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |      greatest(a.doc_id, b.doc_id) AS doc_b
       |    FROM rk3 a JOIN rk3 b ON b.bucket = a.bucket
       |      AND b.rn > a.rn AND b.rn <= a.rn + 3)),
       |toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh WHERE len(sh) >= 0),
       |res AS (SELECT c.doc_a, c.doc_b,
       |          len(list_intersect(ha.hs, hb.hs)) AS inter,
       |          len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS union_size
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, inter, union_size,
       |       CAST(floor(inter * 100 / union_size) AS BIGINT) AS jaccard_pct
       |FROM res WHERE union_size > 0 AND inter * 100 >= union_size * 30
       |ORDER BY doc_a, doc_b""".stripMargin

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.simhash(Tables.documents(s, dir)).orderBy("doc_id")

  private val dedupSimhashSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS t FROM documents),
       |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
       |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |         FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SimHash banded near-dup pairs: exact recall for hamming <= 3 by the
    * 4-band pigeonhole (see [[pipeline.Dedup.simhashPairs]]). */
  private def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.simhashPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private val dedupSimhashPairsSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS t FROM documents),
       |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
       |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |         FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY 1, 2),
       |sims AS (SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |         FROM bits GROUP BY doc_id),
       |banded AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS key
       |           FROM sims, (SELECT unnest(range(4)) AS b) bands),
       |bsize AS (SELECT b, key FROM banded GROUP BY 1, 2
       |          HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
       |                c.doc_id AS doc_b, c.simhash AS sim_b
       |         FROM banded a
       |         JOIN bsize bs ON a.b = bs.b AND a.key = bs.key
       |         JOIN banded c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash+LSH banded near-dup (the scale path). The whole pipeline is
    * deterministic arithmetic (md5 shingle hashes, LCG permutation
    * constants), so the oracle re-derives signatures, bands, buckets and
    * exact-Jaccard verification bit-for-bit in SQL; recall-vs-brute-force
    * is additionally asserted in DedupSpec. */
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.minhashLshPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private val dedupMinhashLshSql = {
    val P = pipeline.Dedup.P
    val A = (0 until 32).map(pipeline.Dedup.permA).mkString("[", ", ", "]")
    val B = (0 until 32).map(pipeline.Dedup.permB).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hs AS (SELECT doc_id, list_transform(sh,
       |         s -> ${DuckHash60.format("s")} % $P) AS hs FROM sh2),
       |sig AS (SELECT doc_id, list_transform(range(32), j ->
       |         list_min(list_transform(hs, h ->
       |           (list_extract($A, j + 1) * h + list_extract($B, j + 1)) % $P))) AS sig
       |       FROM hs),
       |banded AS (SELECT doc_id, b,
       |         array_to_string(list_transform(range(4),
       |           i -> list_extract(sig, b * 4 + i + 1)), '_') AS key
       |       FROM sig, (SELECT unnest(range(8)) AS b) bs),
       |bsize AS (SELECT b, key FROM banded GROUP BY 1, 2
       |          HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM banded a
       |         JOIN bsize bs ON a.b = bs.b AND a.key = bs.key
       |         JOIN banded c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh2),
       |res AS (SELECT c.doc_a, c.doc_b,
       |          len(list_intersect(ha.hs, hb.hs)) AS inter,
       |          len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS union_size
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |       CAST(floor(inter * 100 / union_size) AS BIGINT) AS jaccard_pct
       |FROM res WHERE inter * 100 >= union_size * 30
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Near-dup cluster resolution over the MinHash pair list: every paired
    * document labeled with its component's smallest doc_id (the canonical
    * keep-one representative). The oracle computes the same components with
    * a recursive transitive-closure CTE over the identical pair SQL — a
    * fully independent algorithm (BFS closure vs min-label propagation)
    * arriving at the same fixpoint, so a propagation bug (missed round,
    * wrong join side, non-monotone update) diverges the hash. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.resolveClusters(
        pipeline.Dedup.minhashLshPairs(Tables.documents(s, dir)))
      .orderBy("doc_id")

  private val dedupClustersSql =
    s"""WITH RECURSIVE pairs AS ($dedupMinhashLshSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** The end-to-end near-dedup decision: the corpus with every non-canonical
    * cluster member dropped (keep the smallest doc_id per component). This
    * is what a training pipeline actually consumes — pairs and clusters are
    * the evidence, this is the verdict. One anti-join against the (small)
    * set of dropped ids; the corpus side never shuffles by anything but its
    * own key. */
  private def dedupKeepCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = pipeline.Dedup.resolveClusters(
      pipeline.Dedup.minhashLshPairs(docs))
    val dropped = clusters.where(col("doc_id") =!= col("cluster_id"))
    docs.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  private val dedupKeepCanonicalSql =
    s"""WITH RECURSIVE pairs AS ($dedupMinhashLshSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |         FROM reach GROUP BY u)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM comp c
       |                  WHERE c.doc_id = d.doc_id AND c.cluster_id <> c.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Benchmark decontamination over the documents table: every 97th doc
    * plays the eval set, the rest the corpus; flagged = sharing >= 3
    * distinct 3-shingles with any benchmark doc. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    pipeline.Dedup.contamination(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0))
      .orderBy("doc_id")
  }

  private val qContaminationSql =
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hs AS (SELECT doc_id, list_transform(sh,
       |         s -> ${DuckHash60.format("s")}) AS hs FROM sh2),
       |bench AS (SELECT DISTINCT h FROM (
       |            SELECT unnest(hs) AS h FROM hs WHERE doc_id % 97 = 0)),
       |expl AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE doc_id % 97 <> 0),
       |hits AS (SELECT e.doc_id, COUNT(*) AS n_shared
       |         FROM expl e JOIN bench b USING (h) GROUP BY e.doc_id)
       |SELECT doc_id, n_shared FROM hits WHERE n_shared >= 3
       |ORDER BY doc_id""".stripMargin

  private def embeddingNeardupExact(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.nearDupExact(Tables.embeddings(s, dir), tauPct = 40)
      .orderBy("vec_a", "vec_b")

  private val embeddingNeardupExactSql =
    s"""WITH $DuckPrepared,
       |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |            a.xs AS xs_a, b.xs AS xs_b, a.norm2 AS n_a, b.norm2 AS n_b
       |          FROM en2 a JOIN en2 b ON a.vec_id < b.vec_id),
       |d AS (SELECT vec_a, vec_b,
       |        CAST(list_sum(list_transform(range(1, len(xs_a) + 1), i -> xs_a[i] * xs_b[i])) AS BIGINT) AS dot,
       |        n_a, n_b
       |      FROM pairs)
       |SELECT vec_a, vec_b, dot, n_a, n_b FROM d
       |WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 10000
       |      >= CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) * 1600
       |ORDER BY vec_a, vec_b""".stripMargin

  private def annCosineTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.bruteTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annCosineTopkSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs AS xs_q, norm2 AS n_q FROM en2 WHERE vec_id % 50 = 0),
       |p AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
       |        CAST(list_sum(list_transform(range(1, len(xs_q) + 1), i -> xs_q[i] * e2.xs[i])) AS BIGINT) AS dot,
       |        q.n_q, e2.norm2 AS n
       |      FROM q JOIN en2 e2 ON e2.vec_id <> q.query_id),
       |c AS (SELECT query_id, neighbor_id,
       |        CAST(dot AS DOUBLE) / (sqrt(CAST(n_q AS DOUBLE)) * sqrt(CAST(n AS DOUBLE))) AS cos
       |      FROM p),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |      FROM c)
       |SELECT query_id, rk, neighbor_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Composite training-data pipeline: quality filter -> exact-dedup
    * keep-first -> deterministic 50% sample, rolled up per language. The
    * end-to-end shape a corpus-cleaning job runs; every stage is one of the
    * library operators composing on DataFrames. */
  private def qCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val stats = pipeline.TextAnalysis.textStats(Tables.documents(s, dir))
      .where(col("quality_ok"))
      .select("doc_id", "n_tokens")
    val kept = pipeline.Dedup.exact(Tables.documents(s, dir))
      .where(col("keep")).select("doc_id")
    val sampled = pipeline.Sampling.hashSample(
      stats.join(kept, "doc_id"), col("doc_id"), 50)
    Tables.documents(s, dir).select("doc_id", "lang")
      .join(sampled, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("lang")
  }

  private val qCleanCorpusSql = {
    val stop = pipeline.TextAnalysis.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH st AS (
       |  SELECT doc_id, lang, len($DuckToks) AS n_tokens,
       |    len(list_filter($DuckToks, t -> list_contains($stop, t))) AS stopword_count,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_count,
       |    length(text) AS n_chars,
       |    $DuckFp AS fingerprint
       |  FROM documents),
       |ok AS (
       |  SELECT * FROM st
       |  WHERE n_tokens >= 5 AND n_tokens <= 100000
       |    AND stopword_count * 100 >= n_tokens * 2
       |    AND punct_count * 10 <= n_chars),
       |kept AS (
       |  SELECT doc_id, lang, n_tokens FROM (
       |    SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep
       |    FROM st) WHERE keep),
       |sampled AS (
       |  SELECT o.doc_id, o.lang, o.n_tokens
       |  FROM ok o JOIN kept k ON o.doc_id = k.doc_id
       |  WHERE ${DuckHash60.format("concat('graft:', CAST(o.doc_id AS VARCHAR))")} % 100 < 50)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Curation-funnel retention report (Curation.retentionReport): doc and
    * token survival through raw -> exact-dedup -> quality -> 50% sample,
    * as counts and basis points of raw. The per-doc flags relation is
    * computed once (textStats projection + Dedup.exact's fingerprint
    * window); the report itself is ONE keyless conditional aggregate +
    * a 1-row unpivot — never one corpus scan per stage. */
  private def qCurationReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val flags = pipeline.TextAnalysis.textStats(docs)
      .select("doc_id", "n_tokens", "quality_ok")
      .join(pipeline.Dedup.exact(docs).select("doc_id", "keep"), "doc_id")
    pipeline.Curation.retentionReport(flags, col("n_tokens"), Seq(
        "raw" -> lit(true),
        "deduped" -> col("keep"),
        "quality" -> (col("keep") && col("quality_ok")),
        "sampled" -> (col("keep") && col("quality_ok") &&
          (pipeline.Sampling.bucket(col("doc_id"), "graft") < 50))))
      .orderBy("stage_idx")
  }

  private val qCurationReportSql = {
    val stop = pipeline.TextAnalysis.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH st AS (
       |  SELECT doc_id, len($DuckToks) AS n_tokens,
       |    len(list_filter($DuckToks, t -> list_contains($stop, t))) AS stopword_count,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_count,
       |    length(text) AS n_chars,
       |    $DuckFp AS fingerprint
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, n_tokens,
       |    (n_tokens >= 5 AND n_tokens <= 100000
       |      AND stopword_count * 100 >= n_tokens * 2
       |      AND punct_count * 10 <= n_chars) AS quality_ok,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep,
       |    ${DuckHash60.format("concat('graft:', CAST(doc_id AS VARCHAR))")} % 100 < 50 AS sampled
       |  FROM st),
       |u AS (
       |  SELECT 0 AS i, 'raw' AS stage, COUNT(*) AS n_docs,
       |    COALESCE(SUM(n_tokens), 0) AS tt FROM f
       |  UNION ALL SELECT 1, 'deduped', COUNT(*), COALESCE(SUM(n_tokens), 0)
       |    FROM f WHERE keep
       |  UNION ALL SELECT 2, 'quality', COUNT(*), COALESCE(SUM(n_tokens), 0)
       |    FROM f WHERE keep AND quality_ok
       |  UNION ALL SELECT 3, 'sampled', COUNT(*), COALESCE(SUM(n_tokens), 0)
       |    FROM f WHERE keep AND quality_ok AND sampled),
       |r AS (SELECT n_docs AS rd, tt AS rt FROM u WHERE i = 0)
       |SELECT CAST(i AS BIGINT) AS stage_idx, stage, n_docs,
       |  CAST(tt AS BIGINT) AS total_tokens,
       |  CAST(n_docs * 10000 // rd AS BIGINT) AS docs_bp,
       |  CAST(tt * 10000 // rt AS BIGINT) AS tokens_bp
       |FROM u, r ORDER BY stage_idx""".stripMargin
  }

  /** Exact cross-engine cosine: dot/(sqrt*sqrt) over exact integer inputs
    * uses only IEEE-correctly-rounded double ops, so Spark and DuckDB agree
    * bit-for-bit. `%s`/`%s` are the two (xs, norm2) operand prefixes. */
  private def duckCos(ax: String, an: String, bx: String, bn: String,
                      lam: String = "i") =
    s"""CAST(list_sum(list_transform(range(1, len($ax) + 1), $lam -> $ax[$lam] * $bx[$lam])) AS DOUBLE)
       | / (sqrt(CAST($an AS DOUBLE)) * sqrt(CAST($bn AS DOUBLE)))""".stripMargin

  /** IVF-bucketed ANN (the inverted-file scale path). Centroid selection,
    * assignment and probing are all deterministic functions of the data
    * (stride sampling + exact-int cosine), so the full inverted-file search
    * is re-derived in SQL; recall-vs-brute-force additionally asserted in
    * SimilaritySpec.
    *
    * CALIBRATION-ONLY configuration: the 16-centroid pin exists so the
    * DuckDB mirror stays cheap to evaluate; a fixed bucket count makes
    * probed lists grow linearly with the corpus (24-30x wall at 100x
    * data, r11 sweep). The production sizing is `ann_ivf_scaled_topk`
    * ([[annIvfScaledTopk]]), which gates the same pipeline at
    * `Ivf.autoCentroids` = max(16, floor(sqrt(n))) buckets. */
  private def annIvfTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** The PRODUCTION IVF sizing under the full oracle: identical pipeline
    * to [[annIvfTopk]] but with the centroid count scaling as
    * max(16, floor(sqrt(n))) (`Ivf.autoCentroids`), so probed-list size
    * grows as ~nprobe*sqrt(n) instead of linearly. The oracle evaluates
    * the SAME floor-sqrt rule in SQL (IEEE sqrt + floor agree across
    * engines) and re-derives stride centroids, assignment, probing and
    * ranking at that k — amplification grows the oracle's k in lockstep,
    * so this gate stays meaningful at every scale instead of pinning a
    * calibration constant. */
  private def annIvfScaledTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0,
        nCentroids = 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** `Ivf.autoCentroids` in DuckDB: evaluated in aggregate context over
    * the prepared relation. */
  private val duckAutoK =
    "GREATEST(16, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))"

  private val annIvfScaledTopkSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked", duckAutoK)}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The shared plain-IVF search CTE chain (stride centroids, assignment,
    * nprobe probing, ranking) over an already-defined `$q` query CTE
    * (columns query_id, xs, norm2); emits `$ranked`
    * (query_id, neighbor_id, cos, rk). Interpolated by the plain-IVF,
    * recall-evaluation and hard-negatives oracles so the three cannot
    * silently diverge. `kExpr` is the centroid count as a SQL expression
    * evaluated in aggregate context over `en3` — "16" for the
    * calibration gates, the floor-sqrt spelling (mirroring
    * `Ivf.autoCentroids`) for the scale-proportional gate. `centWhere`
    * restricts the centroid TRAINING corpus (stride selection, sizing
    * and count all evaluate over `enc`) while assignment and search stay
    * corpus-wide — "TRUE" for the one-shot gates, the ledger predicate
    * for the standing-index refresh gate whose centroids are frozen at
    * build time. `invWhere` restricts the ASSIGNED corpus (`env` — the
    * inverted file's contents): the admission gate searches a
    * ledger-only index with out-of-index queries, so its `inv` must hold
    * ledger vectors only. */
  private def duckIvfSearch(q: String, ranked: String,
                            kExpr: String = "16",
                            centWhere: String = "TRUE",
                            invWhere: String = "TRUE"): String =
    s"""en3 AS (SELECT vec_id, xs, norm2,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM en2),
       |enc AS (SELECT vec_id, xs, norm2,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM en2
       |        WHERE $centWhere),
       |env AS (SELECT vec_id, xs, norm2 FROM en2 WHERE $invWhere),
       |params AS (SELECT GREATEST(1, COUNT(*) // ($kExpr)) AS stride,
       |           ($kExpr) AS kc FROM enc),
       |cents AS (SELECT (idx // stride) AS centroid_id, vec_id, xs, norm2
       |          FROM enc, params WHERE idx % stride = 0 AND idx // stride < kc),
       |ac AS (SELECT v.vec_id, c.centroid_id, ${duckCos("v.xs", "v.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM env v, cents c),
       |assigned AS (SELECT vec_id, centroid_id FROM (
       |         SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM ac) WHERE rn = 1),
       |inv AS (SELECT a.centroid_id, v.vec_id, v.xs, v.norm2
       |        FROM assigned a JOIN env v ON a.vec_id = v.vec_id),
       |qc AS (SELECT $q.query_id, c.centroid_id, ${duckCos(s"$q.xs", s"$q.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM $q, cents c),
       |probes AS (SELECT query_id, centroid_id FROM (
       |         SELECT query_id, centroid_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM qc) WHERE rn <= 4),
       |scored AS (SELECT p.query_id, i.vec_id AS neighbor_id,
       |         ${duckCos("qv.xs", "qv.norm2", "i.xs", "i.norm2", "i2")} AS cos
       |       FROM probes p
       |       JOIN $q qv ON qv.query_id = p.query_id
       |       JOIN inv i ON i.centroid_id = p.centroid_id AND i.vec_id <> p.query_id),
       |$ranked AS (SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |       FROM scored)""".stripMargin

  private val annIvfTopkSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked")}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** ANN through a MAINTAINED standing inverted file
    * ([[pipeline.Ivf.IvfIndex]]): build on half the corpus (centroids
    * trained and FROZEN there, auto-sized from the ledger count), fold
    * in the other half via [[pipeline.Ivf.refreshIndex]] — only the
    * batch is assigned, the standing corpus is never re-read — then
    * serve the [[annIvfTopk]] query workload from the refreshed index.
    * The oracle re-derives exactly that contract: stride centroids over
    * the LEDGER predicate, assignment and search over the full corpus
    * (`duckIvfSearch(centWhere = ...)`), so a refresh that re-trained,
    * dropped a batch vector, or double-assigned fails the hash.
    * SimilaritySpec additionally pins refresh == rebuild-under-frozen-
    * centroids relation-for-relation plus the drift-trigger arithmetic. */
  private def annIvfIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 5))
    val idx = pipeline.Ivf.refreshIndex(idx0,
      embs.where(col("vec_id") % 10 >= 5))
    idx0.release()
    val out = pipeline.Ivf.searchIndexTopK(idx, col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx.release()
    out
  }

  private val annIvfIndexRefreshSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked", duckAutoK, "vec_id % 10 < 5")}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The FULL standing-index lifecycle, drift trigger driving the
    * retrain ([[pipeline.Ivf.maintainIndex]]): build on 30% of the
    * corpus, fold in a 30% batch — drift hits ~0.5 ≥ the 0.4 threshold,
    * so maintenance RETRAINS (centroids re-trained and re-sized on the
    * 60% corpus, everything re-assigned) and hot-swaps — then a further
    * 40% refresh lands under the retrained frozen centroids, and the
    * [[annIvfTopk]] workload is served across the swap boundary. The
    * `require` makes the gate self-verifying: if the trigger ever fails
    * to fire, the query errors instead of silently matching a weaker
    * contract. The oracle re-derives the cross-boundary contract
    * exactly — stride centroids + auto-k over the RETRAIN-POINT corpus
    * (`vec_id % 10 < 6`), assignment and search corpus-wide — so a
    * retrain that kept stale centroids, mis-sized k, dropped a vector,
    * or re-assigned under the wrong generation fails the hash.
    * (Verdict-r14 items 1 + 6: retrain arc and the
    * refresh → retrain → refresh boundary in one gate.) */
  private def annIvfRetrain(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 3))
    val idx1 = pipeline.Ivf.maintainIndex(idx0,
      embs.where(col("vec_id") % 10 >= 3 && col("vec_id") % 10 < 6),
      maxNewFraction = 0.4)
    idx0.release()
    require(idx1.nSinceTrain == 0L,
      "ann_ivf_retrain fixture: the drift trigger did not fire")
    val idx2 = pipeline.Ivf.refreshIndex(idx1,
      embs.where(col("vec_id") % 10 >= 6))
    idx1.release()
    val out = pipeline.Ivf.searchIndexTopK(idx2, col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx2.release()
    out
  }

  private val annIvfRetrainSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked", duckAutoK, "vec_id % 10 < 6")}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** IVF served from a PERSISTED index generation: build on the ledger
    * half, [[pipeline.Ivf.saveIndex]] to a directory, release the
    * in-memory generation, [[pipeline.Ivf.loadIndex]] it back, refresh
    * the other half ONTO THE LOADED INDEX, and serve the [[annIvfTopk]]
    * workload — the process-restart arc a fleet-scale serving story
    * needs (every other standing index here is directory-backed; this
    * gate pins that the ANN tier's round-trip is exact: a lost vector,
    * a reordered centroid array, or reset drift counters all change the
    * search result or the refresh behavior and fail the hash). Shares
    * [[annIvfIndexRefreshSql]] verbatim — persistence must be
    * observationally invisible. */
  private def annIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("ivf_index", dir)
    deleteRecursively(idxDir)
    val embs = Tables.embeddings(s, dir)
    val built = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 5))
    pipeline.Ivf.saveIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Ivf.loadIndex(s, idxDir.getPath)
    val idx = pipeline.Ivf.refreshIndex(loaded,
      embs.where(col("vec_id") % 10 >= 5))
    loaded.release()
    val out = pipeline.Ivf.searchIndexTopK(idx, col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx.release()
    out
  }

  /** Embedding-dedup ADMISSION against a standing ledger IVF index
    * ([[pipeline.Ivf.indexAdmit]] — the vector twin of
    * dedup_incremental_neardup): every batch vector probes its 4 nearest
    * frozen ledger-trained buckets and is a near-dup iff its best
    * candidate cosine reaches 40% (the corpus's established similarity
    * bar, embedding_neardup_* precedent; floored-micros threshold, exact
    * cross-engine). The oracle re-derives ledger-only centroids AND a
    * ledger-only inverted file (`duckIvfSearch(centWhere, invWhere)`),
    * out-of-index queries, rank-1 candidate, threshold and the admitted
    * left join. The streaming twin
    * ([[graft.streaming.StreamingVectorDedup]]) is equivalence-gated
    * against the same batch operator in StreamingSpec. */
  private def embeddingAdmitIndexed(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 5))
    val out = pipeline.Ivf.indexAdmit(
        embs.where(col("vec_id") % 10 >= 5), idx, tauPct = 40)
      .orderBy("vec_id")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx.release()
    out
  }

  private val embeddingAdmitIndexedSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 10 >= 5),
       |${duckIvfSearch("q", "ranked", duckAutoK, "vec_id % 10 < 5", "vec_id % 10 < 5")},
       |best AS (SELECT query_id, neighbor_id,
       |         CAST(floor(cos * 1000000) AS BIGINT) AS cm
       |       FROM ranked WHERE rk = 1)
       |SELECT d.vec_id,
       |  CASE WHEN b.cm IS NOT NULL AND b.cm >= 400000
       |       THEN 'near_dup' ELSE 'admitted' END AS verdict,
       |  CASE WHEN b.cm IS NOT NULL AND b.cm >= 400000
       |       THEN b.neighbor_id END AS near_dup_of,
       |  CASE WHEN b.cm IS NOT NULL AND b.cm >= 400000
       |       THEN b.cm END AS cos_micros
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 >= 5) d
       |LEFT JOIN best b ON b.query_id = d.vec_id
       |ORDER BY d.vec_id""".stripMargin

  /** IVF with Lloyd-refined centroids (2 exact-arithmetic k-means
    * iterations over the stride init: double-cosine assignment with
    * low-index tie-break, per-component floor-div integer-micros means).
    * Every step is a deterministic function of the data, so the oracle
    * re-derives the full train-then-search pipeline — both k-means
    * iterations unrolled as CTEs — and any drift in assignment, mean
    * arithmetic, empty-cluster handling, probing, or ranking fails the
    * hash. */
  private def annIvfKmeansTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0,
        refineIters = 2)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** The PRODUCTION Lloyd-refined IVF sizing: the [[annIvfKmeansTopk]]
    * pipeline at `Ivf.autoCentroids` buckets (the scaled twin of
    * [[annIvfScaledTopk]] — same sqrt rule, but exercising the k-means
    * refinement path at scale-proportional k). The oracle unrolls both
    * Lloyd iterations at the SQL-evaluated floor-sqrt k, so assignment,
    * floor-div mean arithmetic, empty-cluster handling, probing and
    * ranking are all re-derived at whatever k the corpus implies. */
  private def annIvfKmeansScaledTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0,
        nCentroids = 0, refineIters = 2)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** One unrolled Lloyd iteration: assign every TRAINING-SAMPLE vector
    * (the Bresenham-spread `(idx * tr) % n < tr` slice with
    * tr = min(n, 32·k), mirroring `Ivf.refinedCentroids`'s O(n) training
    * bound — the full corpus is only assigned once, by the final
    * `assigned` CTE) to its max-cosine
    * centroid (ties to the lower centroid id), then per-component
    * floor-div mean in micros; empty clusters keep the previous centroid;
    * zero-norm means are replaced at the END (matching the Scala fallback
    * to the stride init, applied once after all iterations). */
  // DuckDB's `//` TRUNCATES toward zero when the numerator is the HUGEINT
  // a SUM(BIGINT) produces (verified empirically; BIGINT `//` floors), so
  // the centroid mean must subtract 1 for negative non-exact quotients to
  // reproduce the engine's Math.floorDiv. Latent until round 7: assignment
  // and probe order are insensitive to a ±1-micro centroid shift, so every
  // kmeans oracle passed — prototypicality is the first query that
  // hash-compares a value *derived from the centroid components*.
  // Same mod-subtract spelling the PQ residual-kmeans oracle uses.
  private def duckFloorDiv(num: String, den: String): String =
    s"(($num - (($num % $den + $den) % $den)) // $den)"

  private def duckLloyd(inCents: String, out: String): String =
    s"""ac_$out AS (SELECT v.vec_id, v.xs, c.centroid_id,
       |         ${duckCos("v.xs", "v.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM train v, $inCents c
       |       WHERE c.norm2 > 0),
       |asg_$out AS (SELECT vec_id, xs, centroid_id FROM (
       |         SELECT vec_id, xs, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM ac_$out) WHERE rn = 1),
       |comp_$out AS (SELECT centroid_id, i,
       |           CAST(${duckFloorDiv("SUM(xs[i])", "COUNT(*)")} AS BIGINT) AS m
       |         FROM asg_$out, range(1, 65) t(i)
       |         GROUP BY centroid_id, i),
       |newc_$out AS (SELECT centroid_id, list(m ORDER BY i) AS xs
       |         FROM comp_$out GROUP BY centroid_id),
       |$out AS (SELECT c.centroid_id,
       |           COALESCE(n.xs, c.xs) AS xs,
       |           CAST(list_sum(list_transform(range(1, 65),
       |             i -> COALESCE(n.xs, c.xs)[i] * COALESCE(n.xs, c.xs)[i])) AS BIGINT) AS norm2
       |         FROM $inCents c LEFT JOIN newc_$out n USING (centroid_id))""".stripMargin

  /** Shared oracle CTE chain for every kmeans-backed query: deterministic
    * 2-iteration Lloyd over stride-seeded centroids, the per-vector
    * max-cosine assignment, and the inverted file `inv(centroid_id, vec_id,
    * xs, norm2)`. Appended after `$DuckPrepared` by the IVF-kmeans search,
    * SemDeDup, and prototypicality oracles. `kExpr` mirrors
    * [[duckIvfSearch]]: "16" (the default) pins the calibration gates;
    * the floor-sqrt spelling gives the scale-proportional gate. */
  private def duckKmeansAssigned(kExpr: String = "16"): String =
    s"""en3 AS (SELECT vec_id, xs, norm2,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM en2),
       |params AS (SELECT GREATEST(1, COUNT(*) // ($kExpr)) AS stride,
       |           ($kExpr) AS kc, COUNT(*) AS n,
       |           LEAST(COUNT(*), 32 * ($kExpr)) AS tr FROM en3),
       |cents0 AS (SELECT (idx // stride) AS centroid_id, xs, norm2
       |          FROM en3, params WHERE idx % stride = 0 AND idx // stride < kc),
       |train AS (SELECT v.vec_id, v.xs, v.norm2
       |          FROM en3 v, params WHERE (v.idx * tr) % n < tr),
       |${duckLloyd("cents0", "cents1")},
       |${duckLloyd("cents1", "cents2")},
       |cents AS (SELECT c.centroid_id,
       |          CASE WHEN c.norm2 > 0 THEN c.xs ELSE c0.xs END AS xs,
       |          CASE WHEN c.norm2 > 0 THEN c.norm2 ELSE c0.norm2 END AS norm2
       |        FROM cents2 c JOIN cents0 c0 USING (centroid_id)),
       |ac AS (SELECT v.vec_id, c.centroid_id, ${duckCos("v.xs", "v.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM en3 v, cents c),
       |assigned AS (SELECT vec_id, centroid_id FROM (
       |         SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM ac) WHERE rn = 1),
       |inv AS (SELECT a.centroid_id, v.vec_id, v.xs, v.norm2
       |        FROM assigned a JOIN en3 v ON a.vec_id = v.vec_id)""".stripMargin

  /** The full kmeans-IVF search oracle at a given centroid-count
    * expression — shared by the fixed-16 calibration gate and the
    * floor-sqrt scale-proportional gate so the two cannot diverge. */
  private def duckKmeansSearchSql(kExpr: String): String =
    s"""WITH $DuckPrepared,
       |${duckKmeansAssigned(kExpr)},
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |qc AS (SELECT q.query_id, c.centroid_id, ${duckCos("q.xs", "q.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM q, cents c),
       |probes AS (SELECT query_id, centroid_id FROM (
       |         SELECT query_id, centroid_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM qc) WHERE rn <= 4),
       |scored AS (SELECT p.query_id, i.vec_id AS neighbor_id,
       |         ${duckCos("qv.xs", "qv.norm2", "i.xs", "i.norm2", "i2")} AS cos
       |       FROM probes p
       |       JOIN q qv ON qv.query_id = p.query_id
       |       JOIN inv i ON i.centroid_id = p.centroid_id AND i.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |       FROM scored)
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private val annIvfKmeansTopkSql = duckKmeansSearchSql("16")

  private val annIvfKmeansScaledTopkSql = duckKmeansSearchSql(duckAutoK)

  /** SemDeDup over the embeddings table: kmeans-cluster, then drop every
    * vector with an earlier within-cluster near-dup at cosine >= 0.40 (the
    * corpus's neardup-LSH threshold). The kmeans/assignment prefix is the
    * proven IVF-kmeans chain; the pruning verdict is re-derived by the
    * oracle as EXISTS over the within-cluster pair relation in exact
    * HUGEINT arithmetic. */
  private def qSemdedup(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.semDedup(Tables.embeddings(s, dir)).orderBy("vec_id")

  private val qSemdedupSql =
    s"""WITH $DuckPrepared,
       |${duckKmeansAssigned()},
       |sd_pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |          CAST(list_sum(list_transform(range(1, 65), i -> a.xs[i] * b.xs[i])) AS BIGINT) AS dot,
       |          a.norm2 AS n_a, b.norm2 AS n_b
       |        FROM inv a JOIN inv b
       |          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
       |sd_dropped AS (SELECT DISTINCT vec_b AS vec_id FROM sd_pairs
       |        WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 10000
       |          >= CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) * 1600)
       |SELECT i.vec_id, i.centroid_id, (d.vec_id IS NULL) AS keep
       |FROM inv i LEFT JOIN sd_dropped d ON i.vec_id = d.vec_id
       |ORDER BY i.vec_id""".stripMargin

  /** Prototype-based pruning score: cosine-to-own-centroid in floored
    * micros, ranked per cluster. Ranks compare the floored integer (not the
    * raw double) so the oracle re-derives the exact order. */
  private def qProtoRank(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.prototypicality(Tables.embeddings(s, dir)).orderBy("vec_id")

  private val qProtoRankSql =
    s"""WITH $DuckPrepared,
       |${duckKmeansAssigned()},
       |pr AS (SELECT i.vec_id, i.centroid_id,
       |         CAST(floor(${duckCos("i.xs", "i.norm2", "c.xs", "c.norm2", "i2")} * 1000000) AS BIGINT) AS proto_micros
       |       FROM inv i JOIN cents c USING (centroid_id))
       |SELECT vec_id, centroid_id, proto_micros,
       |       row_number() OVER (PARTITION BY centroid_id
       |         ORDER BY proto_micros DESC, vec_id) AS rk
       |FROM pr ORDER BY vec_id""".stripMargin

  /** Banded-SRP near-dup. Hyperplanes are md5-derived literals and the
    * accept rule is exact integer arithmetic, so the oracle reproduces
    * band bucketing and verification exactly; recall additionally asserted
    * in SimilaritySpec. The banding geometry is PINNED
    * (`planesPerBand = planesFor(500)` — what auto-sizing yields on the
    * sf0.01 gate corpus) so the gate is sf-INVARIANT: the oracle bakes
    * the plane literals, and an unpinned call would silently re-size at
    * a larger sf and diverge (seen in the r10 sf0.1 selfcheck before the
    * pin). Auto-sizing itself stays covered by SimilaritySpec. The pin
    * cascades to embedding_clusters and q_hard_negatives, which build on
    * this pair relation. */
  private def embeddingNeardupLsh(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.lshNearDup(Tables.embeddings(s, dir), dim = 64,
        tauPct = 40, planesPerBand = pipeline.Similarity.planesFor(500L))
      .orderBy("vec_a", "vec_b")

  private val embeddingNeardupLshSql = {
    // bands=8; planesPerBand = planesFor(500) = 4 — the auto-sizing the
    // Spark side computes for the sf0.01 oracle corpus
    val bands = 8
    val r = pipeline.Similarity.planesFor(500L)
    val banded = (0 until bands).map { b =>
      val keyExpr = (0 until r).map { j =>
        val plane = pipeline.Similarity.srpPlane(b * r + j, 64).mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(1, len(xs) + 1), " +
          s"i -> xs[i] * list_extract($plane, i))) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, xs, norm2, $b AS band, ($keyExpr) AS key FROM en2"
    }.mkString("\nUNION ALL\n")
    s"""WITH $DuckPrepared,
       |banded AS (
       |$banded),
       |bsz AS (SELECT band, key, COUNT(*) AS n FROM banded GROUP BY band, key),
       |ok AS (SELECT b.* FROM banded b JOIN bsz USING (band, key)
       |       WHERE bsz.n BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |            a.xs AS xa, b.xs AS xb, a.norm2 AS n_a, b.norm2 AS n_b
       |          FROM ok a JOIN ok b
       |            ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |scored AS (SELECT vec_a, vec_b,
       |            CAST(list_sum(list_transform(range(1, len(xa) + 1),
       |              i -> xa[i] * xb[i])) AS BIGINT) AS dot, n_a, n_b
       |          FROM cand)
       |SELECT vec_a, vec_b, dot FROM scored
       |WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 10000
       |      >= CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) * 1600
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Cluster resolution over the *embedding* near-dup pairs — the same
    * generic connected-components operator as dedup_clusters, applied to a
    * different edge relation (semantic near-dups instead of lexical). */
  private def embeddingClusters(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.resolveClusters(
        pipeline.Similarity.lshNearDup(Tables.embeddings(s, dir), dim = 64,
        tauPct = 40, planesPerBand = pipeline.Similarity.planesFor(500L))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  // NB: the outer CTE must not be named `pairs` — the nested LSH SQL defines
  // its own `pairs`, and under WITH RECURSIVE the outer name is visible
  // inside the nested subquery, silently shadowing it to an empty relation.
  private val embeddingClustersSql =
    s"""WITH RECURSIVE nd_pairs AS ($embeddingNeardupLshSql),
       |edges AS (SELECT vec_a AS u, vec_b AS v FROM nd_pairs
       |          UNION SELECT vec_b, vec_a FROM nd_pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin

  /** The flagship end-to-end training-corpus pipeline: hold out the
    * benchmark slice, keep quality-passing docs, exact keep-first dedup,
    * drop non-canonical near-dup cluster members, drop benchmark-
    * contaminated docs, and summarize the surviving mixture per language.
    * Every stage is an oracle-proven operator; the composition is semi/anti
    * joins against small per-stage decision relations, so the corpus side
    * stays narrow and each stage's shuffle shape is unchanged from its
    * standalone query. */
  private def qTrainingCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.where(col("doc_id") % 97 =!= 0)
    val bench = docs.where(col("doc_id") % 97 === 0)
    val quality = pipeline.TextAnalysis.textStats(docs)
      .where(col("quality_ok")).select("doc_id")
    val keepFirst = pipeline.Dedup.exact(docs).where(col("keep")).select("doc_id")
    val nonCanonical = pipeline.Dedup.resolveClusters(
        pipeline.Dedup.minhashLshPairs(docs))
      .where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val contaminated = pipeline.Dedup.contamination(corpus, bench).select("doc_id")
    corpus
      .join(quality, Seq("doc_id"), "left_semi")
      .join(keepFirst, Seq("doc_id"), "left_semi")
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** CTE names are disjoint from those inside the nested MinHash SQL —
    * under WITH RECURSIVE the outer names are visible inside nested
    * subqueries and would silently shadow same-named inner CTEs. */
  private val qTrainingCorpusSql = {
    val stop = pipeline.TextAnalysis.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE mh_pairs AS ($dedupMinhashLshSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs
       |          UNION SELECT doc_b, doc_a FROM mh_pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |noncanon AS (SELECT u AS doc_id FROM reach
       |             GROUP BY u HAVING LEAST(u, MIN(v)) <> u),
       |q_ok AS (SELECT doc_id FROM documents
       |         WHERE len($DuckToks) >= 5 AND len($DuckToks) <= 100000
       |           AND len(list_filter($DuckToks, t -> list_contains($stop, t))) * 100
       |               >= len($DuckToks) * 2
       |           AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 10
       |               <= length(text)),
       |fpx AS (SELECT doc_id, $DuckFp AS f FROM documents),
       |keepfirst AS (SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS m FROM fpx)
       |  WHERE doc_id = m),
       |ct_toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |ct_sh AS (SELECT doc_id, list_distinct(list_transform(
       |            range(1, greatest(len(t) - 2, 0) + 1),
       |            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM ct_toks),
       |ct_sh2 AS (SELECT * FROM ct_sh WHERE len(sh) > 0),
       |ct_hs AS (SELECT doc_id, list_transform(sh,
       |            s -> ${DuckHash60.format("s")}) AS hs FROM ct_sh2),
       |ct_bench AS (SELECT DISTINCT h FROM (
       |               SELECT unnest(hs) AS h FROM ct_hs WHERE doc_id % 97 = 0)),
       |ct_expl AS (SELECT doc_id, unnest(hs) AS h FROM ct_hs WHERE doc_id % 97 <> 0),
       |contaminated AS (SELECT e.doc_id FROM ct_expl e JOIN ct_bench b USING (h)
       |                 GROUP BY e.doc_id HAVING COUNT(*) >= 3)
       |SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
       |FROM documents d
       |JOIN q_ok USING (doc_id)
       |JOIN keepfirst USING (doc_id)
       |WHERE d.doc_id % 97 <> 0
       |  AND NOT EXISTS (SELECT 1 FROM noncanon n WHERE n.doc_id = d.doc_id)
       |  AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  /** Real-decode gate: payloads are genuine BMP/WAV/GVF1 files encoded from
    * the text bytes; the Spark side PARSES them (headers, strides, chunk
    * walks) and the oracle predicts every decoded value — geometry, byte
    * counts, and the checksum over decoded pixels/samples — from pure byte
    * arithmetic (`ascii(substring(...))` per char; the fixture corpus is
    * all-ASCII so char code = byte). A header/stride/offset parsing bug on
    * the Spark side changes the checksum and fails the hash. */
  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.extractFeatures(s,
        pipeline.Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select("doc_id", "kind", "n_bytes", "width", "height", "channels",
        "resized_width", "resized_height", "checksum")
      .orderBy("doc_id")

  /** Cyclic fill: payload content byte j = text byte (j mod n), so the sum
    * of P content bytes = floor(P/n) * total + prefix_sum(P mod n). */
  private def duckCycSum(p: String): String =
    s"(($p) // n) * s + COALESCE(list_sum(list_slice(bs, 1, ($p) % n)), 0)"

  private val multimodalFeaturesSql =
    s"""WITH bytes AS (
       |  -- empty text is padded to one 0 byte, mirroring mediaTable's
       |  -- `if (raw.isEmpty) Array[Byte](0)` branch
       |  SELECT doc_id, GREATEST(1, length(text)) AS n,
       |    CASE WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
       |         ELSE list_transform(range(1, length(text) + 1),
       |           i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) END AS bs
       |  FROM documents),
       |geom AS (
       |  SELECT doc_id, n, bs, list_sum(bs) AS s,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    8 + n % 24 AS iw,
       |    GREATEST(1, LEAST(40, n // (3 * (8 + n % 24)))) AS ih,
       |    8 + n % 16 AS vw, 8 + (n * 3) % 16 AS vh, 1 + n % 5 AS vf
       |  FROM bytes),
       |calc AS (
       |  SELECT doc_id, kind,
       |    CASE kind WHEN 'image' THEN iw WHEN 'audio' THEN n ELSE vw END AS width,
       |    CASE kind WHEN 'image' THEN ih WHEN 'audio' THEN 1 ELSE vh END AS height,
       |    CASE kind WHEN 'audio' THEN 1 ELSE 3 END AS channels,
       |    CASE kind
       |      WHEN 'image' THEN 54 + ((3 * iw + 3) // 4) * 4 * ih
       |      WHEN 'audio' THEN 44 + 2 * n
       |      ELSE 16 + 3 * vw * vh * vf END AS n_bytes,
       |    CASE kind
       |      WHEN 'image' THEN ${duckCycSum("3 * iw * ih")}
       |      WHEN 'audio' THEN s
       |      ELSE ${duckCycSum("3 * vw * vh * vf")} END AS checksum
       |  FROM geom)
       |SELECT doc_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
       |  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
       |  CAST(channels AS BIGINT) AS channels,
       |  CAST(GREATEST(1, (width * 256) // GREATEST(width, height)) AS BIGINT)
       |    AS resized_width,
       |  CAST(GREATEST(1, (height * 256) // GREATEST(width, height)) AS BIGINT)
       |    AS resized_height,
       |  CAST(checksum AS BIGINT) AS checksum
       |FROM calc ORDER BY doc_id""".stripMargin

  /** Frame sampling through the real GVF1 parse: frame count, parsed byte
    * offsets, and per-frame decoded checksums, all oracle-predicted. */
  private def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.sampleFrames(s,
        pipeline.Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select("doc_id", "frame_idx", "offset_bytes", "frame_checksum")
      .orderBy("doc_id", "frame_idx")

  private val multimodalFramesSql =
    s"""WITH bytes AS (
       |  -- same empty-text padding branch as multimodal_features
       |  SELECT doc_id, GREATEST(1, length(text)) AS n,
       |    CASE WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
       |         ELSE list_transform(range(1, length(text) + 1),
       |           i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) END AS bs
       |  FROM documents WHERE doc_id % 3 = 2),
       |vids AS (
       |  SELECT doc_id, n, bs, list_sum(bs) AS s,
       |    3 * (8 + n % 16) * (8 + (n * 3) % 16) AS fb, 1 + n % 5 AS f
       |  FROM bytes),
       |fr AS (
       |  SELECT doc_id, n, bs, s, fb, unnest(range(f)) AS frame_idx FROM vids)
       |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |  CAST(16 + frame_idx * fb AS BIGINT) AS offset_bytes,
       |  CAST((${duckCycSum("(frame_idx + 1) * fb")})
       |     - (${duckCycSum("frame_idx * fb")}) AS BIGINT) AS frame_checksum
       |FROM fr ORDER BY doc_id, frame_idx""".stripMargin

  /** Perceptual hash per media payload through the REAL decoders
    * (Multimodal.perceptualHashes): images dHash their parsed BMP
    * raster (9x8 nearest-neighbor grid, gradient-sign bits), audio
    * delta-hashes its parsed PCM samples, video dHashes its first
    * decoded frame. The oracle re-derives every bit from the synthetic
    * fill's byte arithmetic — a raster/stride/sample parsing bug on the
    * Spark side flips bits and fails the hash. */
  private def multimodalPhash(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .orderBy("doc_id")

  /** Shared oracle arithmetic: the per-doc perceptual hash (`ph` CTE)
    * over the doc relation `src` (doc_id, text). Bit 63 cannot be
    * built with a BIGINT shift in DuckDB (overflow guard), so bits
    * accumulate in HUGEINT and wrap to signed 64-bit at the end —
    * bitwise-or of distinct powers equals their sum. */
  private def duckPhashCtes(src: String): String =
    s"""bytes AS (
       |  SELECT doc_id, GREATEST(1, length(text)) AS n,
       |    CASE WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
       |         ELSE list_transform(range(1, length(text) + 1),
       |           i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) END AS bs
       |  FROM $src),
       |geom AS (
       |  SELECT doc_id, n, bs,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    8 + n % 24 AS iw,
       |    GREATEST(1, LEAST(40, n // (3 * (8 + n % 24)))) AS ih,
       |    8 + n % 16 AS vw, 8 + (n * 3) % 16 AS vh
       |  FROM bytes),
       |rast AS (SELECT doc_id, n, bs, iw AS w, ih AS h FROM geom
       |         WHERE kind = 'image'
       |         UNION ALL
       |         SELECT doc_id, n, bs, vw AS w, vh AS h FROM geom
       |         WHERE kind = 'video'),
       |dbits AS (SELECT doc_id, n, bs, CAST(y * 8 + x AS INT) AS k,
       |    ((y * h) // 8) * w + ((x * w) // 9) AS pa,
       |    ((y * h) // 8) * w + (((x + 1) * w) // 9) AS pb
       |  FROM rast, (SELECT unnest(range(8)) AS y) ys,
       |       (SELECT unnest(range(8)) AS x) xs),
       |dh AS (SELECT doc_id, SUM(CASE WHEN
       |      bs[1 + ((3*pb) % n)] + bs[1 + ((3*pb+1) % n)] + bs[1 + ((3*pb+2) % n)]
       |    > bs[1 + ((3*pa) % n)] + bs[1 + ((3*pa+1) % n)] + bs[1 + ((3*pa+2) % n)]
       |    THEN CAST(1 AS HUGEINT) << k ELSE 0 END) AS hu
       |  FROM dbits GROUP BY doc_id),
       |au AS (SELECT doc_id, SUM(CASE WHEN
       |      bs[1 + (((i + 1) * n) // 65)] > bs[1 + ((i * n) // 65)]
       |    THEN CAST(1 AS HUGEINT) << CAST(i AS INT) ELSE 0 END) AS hu
       |  FROM geom, (SELECT unnest(range(64)) AS i) ii
       |  WHERE kind = 'audio' GROUP BY doc_id),
       |ph AS (SELECT g.doc_id, g.kind,
       |    CAST(CASE WHEN u.hu >= 9223372036854775808
       |         THEN u.hu - 18446744073709551616 ELSE u.hu END AS BIGINT) AS phash
       |  FROM geom g JOIN (SELECT * FROM dh UNION ALL SELECT * FROM au) u
       |    ON u.doc_id = g.doc_id)""".stripMargin

  private val multimodalPhashSql =
    s"""WITH ${duckPhashCtes("documents")}
       |SELECT doc_id, kind, phash FROM ph ORDER BY doc_id""".stripMargin

  /** Re-crawl fixture for the perceptual pairs gate: every 37th
    * document re-appears under a shifted id (+3e18 — the fixture id
    * plateau: divisible by 3 so the media kind is preserved, and far
    * above any id ScaleUp amplification can produce; the amplifier
    * self-checks `max key < 3e18`, so fixture-synthesized ids can never
    * collide with amplified real ids the way the original +3e9 offset
    * could at 100x, where strided doc_ids reach ~9e9), half
    * byte-identical (hamming-0
    * pairs guaranteed) and half with the leading byte case-flipped —
    * a single-byte payload perturbation whose hash distance the
    * oracle re-derives exactly. Without planting, the synthetic
    * corpus yields almost no within-hamming-3 media pairs and the
    * gate would check mostly-empty output. */
  private def mediaRecrawl(docs: DataFrame): DataFrame = {
    val dup = docs.where(col("doc_id") % 37 === 0)
      .withColumn("text", when(col("doc_id") % 74 === 0,
        concat(upper(substring(col("text"), 1, 1)), expr("substring(text, 2)")))
        .otherwise(col("text")))
      .withColumn("doc_id", col("doc_id") + lit(3000000000000000000L))
    docs.unionByName(dup)
  }

  /** Perceptual near-dup pairs: banded hamming pairing
    * (Dedup.bandedHammingPairs, 4x16-bit bands — pigeonhole-exact for
    * hamming <= 3) over the perceptual hashes of the re-crawl corpus,
    * partitioned by media kind so modalities never cross-pair. Exact
    * duplicate documents produce byte-identical payloads and hamming-0
    * pairs; the perturbed re-crawls surface at small positive
    * distances. The oracle replays hash, bands, bucket cap, and
    * verification. */
  private def mediaPhashPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.bandedHammingPairs(
        pipeline.Multimodal.perceptualHashes(s,
            pipeline.Multimodal.mediaTable(
              mediaRecrawl(Tables.documents(s, dir))))
          .toDF()
          .select(col("kind"), col("doc_id"), col("phash").as("sig")),
        maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
        partitionCols = Seq("kind"))

  private def multimodalPhashPairs(s: SparkSession, dir: String): DataFrame =
    mediaPhashPairs(s, dir).orderBy("kind", "doc_a", "doc_b")

  /** Perceptual-duplicate GROUPS: connected components over the banded
    * hamming pairs (Dedup.resolveClusters — the same pointer-jumping CC
    * the text and embedding tiers use), resolving chains like
    * original -> exact re-crawl -> perturbed re-crawl into one cluster
    * per perceptual identity. Media kinds never pair across kind, so
    * components stay kind-homogeneous without carrying the column. The
    * oracle walks the same pair relation with a recursive CTE. */
  private def multimodalPhashClusters(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.resolveClusters(
        mediaPhashPairs(s, dir).select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** Incremental perceptual admission: the re-crawled media (the
    * +3e18-id copies of [[mediaRecrawl]]) checked against the ORIGINAL
    * corpus as the standing ledger (Dedup.incrementalHammingDedup) —
    * the ingest-time question "is this newly crawled image/audio/video
    * perceptually near-identical to anything the corpus already
    * holds?". Exact re-crawls resolve near_dup at hamming 0; the
    * perturbed half resolves near_dup at its true distance or
    * admitted when the single-byte flip moved the hash past 3 bits —
    * all oracle-re-derived. Ledger work is bounded by the buckets the
    * batch touches (broadcast batch-key semi-join before the wide
    * exchange), so admission cost tracks the re-crawl batch, not the
    * corpus. */
  private def multimodalPhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val hashes = pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(
          mediaRecrawl(Tables.documents(s, dir))))
      .toDF()
      .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    pipeline.Dedup.incrementalHammingDedup(
        hashes.where(col("doc_id") >= 3000000000000000000L),
        hashes.where(col("doc_id") < 3000000000000000000L),
        maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
        partitionCols = Seq("kind"))
      .orderBy("doc_id")
  }

  /** Perceptual-hash admission through a MAINTAINED standing hamming
    * index — the media twin of [[dedupIndexRefresh]]: build on the even
    * half of the base corpus's signatures, refresh with the odd half
    * ([[pipeline.Dedup.refreshHammingIndex]]), admit the re-crawl batch
    * via [[pipeline.Dedup.indexHammingDedup]]. refresh == rebuild, so the
    * verdicts equal [[multimodalPhashIncremental]]'s and this gate shares
    * its oracle verbatim. */
  private def multimodalPhashIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val hashes = pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(
          mediaRecrawl(Tables.documents(s, dir))))
      .toDF()
      .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    val base = hashes.where(col("doc_id") < 3000000000000000000L)
    val idx0 = pipeline.Dedup.buildHammingIndex(
      base.where(col("doc_id") % 2 === 0),
      maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
      partitionCols = Seq("kind"))
    val idx = pipeline.Dedup.refreshHammingIndex(idx0,
      base.where(col("doc_id") % 2 =!= 0))
    idx0.release()
    val out = pipeline.Dedup.indexHammingDedup(
        hashes.where(col("doc_id") >= 3000000000000000000L), idx)
      .localCheckpoint(true)
    idx.release()
    out.orderBy("doc_id")
  }

  /** Perceptual-hash admission from a PERSISTED hamming-index generation
    * — the media twin of [[dedupIndexPersisted]]: build on the even half
    * of the base signatures, [[pipeline.Dedup.saveHammingIndex]] to a
    * directory, release, [[pipeline.Dedup.loadHammingIndex]] back,
    * refresh the odd half onto the LOADED index, admit the re-crawl
    * batch. Shares [[multimodalPhashIncrementalSql]] verbatim — a
    * round-trip that loses a bucket, a tombstone, or the recorded fused
    * partition columns fails the hash (a partition-column loss would
    * silently admit everything; the probe would match zero postings). */
  private def multimodalPhashIndexPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("phash_index", dir)
    deleteRecursively(idxDir)
    val hashes = pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(
          mediaRecrawl(Tables.documents(s, dir))))
      .toDF()
      .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    val base = hashes.where(col("doc_id") < 3000000000000000000L)
    val built = pipeline.Dedup.buildHammingIndex(
      base.where(col("doc_id") % 2 === 0),
      maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
      partitionCols = Seq("kind"))
    pipeline.Dedup.saveHammingIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Dedup.loadHammingIndex(s, idxDir.getPath)
    val idx = pipeline.Dedup.refreshHammingIndex(loaded,
      base.where(col("doc_id") % 2 =!= 0))
    loaded.release()
    val out = pipeline.Dedup.indexHammingDedup(
        hashes.where(col("doc_id") >= 3000000000000000000L), idx)
      .localCheckpoint(true)
    idx.release()
    out.orderBy("doc_id")
  }

  private val multimodalPhashIncrementalSql =
    s"""WITH docs_rc AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000000000000000,
       |    CASE WHEN doc_id % 74 = 0
       |         THEN upper(substr(text, 1, 1)) || substr(text, 2)
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 37 = 0),
       |${duckPhashCtes("docs_rc")},
       |bat AS (SELECT * FROM ph WHERE doc_id >= 3000000000000000000),
       |led AS (SELECT * FROM ph WHERE doc_id < 3000000000000000000),
       |bb AS (SELECT doc_id, kind, phash, b,
       |    (phash >> CAST(b * 16 AS INT)) & 65535 AS key
       |  FROM bat, (SELECT unnest(range(4)) AS b) bands),
       |lb AS (SELECT doc_id, kind, phash, b,
       |    (phash >> CAST(b * 16 AS INT)) & 65535 AS key
       |  FROM led, (SELECT unnest(range(4)) AS b) bands),
       |bkeys AS (SELECT DISTINCT kind, b, key FROM bb),
       |lbuck AS (SELECT lb.kind, lb.b, lb.key FROM lb
       |          JOIN bkeys USING (kind, b, key)
       |          GROUP BY 1, 2, 3 HAVING COUNT(*) BETWEEN 1 AND 64),
       |cand AS (SELECT DISTINCT bb.kind, bb.doc_id AS doc_a, bb.phash AS pa,
       |                lb.doc_id AS doc_b, lb.phash AS pb
       |         FROM bb
       |         JOIN lbuck ON lbuck.kind = bb.kind AND lbuck.b = bb.b
       |           AND lbuck.key = bb.key
       |         JOIN lb ON lb.kind = bb.kind AND lb.b = bb.b
       |           AND lb.key = bb.key),
       |mt AS (SELECT kind, doc_a, doc_b,
       |         CAST(bit_count(xor(pa, pb)) AS BIGINT) AS h
       |       FROM cand WHERE bit_count(xor(pa, pb)) <= 3),
       |best AS (SELECT kind, doc_a, doc_b, h FROM (
       |           SELECT mt.*, row_number() OVER (
       |             PARTITION BY kind, doc_a ORDER BY h, doc_b) AS rn FROM mt)
       |         WHERE rn = 1)
       |SELECT b.kind, b.doc_id,
       |  CASE WHEN best.doc_b IS NOT NULL THEN 'near_dup'
       |       ELSE 'admitted' END AS verdict,
       |  best.doc_b AS near_dup_of, best.h AS hamming
       |FROM bat b LEFT JOIN best
       |  ON best.kind = b.kind AND best.doc_a = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  private val multimodalPhashPairsSql =
    s"""WITH docs_rc AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000000000000000,
       |    CASE WHEN doc_id % 74 = 0
       |         THEN upper(substr(text, 1, 1)) || substr(text, 2)
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 37 = 0),
       |${duckPhashCtes("docs_rc")},
       |banded AS (SELECT doc_id, kind, phash, b,
       |    (phash >> CAST(b * 16 AS INT)) & 65535 AS key
       |  FROM ph, (SELECT unnest(range(4)) AS b) bands),
       |bsize AS (SELECT kind, b, key FROM banded GROUP BY 1, 2, 3
       |          HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.kind AS kind, a.doc_id AS doc_a,
       |                a.phash AS pa, c.doc_id AS doc_b, c.phash AS pb
       |         FROM banded a
       |         JOIN bsize bs ON a.kind = bs.kind AND a.b = bs.b
       |           AND a.key = bs.key
       |         JOIN banded c ON a.kind = c.kind AND a.b = c.b
       |           AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT kind, doc_a, doc_b,
       |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(pa, pb)) <= 3
       |ORDER BY kind, doc_a, doc_b""".stripMargin

  /** The end-to-end media-dedup verdict (the media twin of
    * dedup_keep_canonical): the crawled media corpus with every
    * non-canonical perceptual-cluster member dropped — keep the smallest
    * doc_id per perceptual identity. One anti-join against the (small)
    * dropped set; the corpus side never shuffles. */
  private def multimodalKeepCanonical(s: SparkSession, dir: String): DataFrame = {
    val media = pipeline.Multimodal.mediaTable(
        mediaRecrawl(Tables.documents(s, dir)))
      .select("doc_id", "kind")
    val dropped = pipeline.Dedup.resolveClusters(
        mediaPhashPairs(s, dir).select("doc_a", "doc_b"))
      .where(col("doc_id") =!= col("cluster_id"))
    media.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  private val multimodalKeepCanonicalSql =
    s"""WITH RECURSIVE pairs AS ($multimodalPhashPairsSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |dropped AS (SELECT u AS doc_id FROM reach GROUP BY u
       |            HAVING LEAST(u, MIN(v)) <> u),
       |docs_rc2 AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000000000000000 FROM documents WHERE doc_id % 37 = 0)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'image'
       |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind
       |FROM docs_rc2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  private val multimodalPhashClustersSql =
    s"""WITH RECURSIVE pairs AS ($multimodalPhashPairsSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** Malformed-media quarantine — the media twin of `q_json_quarantine`.
    * A crawl-scale media pipeline meets truncated and corrupt payloads
    * constantly; decode failures must become per-row quarantine
    * verdicts, not executor exceptions. Deterministic corruption
    * families (`Multimodal.corruptMedia`: doc_id%4 picks intact /
    * magic overwritten / last byte dropped / truncated to 8 bytes) are
    * applied to the real encoded payloads, then `quarantineSplit` runs
    * the REAL decoders under a total verdict function. The oracle
    * predicts per row: the accept/reject boundary, the coarse reason
    * class (bad_magic for wrong/short-of-magic headers, truncated for
    * well-headed payloads whose declared geometry exceeds the bytes),
    * and the corrupted byte count — all under the hash, so a decoder
    * that crashes, silently admits a truncated file, or misclassifies
    * fails the gate. */
  private def multimodalQuarantine(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.quarantineSplit(s,
        pipeline.Multimodal.corruptMedia(s,
          pipeline.Multimodal.mediaTable(Tables.documents(s, dir))))
      .toDF()
      .select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("quarantined"), col("reason"))
      .orderBy("doc_id")

  private val multimodalQuarantineSql =
    s"""WITH bytes AS (
       |  SELECT doc_id, GREATEST(1, length(text)) AS n FROM documents),
       |geom AS (
       |  SELECT doc_id, n,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    8 + n % 24 AS iw,
       |    GREATEST(1, LEAST(40, n // (3 * (8 + n % 24)))) AS ih,
       |    8 + n % 16 AS vw, 8 + (n * 3) % 16 AS vh, 1 + n % 5 AS vf
       |  FROM bytes),
       |sz AS (
       |  SELECT doc_id, kind,
       |    CASE kind
       |      WHEN 'image' THEN 54 + ((3 * iw + 3) // 4) * 4 * ih
       |      WHEN 'audio' THEN 44 + 2 * n
       |      ELSE 16 + 3 * vw * vh * vf END AS full_bytes
       |  FROM geom)
       |SELECT doc_id, kind,
       |  CAST(CASE doc_id % 4 WHEN 2 THEN full_bytes - 1
       |                       WHEN 3 THEN 8
       |                       ELSE full_bytes END AS BIGINT) AS n_bytes,
       |  doc_id % 4 <> 0 AS quarantined,
       |  CASE doc_id % 4
       |    WHEN 0 THEN 'ok'         -- intact: real decode succeeds
       |    WHEN 1 THEN 'bad_magic'  -- 'X' over the magic byte
       |    WHEN 2 THEN 'truncated'  -- geometry outruns the bytes
       |    ELSE 'bad_magic'         -- 8 bytes: shorter than the magic read
       |  END AS reason
       |FROM sz ORDER BY doc_id""".stripMargin

  // ===================================================================
  // Corpus curation: PII, quality rules, boilerplate blocks, packing,
  // incremental dedup
  // ===================================================================

  /** The driver corpus is synthetic word soup with no real PII, so the
    * scan would gate nothing; this fixture deterministically plants
    * emails/phones/SSNs/IPs from doc_id arithmetic (same spirit as
    * MetaFixtures: both engines re-derive the identical augmented text,
    * so detection AND redaction are oracle-checked on non-trivial
    * inputs). */
  private def piiAugmented(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def pad(x: Column, n: Int) = lpad(x.cast("string"), n, "0")
    Tables.documents(s, dir).withColumn("text", concat(
      col("text"),
      when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com soon"))).otherwise(lit("")),
      when(id % 5 === 1, concat(lit(" call +1-"), pad((id * 7) % 1000, 3),
        lit("-"), pad((id * 13) % 1000, 3), lit("-"),
        pad((id * 17) % 10000, 4))).otherwise(lit("")),
      when(id % 11 === 3, concat(lit(" ssn "), pad((id * 19) % 1000, 3),
        lit("-"), pad((id * 23) % 100, 2), lit("-"),
        pad((id * 29) % 10000, 4))).otherwise(lit("")),
      when(id % 7 === 2, concat(lit(" host 10."), (id % 250).cast("string"),
        lit("."), ((id * 3) % 250).cast("string"),
        lit("."), ((id * 11) % 250).cast("string"))).otherwise(lit(""))))
  }

  // single physical line per concatenation leg: this fragment is
  // interpolated into another stripMargin block, and a leading `||` after
  // the margin would get its first pipe eaten by the second strip
  private val piiAugmentedSqlText =
    "text" +
      " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com soon' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 1 THEN ' call +1-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')" +
      " || '-' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')" +
      " || '-' || lpad(CAST((doc_id * 17) % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 11 = 3 THEN ' ssn ' || lpad(CAST((doc_id * 19) % 1000 AS VARCHAR), 3, '0')" +
      " || '-' || lpad(CAST((doc_id * 23) % 100 AS VARCHAR), 2, '0')" +
      " || '-' || lpad(CAST((doc_id * 29) % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 7 = 2 THEN ' host 10.' || CAST(doc_id % 250 AS VARCHAR)" +
      " || '.' || CAST((doc_id * 3) % 250 AS VARCHAR)" +
      " || '.' || CAST((doc_id * 11) % 250 AS VARCHAR) ELSE '' END"

  private def piiRedact(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.piiScan(piiAugmented(s, dir))
      .select("doc_id", "n_email", "n_phone", "n_ssn", "n_ip", "n_pii",
        "redacted")
      .orderBy("doc_id")

  private val piiRedactSql = {
    val rules = pipeline.Curation.DefaultPiiRules
    val counts = rules.map(r =>
      s"len(regexp_extract_all(text, '${r.regex}')) AS n_${r.name}").mkString(",\n |  ")
    val redacted = rules.foldLeft("text") { (acc, r) =>
      s"regexp_replace($acc, '${r.regex}', '${r.replacement}', 'g')"
    }
    s"""WITH aug AS (SELECT doc_id, $piiAugmentedSqlText AS text FROM documents)
       |SELECT doc_id,
       |  $counts,
       |  ${rules.map(r => s"len(regexp_extract_all(text, '${r.regex}'))").mkString(" + ")} AS n_pii,
       |  $redacted AS redacted
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  private def qQualityRules(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.qualityRules(Tables.documents(s, dir))
      .select("doc_id", "n_tokens", "token_chars", "n_numerals", "stop_hits",
        "mean_len_micros", "keep", "reasons")
      .orderBy("doc_id")

  private val qQualityRulesSql = {
    val stop = pipeline.TextAnalysis.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    // rule list sorted by name — the same stable order the Scala side uses
    val fails = Seq(
      "mean_word_long" -> "mean_len_micros > 12000000",
      "mean_word_short" -> "n_tokens >= 5 AND mean_len_micros < 2000000",
      "no_stopwords" -> "stop_hits < 1",
      "numeral_heavy" -> "n_numerals * 100 > n_tokens * 30",
      "too_few_tokens" -> "n_tokens < 5",
      "too_many_tokens" -> "n_tokens > 100000")
    val reasonList = fails.map { case (n, c) =>
      s"CASE WHEN $c THEN '$n' END" }.mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |s AS (SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS token_chars,
       |  len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS n_numerals,
       |  len(list_filter(toks, x -> list_contains($stop, x))) AS stop_hits
       |  FROM t),
       |m AS (SELECT *, CASE WHEN n_tokens > 0
       |    THEN token_chars * 1000000 // n_tokens ELSE 0 END AS mean_len_micros
       |  FROM s)
       |SELECT doc_id, n_tokens, token_chars, n_numerals, stop_hits,
       |  CAST(mean_len_micros AS BIGINT) AS mean_len_micros,
       |  NOT (${fails.map(_._2).map(c => s"($c)").mkString(" OR ")}) AS keep,
       |  COALESCE(array_to_string(list_filter($reasonList, x -> x IS NOT NULL), ','), '') AS reasons
       |FROM m ORDER BY doc_id""".stripMargin
  }

  private def dedupBlocks(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.dropDuplicateBlocks(Tables.documents(s, dir))
      .orderBy("doc_id")

  /** Maximal duplicated 8-token spans at any alignment (sliding-window
    * complement of dedup_blocks — see Curation.duplicateSpans). */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.duplicateSpans(Tables.documents(s, dir), w = 8)
      .orderBy("doc_id", "span_start")

  private val qDupSpansSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |el AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
       |ex AS (SELECT doc_id, toks, unnest(range(n - 7)) AS start FROM el),
       |hs AS (SELECT doc_id, start,
       |  ${DuckHash60.format("array_to_string(toks[start + 1 : start + 8], ' ')")} AS h
       |  FROM ex),
       |dup AS (SELECT h FROM hs GROUP BY h HAVING COUNT(*) > 1),
       |mk AS (SELECT hs.doc_id, hs.start FROM hs SEMI JOIN dup ON hs.h = dup.h),
       |br AS (SELECT doc_id, start,
       |  CASE WHEN start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 8
       |       THEN 1 ELSE 0 END AS brk FROM mk),
       |isl AS (SELECT doc_id, start,
       |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM br)
       |SELECT doc_id, CAST(MIN(start) AS BIGINT) AS span_start,
       |  CAST(MAX(start) + 8 AS BIGINT) AS span_end, COUNT(*) AS n_windows
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  private val dedupBlocksSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |nb AS (SELECT doc_id, toks, (len(toks) + 9) // 10 AS n_blocks FROM t),
       |ex AS (SELECT doc_id, toks, unnest(range(n_blocks)) AS pos FROM nb
       |       WHERE len(toks) > 0),
       |blk AS (SELECT doc_id, pos,
       |  array_to_string(toks[pos * 10 + 1 : pos * 10 + 10], ' ') AS blk FROM ex),
       |hb AS (SELECT doc_id, pos, blk, ${DuckHash60.format("blk")} AS h FROM blk),
       |dup AS (SELECT h FROM hb GROUP BY h HAVING COUNT(DISTINCT doc_id) > 2),
       |kept AS (SELECT hb.* FROM hb ANTI JOIN dup ON hb.h = dup.h),
       |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
       |  string_agg(blk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
       |SELECT nb.doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
       |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(n_blocks - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(clean_text, '') AS clean_text
       |FROM nb LEFT JOIN reb ON nb.doc_id = reb.doc_id
       |ORDER BY nb.doc_id""".stripMargin

  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.packSequences(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val qPackSequencesSql =
    s"""WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
       |  len($DuckToks) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, bucket, n_tokens,
       |  SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum FROM t)
       |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST((cum - n_tokens) // 256 AS BIGINT) AS seq,
       |  CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** Epoch-2 training order over the documents corpus: 16 shards, md5
    * permutation (Curation.epochShuffle). The md5 key makes the shuffle
    * engine-independent, so the oracle re-derives the identical
    * (shard, pos) assignment. */
  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.epochShuffle(
        Tables.documents(s, dir), col("doc_id"), epoch = 2, nShards = 16)
      .orderBy("id")

  private val qEpochShuffleSql =
    s"""WITH k AS (SELECT doc_id AS id,
       |    md5(doc_id || ':2') AS shuffle_key FROM documents),
       |s AS (SELECT id, shuffle_key,
       |    ('0x' || substr(shuffle_key, 1, 8))::BIGINT % 16 AS shard FROM k)
       |SELECT id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY shuffle_key, id) AS BIGINT) AS pos,
       |  shuffle_key
       |FROM s ORDER BY id""".stripMargin

  /** Ledger = fingerprints of doc_id % 10 < 3 (the "previously ingested"
    * snapshot); batch = the rest, deduped against ledger then within
    * itself. */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ledger = docs.where(col("doc_id") % 10 < 3)
      .select(pipeline.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    pipeline.Dedup.incremental(docs.where(col("doc_id") % 10 >= 3), ledger)
      .orderBy("doc_id")
  }

  /** Same inputs and oracle as [[dedupIncremental]]; the bloom prune is an
    * exactness-preserving plan change (no false negatives; false positives
    * are re-checked by the verdict join), so both variants gate against the
    * identical DuckDB statement. */
  private def dedupIncrementalBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ledger = docs.where(col("doc_id") % 10 < 3)
      .select(pipeline.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    pipeline.Dedup.incrementalBloom(docs.where(col("doc_id") % 10 >= 3), ledger)
      .orderBy("doc_id")
  }

  private val dedupIncrementalSql =
    s"""WITH led AS (SELECT DISTINCT $DuckFp AS fingerprint FROM documents
       |  WHERE doc_id % 10 < 3),
       |b AS (SELECT doc_id, $DuckFp AS fingerprint FROM documents
       |  WHERE doc_id % 10 >= 3),
       |w AS (SELECT doc_id, fingerprint,
       |  MIN(doc_id) OVER (PARTITION BY fingerprint) AS first_in FROM b)
       |SELECT w.doc_id, w.fingerprint,
       |  CASE WHEN led.fingerprint IS NOT NULL THEN 'ledger_dup'
       |       WHEN w.doc_id <> w.first_in THEN 'batch_dup'
       |       ELSE 'admitted' END AS verdict
       |FROM w LEFT JOIN led ON w.fingerprint = led.fingerprint
       |ORDER BY doc_id""".stripMargin

  /** Incremental NEAR-dup admission: the dedup_incremental batch/ledger
    * split checked by MinHash-LSH + exact Jaccard instead of exact
    * fingerprints (Dedup.incrementalNearDup — ledger pruned by the batch's
    * band keys before any exchange). */
  private def dedupIncrementalNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    pipeline.Dedup.incrementalNearDup(
        docs.where(col("doc_id") % 10 >= 3).select("doc_id", "text"),
        docs.where(col("doc_id") % 10 < 3).select("doc_id", "text"))
      .orderBy("doc_id")
  }

  /** Near-dup admission through a MAINTAINED standing index: build the
    * index on a third of the ledger, extend it with the second third via
    * [[pipeline.Dedup.refreshNearDupIndex]] (append postings/shingles,
    * re-cap merged buckets, tombstone parity), then admit the batch with
    * [[pipeline.Dedup.indexNearDup]]. Because refresh == from-scratch
    * rebuild (DedupSpec pins the relations), the verdicts equal
    * [[dedupIncrementalNeardup]]'s on the merged ledger — so this gate
    * shares that oracle verbatim and any refresh drift (lost posting,
    * resurrected tombstone, uncapped merge) fails the hash end-to-end. */
  private def dedupIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx0 = pipeline.Dedup.buildNearDupIndex(
      docs.where(col("doc_id") % 10 < 2).select("doc_id", "text"))
    val idx = pipeline.Dedup.refreshNearDupIndex(idx0,
      docs.where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 < 3)
        .select("doc_id", "text"))
    idx0.release()
    val out = pipeline.Dedup.indexNearDup(
      docs.where(col("doc_id") % 10 >= 3).select("doc_id", "text"), idx)
    idx.release()
    out.orderBy("doc_id")
  }

  /** Near-dup admission from a PERSISTED index generation — the
    * [[annIvfPersisted]] arc for the lexical near-dup tier: build the
    * index on the first ledger third, [[pipeline.Dedup.saveNearDupIndex]]
    * to a directory, release the in-memory generation,
    * [[pipeline.Dedup.loadNearDupIndex]] it back, refresh the second
    * third ONTO THE LOADED INDEX, and admit the batch. Shares
    * [[dedupIncrementalNeardupSql]] verbatim — persistence must be
    * observationally invisible, so a round-trip that loses a posting, a
    * shingle row, a tombstone, or a hyperparameter fails the hash
    * end-to-end. */
  private def dedupIndexPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("neardup_index", dir)
    deleteRecursively(idxDir)
    val docs = Tables.documents(s, dir)
    val built = pipeline.Dedup.buildNearDupIndex(
      docs.where(col("doc_id") % 10 < 2).select("doc_id", "text"))
    pipeline.Dedup.saveNearDupIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Dedup.loadNearDupIndex(s, idxDir.getPath)
    val idx = pipeline.Dedup.refreshNearDupIndex(loaded,
      docs.where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 < 3)
        .select("doc_id", "text"))
    loaded.release()
    val out = pipeline.Dedup.indexNearDup(
        docs.where(col("doc_id") % 10 >= 3).select("doc_id", "text"), idx)
      .localCheckpoint(true) // materialize before releasing the index it reads
    idx.release()
    out.orderBy("doc_id")
  }

  private val dedupIncrementalNeardupSql = {
    val P = pipeline.Dedup.P
    val A = (0 until 32).map(pipeline.Dedup.permA).mkString("[", ", ", "]")
    val B = (0 until 32).map(pipeline.Dedup.permB).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hs AS (SELECT doc_id, list_transform(sh,
       |         s -> ${DuckHash60.format("s")} % $P) AS hs FROM sh2),
       |sig AS (SELECT doc_id, list_transform(range(32), j ->
       |         list_min(list_transform(hs, h ->
       |           (list_extract($A, j + 1) * h + list_extract($B, j + 1)) % $P))) AS sig
       |       FROM hs),
       |banded AS (SELECT doc_id, b,
       |         array_to_string(list_transform(range(4),
       |           i -> list_extract(sig, b * 4 + i + 1)), '_') AS key
       |       FROM sig, (SELECT unnest(range(8)) AS b) bs),
       |bb AS (SELECT * FROM banded WHERE doc_id % 10 >= 3),
       |lb AS (SELECT * FROM banded WHERE doc_id % 10 < 3),
       |lcap AS (SELECT b, key FROM lb GROUP BY 1, 2 HAVING COUNT(*) <= 64),
       |cand AS (SELECT DISTINCT bb.doc_id AS doc_a, lb.doc_id AS doc_b
       |         FROM bb JOIN lb ON bb.b = lb.b AND bb.key = lb.key
       |         JOIN lcap lc ON lb.b = lc.b AND lb.key = lc.key),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh2),
       |ver AS (SELECT c.doc_a, c.doc_b,
       |          CAST(floor(len(list_intersect(ha.hs, hb.hs)) * 100
       |            / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))))
       |            AS BIGINT) AS jaccard_pct
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b
       |        WHERE len(list_intersect(ha.hs, hb.hs)) * 100
       |          >= (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) * 30),
       |best AS (SELECT doc_a, doc_b, jaccard_pct, row_number() OVER (
       |           PARTITION BY doc_a ORDER BY jaccard_pct DESC, doc_b) AS rn
       |         FROM ver)
       |SELECT d.doc_id,
       |  CASE WHEN b.doc_a IS NULL THEN 'admitted' ELSE 'near_dup' END AS verdict,
       |  b.doc_b AS near_dup_of, b.jaccard_pct
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 3) d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_a = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Corpus-trained bigram LM scoring (see
    * [[graft.pipeline.TextAnalysis.lmScore]]); exact integer micros, so the
    * oracle re-derives the identical model and scores in DuckDB. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.lmScore(Tables.documents(s, dir)).orderBy("doc_id")

  private val qLmScoreSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |bg AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t
       |        WHERE len(toks) >= 2)),
       |h AS (SELECT doc_id, ${DuckHash60.format("bg")} AS hb,
       |  ${DuckHash60.format("w1")} AS h1 FROM bg),
       |m12 AS (SELECT hb, count(*) AS c12 FROM h GROUP BY hb),
       |m1 AS (SELECT h1, count(*) AS c1 FROM h GROUP BY h1),
       |sc AS (SELECT doc_id, 1000000 * c12 // c1 AS p
       |  FROM h JOIN m12 USING (hb) JOIN m1 USING (h1)),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(p) // count(*) AS BIGINT) AS lm_score_micros
       |  FROM sc GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(agg.lm_score_micros, 0) AS lm_score_micros
       |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  // ===================================================================
  // Product quantization
  // ===================================================================

  /** Shared PQ derivation: unit-normalized integer-micros vectors
    * (floor(x*1e6/sqrt(norm2)) — IEEE-correctly-rounded on exact integer
    * inputs, so both engines produce identical longs; on unit vectors
    * squared L2 is monotone with cosine), stride codebooks (the ann_ivf
    * rule), 8 subspaces of 8 components, exact integer squared-L2 per
    * subspace, ties to the lower code. `best WHERE rn = 1` is the corpus
    * encoding. `centWhere` restricts the codebook TRAINING corpus (the
    * `enpc` stride source) while encoding stays corpus-wide — "TRUE" for
    * the one-shot gates, the ledger predicate for the standing code
    * index's refresh gate (frozen ledger-trained codebooks). */
  private def duckPqBase(centWhere: String = "TRUE") =
    s"""un AS (SELECT vec_id, list_transform(range(1, len(xs) + 1),
       |        i -> CAST(floor(CAST(xs[i] AS DOUBLE) * 1000000 /
       |               sqrt(CAST(norm2 AS DOUBLE))) AS BIGINT)) AS xs
       |      FROM en2),
       |en3 AS (SELECT vec_id, xs,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM un),
       |enpc AS (SELECT vec_id, xs,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM un
       |        WHERE $centWhere),
       |params AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM enpc),
       |cents AS (SELECT (idx // stride) AS cid, xs FROM enpc, params
       |          WHERE idx % stride = 0 AND idx // stride < 16),
       |vs AS (SELECT vec_id, s, xs[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM en3, range(8) t(s)),
       |cs AS (SELECT cid, s, xs[s * 8 + 1 : s * 8 + 8] AS c
       |       FROM cents, range(8) t(s)),
       |d AS (SELECT vec_id, vs.s, cid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM vs JOIN cs ON vs.s = cs.s),
       |best AS (SELECT vec_id, s, cid, dist,
       |        row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
       |        FROM d)""".stripMargin

  private val DuckPqBase = duckPqBase()

  private def qPqEncode(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.encoded(Tables.embeddings(s, dir), m = 8, k = 16)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")

  private val qPqEncodeSql =
    s"""WITH $DuckPrepared,
       |$DuckPqBase
       |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code,
       |       dist AS err
       |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin

  /** PQ codes through a MAINTAINED standing code index
    * ([[pipeline.Pq.PqIndex]]): codebooks trained and FROZEN on half the
    * corpus, the other half folded in via
    * [[pipeline.Pq.refreshCodeIndex]] — only the batch is encoded. The
    * oracle re-derives that contract (stride codebooks over the LEDGER
    * predicate, encoding corpus-wide), so a refresh that re-trained or
    * re-encoded the ledger fails the hash. Output shape = [[qPqEncode]]. */
  private def annPqIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Pq.buildCodeIndex(embs.where(col("vec_id") % 10 < 5))
    val idx = pipeline.Pq.refreshCodeIndex(idx0,
      embs.where(col("vec_id") % 10 >= 5))
    idx0.release()
    val out = idx.codes
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")
      .localCheckpoint(true) // materialize before releasing the codes it reads
    idx.release()
    out
  }

  private val annPqIndexRefreshSql =
    s"""WITH $DuckPrepared,
       |${duckPqBase("vec_id % 10 < 5")}
       |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code,
       |       dist AS err
       |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin

  /** The full PQ code-index lifecycle with the drift trigger driving the
    * retrain ([[pipeline.Pq.maintainCodeIndex]] — the [[annIvfRetrain]]
    * arc for the codes tier): build on 30%, fold in a 30% batch (drift
    * ~0.5 ≥ 0.4 → codebooks RETRAINED on the 60% corpus, everything
    * re-encoded, hot-swapped), then refresh the last 40% under the
    * retrained frozen books. PQ codes are lossy, so the retrain is
    * handed the raw 60% corpus explicitly — the contract the scaladoc
    * pins. Oracle: stride codebooks over the RETRAIN-POINT corpus
    * (`vec_id % 10 < 6`), encoding corpus-wide; output shape =
    * [[qPqEncode]]. Self-verifying via the same trigger `require`. */
  private def annPqRetrain(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Pq.buildCodeIndex(embs.where(col("vec_id") % 10 < 3))
    val idx1 = pipeline.Pq.maintainCodeIndex(idx0,
      embs.where(col("vec_id") % 10 >= 3 && col("vec_id") % 10 < 6),
      corpus = embs.where(col("vec_id") % 10 < 6),
      maxNewFraction = 0.4)
    idx0.release()
    require(idx1.nSinceTrain == 0L,
      "ann_pq_retrain fixture: the drift trigger did not fire")
    val idx2 = pipeline.Pq.refreshCodeIndex(idx1,
      embs.where(col("vec_id") % 10 >= 6))
    idx1.release()
    val out = idx2.codes
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")
      .localCheckpoint(true) // materialize before releasing the codes it reads
    idx2.release()
    out
  }

  private val annPqRetrainSql =
    s"""WITH $DuckPrepared,
       |${duckPqBase("vec_id % 10 < 6")}
       |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code,
       |       dist AS err
       |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin

  /** PQ codes served from a PERSISTED code-index generation — the
    * [[annIvfPersisted]] arc for the codes tier: build on the ledger
    * half, save/release/load, refresh the batch onto the LOADED index
    * (frozen persisted codebooks encode it), emit the code relation.
    * Shares [[annPqIndexRefreshSql]] verbatim. */
  private def annPqPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("pq_index", dir)
    deleteRecursively(idxDir)
    val embs = Tables.embeddings(s, dir)
    val built = pipeline.Pq.buildCodeIndex(embs.where(col("vec_id") % 10 < 5))
    pipeline.Pq.saveCodeIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Pq.loadCodeIndex(s, idxDir.getPath)
    val idx = pipeline.Pq.refreshCodeIndex(loaded,
      embs.where(col("vec_id") % 10 >= 5))
    loaded.release()
    val out = idx.codes
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")
      .localCheckpoint(true) // materialize before releasing the codes it reads
    idx.release()
    out
  }

  private def annPqTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.adcTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** ADC scoring + ranking over the [[DuckPqBase]] encoding, shared by the
    * pure-ADC and the rerank query. */
  private val DuckAdcRanked =
    s"""codes AS (SELECT vec_id, s, cid FROM best WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, xs FROM un WHERE vec_id % 50 = 0),
       |qs AS (SELECT query_id, s, xs[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM q, range(8) t(s)),
       |qd AS (SELECT query_id, qs.s, cid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM qs JOIN cs ON qs.s = cs.s),
       |ad AS (SELECT qd.query_id, c2.vec_id AS neighbor_id,
       |        CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
       |       FROM codes c2 JOIN qd ON qd.s = c2.s AND qd.cid = c2.cid
       |       WHERE c2.vec_id <> qd.query_id
       |       GROUP BY qd.query_id, c2.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, adc_dist,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY adc_dist, neighbor_id) AS rk FROM ad)""".stripMargin

  private val annPqTopkSql =
    s"""WITH $DuckPrepared,
       |$DuckPqBase,
       |$DuckAdcRanked
       |SELECT query_id, rk, neighbor_id, adc_dist
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** ADC shortlist (100) + exact integer-micros cosine rerank — the
    * production PQ search; output shape matches ann_cosine_topk. */
  private def annPqRerankTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.adcRerankTopK(Tables.embeddings(s, dir),
        col("vec_id") % 50 === 0, k = 5, shortlist = 100)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annPqRerankTopkSql =
    s"""WITH $DuckPrepared,
       |$DuckPqBase,
       |$DuckAdcRanked,
       |cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 100),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |        ${duckCos("qv.xs", "qv.norm2", "v.xs", "v.norm2")} AS cos
       |       FROM cand c JOIN en2 qv ON qv.vec_id = c.query_id
       |                   JOIN en2 v ON v.vec_id = c.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM rr WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

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

  /** Sliding-window token chunking (size 64, overlap 16) — the
    * long-document → training-sequence splitter. */
  private def qChunkOverlap(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.chunkOverlap(Tables.documents(s, dir))
      .orderBy("doc_id", "chunk_idx")

  private val qChunkOverlapSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
       |k AS (SELECT doc_id, toks, n, CASE WHEN n = 0 THEN 0
       |        ELSE 1 + (GREATEST(n - 64, 0) + 47) // 48 END AS n_chunks
       |      FROM n),
       |ex AS (SELECT doc_id, toks, n, unnest(range(n_chunks)) AS chunk_idx
       |       FROM k WHERE n_chunks > 0)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
       |    AS chunk_text,
       |  CAST(LEAST(n - chunk_idx * 48, 64) AS BIGINT) AS chunk_tokens
       |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin

  /** Click→purchase attribution pairs within a 2-hour band, via the
    * bucketed interval join (`operators/IntervalJoin`) — the shape that
    * stays an equi-join at power-law key scale. The oracle is the naive
    * BETWEEN range join, so the bucketing must be pair-for-pair exact. */
  private def qIntervalPairs(s: SparkSession, dir: String): DataFrame = {
    val e = eventsBase(s, dir)
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ms"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ms").as("purchase_ms"))
    operators.IntervalJoin.within(clicks, purchases, "user_id",
        "click_ms", "purchase_ms", 7200000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_ms") - col("click_ms")).as("delta_ms"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  private val qIntervalPairsSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |  epoch_ms(ts) AS ts_ms FROM events),
       |c AS (SELECT user_id, event_id AS click_id, ts_ms AS click_ms
       |      FROM e WHERE event_type = 'click'),
       |p AS (SELECT user_id, event_id AS purchase_id, ts_ms AS purchase_ms
       |      FROM e WHERE event_type = 'purchase')
       |SELECT c.user_id AS user_id, click_id, purchase_id,
       |       purchase_ms - click_ms AS delta_ms
       |FROM c JOIN p ON c.user_id = p.user_id
       |  AND p.purchase_ms BETWEEN c.click_ms - 7200000 AND c.click_ms + 7200000
       |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** Two-sided view-to-purchase attribution — the BATCH run of the
    * left-outer streaming join (`streaming/StreamingJoin.attributedOrNull`,
    * watermarks optimized away on batch inputs by
    * EliminateEventTimeWatermark): every (view, purchase) pair of the
    * same user with the purchase inside `[view_ts, view_ts + 1h]`
    * (both bounds inclusive — the operator and the oracle agree on
    * `purchase_ts >= view_ts`), plus
    * ONE null-attributed row per view with no in-window purchase. This
    * puts the null-emission arithmetic — previously gated only by
    * StreamingSpec's replay equivalence — under the DuckDB hash gate
    * like every other operator: on a complete replay the streaming
    * expiry-driven nulls must equal exactly this batch left outer. */
  private def qAttributionOuter(s: SparkSession, dir: String): DataFrame = {
    val e = eventsRaw(s, dir)
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value"))
    streaming.StreamingJoin.attributedOrNull(views, purchases, "1 hour")
      .select(col("user_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        floor(col("value") * lit(1000000.0)).cast("long").as("value_micros"))
      .orderBy("user_id", "view_us", "purchase_us")
  }

  private val qAttributionOuterSql =
    s"""WITH v AS (SELECT user_id, ts AS view_ts FROM events
       |           WHERE event_type = 'view'),
       |p AS (SELECT user_id, ts AS purchase_ts, value FROM events
       |      WHERE event_type = 'purchase')
       |SELECT v.user_id, epoch_us(v.view_ts) AS view_us,
       |  epoch_us(p.purchase_ts) AS purchase_us,
       |  CAST(floor(p.value * 1000000.0) AS BIGINT) AS value_micros
       |FROM v LEFT JOIN p ON p.user_id = v.user_id
       |  AND p.purchase_ts >= v.view_ts
       |  AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
       |ORDER BY v.user_id, view_us, purchase_us""".stripMargin

  // ===================================================================
  // IVF-PQ (residual quantization)
  // ===================================================================

  /** One per-subspace exact-integer Lloyd iteration over the residual
    * codebooks: assign every residual subvector to its min-L2 entry (ties
    * to the lower code), per-component floor-div means, empty cells keep
    * the previous entry. Mirrors `Pq.refineBooks` exactly. */
  private def duckPqLloyd(in: String, out: String): String =
    s"""d_$out AS (SELECT vec_id, rvs.s, rcid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM rvs JOIN $in ON rvs.s = $in.s),
       |asg_$out AS (SELECT vec_id, s, rcid FROM (
       |        SELECT vec_id, s, rcid, row_number() OVER (
       |          PARTITION BY vec_id, s ORDER BY dist, rcid) AS rn FROM d_$out)
       |        WHERE rn = 1),
       |comp_$out AS (SELECT a.s, a.rcid, j,
       |        -- exact FLOOR division (Math.floorDiv): DuckDB's // truncates
       |        -- toward zero, and residual sums go negative
       |        CAST((SUM(v[j]) - ((SUM(v[j]) % COUNT(*) + COUNT(*)) % COUNT(*)))
       |          // COUNT(*) AS BIGINT) AS mj
       |      FROM asg_$out a
       |      JOIN rvs ON rvs.vec_id = a.vec_id AND rvs.s = a.s,
       |      range(1, 9) u(j)
       |      GROUP BY a.s, a.rcid, j),
       |newc_$out AS (SELECT s, rcid, list(mj ORDER BY j) AS c
       |      FROM comp_$out GROUP BY s, rcid),
       |$out AS (SELECT r0.rcid, r0.s, COALESCE(n.c, r0.c) AS c
       |      FROM $in r0 LEFT JOIN newc_$out n
       |        ON n.s = r0.s AND n.rcid = r0.rcid)""".stripMargin

  /** Shared IVF-PQ derivation: coarse stride centroids over unit vectors,
    * exact-integer-L2 bucket assignment (ties to the lower cid), residuals,
    * stride-initialized residual codebooks refined by TWO unrolled Lloyd
    * iterations, and the corpus encoding. Everything BIGINT — no floating
    * point anywhere in the pipeline. */
  private val DuckIvfPqBase =
    s"""en3 AS (SELECT vec_id, xs,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM un),
       |params AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM en3),
       |ccents AS (SELECT (idx // stride) AS ccid, xs AS cxs FROM en3, params
       |          WHERE idx % stride = 0 AND idx // stride < 16),
       |adist AS (SELECT e.vec_id, c.ccid,
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> (e.xs[i] - c.cxs[i]) * (e.xs[i] - c.cxs[i]))) AS BIGINT) AS d
       |       FROM en3 e, ccents c),
       |assign AS (SELECT vec_id, ccid FROM (
       |        SELECT vec_id, ccid, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY d, ccid) AS rn FROM adist)
       |        WHERE rn = 1),
       |residual AS (SELECT e.vec_id, e.idx, a.ccid,
       |        list_transform(range(1, 65), i -> e.xs[i] - c.cxs[i]) AS r
       |       FROM en3 e JOIN assign a USING (vec_id)
       |       JOIN ccents c ON c.ccid = a.ccid),
       |rparams AS (SELECT GREATEST(1, COUNT(*) // 16) AS rstride FROM residual),
       |rcents0 AS (SELECT (idx // rstride) AS rcid, r FROM residual, rparams
       |       WHERE idx % rstride = 0 AND idx // rstride < 16),
       |rvs AS (SELECT vec_id, ccid, s, r[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM residual, range(8) t(s)),
       |rcs0 AS (SELECT rcid, s, r[s * 8 + 1 : s * 8 + 8] AS c
       |       FROM rcents0, range(8) t(s)),
       |${duckPqLloyd("rcs0", "rcs1")},
       |${duckPqLloyd("rcs1", "rcs2")},
       |d_enc AS (SELECT vec_id, rvs.s, rcid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM rvs JOIN rcs2 ON rvs.s = rcs2.s),
       |codes AS (SELECT vec_id, s, rcid AS code FROM (
       |        SELECT vec_id, s, rcid, row_number() OVER (
       |          PARTITION BY vec_id, s ORDER BY dist, rcid) AS rn FROM d_enc)
       |        WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, xs FROM un WHERE vec_id % 50 = 0),
       |qad AS (SELECT q.query_id, c.ccid,
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> (q.xs[i] - c.cxs[i]) * (q.xs[i] - c.cxs[i]))) AS BIGINT) AS d
       |       FROM q, ccents c),
       |probes AS (SELECT query_id, ccid FROM (
       |        SELECT query_id, ccid, row_number() OVER (
       |          PARTITION BY query_id ORDER BY d, ccid) AS rn FROM qad)
       |        WHERE rn <= 4),
       |qres AS (SELECT p.query_id, p.ccid,
       |        list_transform(range(1, 65), i -> q.xs[i] - c.cxs[i]) AS qr
       |       FROM probes p JOIN q ON q.query_id = p.query_id
       |       JOIN ccents c ON c.ccid = p.ccid),
       |qrs AS (SELECT query_id, ccid, s, qr[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM qres, range(8) t(s)),
       |qd AS (SELECT query_id, ccid, qrs.s, rcid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |       FROM qrs JOIN rcs2 ON qrs.s = rcs2.s),
       |ad AS (SELECT qd.query_id, x.vec_id AS neighbor_id,
       |        CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
       |       FROM codes x
       |       JOIN assign a2 ON a2.vec_id = x.vec_id
       |       JOIN qd ON qd.ccid = a2.ccid AND qd.s = x.s AND qd.rcid = x.code
       |       WHERE x.vec_id <> qd.query_id
       |       GROUP BY qd.query_id, x.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, adc_dist,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY adc_dist, neighbor_id) AS rk FROM ad)""".stripMargin

  private def annIvfPqTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.ivfPqTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annIvfPqTopkSql =
    s"""WITH $DuckPrepared,
       |un AS (SELECT vec_id, list_transform(range(1, len(xs) + 1),
       |        i -> CAST(floor(CAST(xs[i] AS DOUBLE) * 1000000 /
       |               sqrt(CAST(norm2 AS DOUBLE))) AS BIGINT)) AS xs
       |      FROM en2),
       |$DuckIvfPqBase
       |SELECT query_id, rk, neighbor_id, adc_dist
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private def annIvfPqRerankTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.ivfPqRerankTopK(Tables.embeddings(s, dir),
        col("vec_id") % 50 === 0, k = 5, shortlist = 50)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annIvfPqRerankTopkSql =
    s"""WITH $DuckPrepared,
       |un AS (SELECT vec_id, list_transform(range(1, len(xs) + 1),
       |        i -> CAST(floor(CAST(xs[i] AS DOUBLE) * 1000000 /
       |               sqrt(CAST(norm2 AS DOUBLE))) AS BIGINT)) AS xs
       |      FROM en2),
       |$DuckIvfPqBase,
       |cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 50),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |        ${duckCos("qv.xs", "qv.norm2", "v.xs", "v.norm2")} AS cos
       |       FROM cand c JOIN en2 qv ON qv.vec_id = c.query_id
       |                   JOIN en2 v ON v.vec_id = c.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM rr WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ===================================================================
  // Event funnel
  // ===================================================================

  /** Three-step earliest-completion funnel (view -> click -> purchase,
    * 7-day conversion window from the first view). Comparisons run on raw
    * micros for exact strict-ordering; output floors to epoch millis like
    * every other event query. One exchange total (stacked same-key window
    * layers — see `operators.Funnel`). */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir).select(
      col("user_id"), col("event_type"), col("ts_us"))
    operators.Funnel.earliestCompletion(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), Some(7L * 24 * 3600 * 1000000L))
      .select(col("user_id"),
        expr("t1 div 1000").as("t1_ms"),
        expr("t2 div 1000").as("t2_ms"),
        expr("t3 div 1000").as("t3_ms"),
        col("depth").cast("long").as("depth"))
      .orderBy("user_id")
  }

  private val qFunnelSql =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsn FROM events),
       |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tsn END)
       |         OVER (PARTITION BY user_id) AS t1 FROM ev),
       |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND tsn > t1
       |           AND tsn <= t1 + 604800000000 THEN tsn END)
       |         OVER (PARTITION BY user_id) AS t2 FROM s1),
       |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND tsn > t2
       |           AND tsn <= t1 + 604800000000 THEN tsn END)
       |         OVER (PARTITION BY user_id) AS t3 FROM s2)
       |SELECT DISTINCT user_id, t1 // 1000 AS t1_ms, t2 // 1000 AS t2_ms,
       |  t3 // 1000 AS t3_ms,
       |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
       |       ELSE 1 END AS BIGINT) AS depth
       |FROM s3 WHERE t1 IS NOT NULL ORDER BY user_id""".stripMargin

  // ===================================================================
  // Bucketed co-located join
  // ===================================================================

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

  // ===================================================================
  // BM25 keyword search
  // ===================================================================

  private val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("join", "merge"),
    1L -> Seq("window", "filter"),
    2L -> Seq("spark", "stream", "batch"))

  /** BM25 top-10 over the documents corpus for a three-query workload
    * (rational ln-free idf, exact BIGINT scoring — see pipeline.Search). */
  private def qBm25Topk(s: SparkSession, dir: String): DataFrame =
    pipeline.Search.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Bm25Queries, k = 10)
      .orderBy("query_id", "rk")

  private val qBm25TopkSql = {
    val values = Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
       |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |    (SELECT SUM(dl) FROM dl) AS sum_dl),
       |q(query_id, term) AS (VALUES $values),
       |dft AS (SELECT term, COUNT(*) AS df FROM postings
       |  WHERE term IN (SELECT term FROM q) GROUP BY 1),
       |contrib AS (SELECT q.query_id, p.doc_id,
       |    (((2 * (s.n - f.df) + 1) * 1000000) // (2 * f.df + 1)
       |      * ((p.tf * 2200000 * 1000000)
       |         // (p.tf * 1000000 + (1200000 * (1000000 - 750000 +
       |              (750000 * ((d.dl * s.n * 1000000) // s.sum_dl)) // 1000000))
       |            // 1000000))) // 1000000 AS c
       |  FROM q JOIN postings p USING (term)
       |  JOIN dft f USING (term) JOIN dl d USING (doc_id)
       |  CROSS JOIN stats s),
       |scored AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micros
       |  FROM contrib GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micros DESC, doc_id) AS rk FROM scored)
       |SELECT query_id, rk, doc_id, score_micros
       |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
  }

  /** Same workload, scoring, and oracle as [[qBm25Topk]], answered from a
    * PREBUILT inverted index (Search.buildIndex): the registered query
    * pays build + query — honest for the gate — while the scale claim is
    * that every SUBSEQUENT query reuses the index and touches only the
    * term-pruned postings files (SearchSpec pins the `In(term, ...)`
    * pushdown into the postings scan). */
  private def qBm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_index", dir).getPath
    pipeline.Search.buildIndex(Tables.documents(s, dir), "doc_id", "text", idx)
    pipeline.Search.bm25TopKIndexed(s, idx, Bm25Queries, k = 10)
      .orderBy("query_id", "rk")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }

  /** Scratch directory for a gate's standing-index files, keyed by the
    * SANITIZED full sf-dir path (collision-free across sf dirs, unlike a
    * 32-bit hash) plus the JVM's pid, so concurrent harness runs sharing
    * /tmp never collide while build-once gates still reuse the index
    * within a run. Local-filesystem parquet: driver and executors must
    * share the filesystem — true for local[*] and the same-host cluster
    * gate; a fleet deployment points index roots at shared storage
    * instead. */
  private def indexScratch(kind: String, dir: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      "graft_" + kind + "_" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
        "_p" + ProcessHandle.current().pid())

  /** BM25 served from a MAINTAINED standing index: build the inverted
    * index on half the corpus, fold in the other half via
    * [[pipeline.Search.refreshIndex]] (batch postings appended, term dfs
    * and stats merged — the ledger half is never re-tokenized), then
    * answer the [[qBm25Topk]] workload from it. Because refresh == a
    * from-scratch rebuild relation-for-relation (SearchSpec pins the
    * three index relations), the results equal [[qBm25Topk]]'s over the
    * full corpus — this gate shares that oracle verbatim, so any refresh
    * drift (lost posting, double-counted df, stale stats) fails the hash
    * end-to-end. The index dir is recreated per invocation: refresh
    * APPENDS, so replaying onto a stale dir would double-count — the
    * same new-ids admission contract every standing index here carries. */
  private def qBm25IndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_refresh", dir)
    deleteRecursively(idx)
    val docs = Tables.documents(s, dir)
    pipeline.Search.buildIndex(docs.where(col("doc_id") % 10 < 5),
      "doc_id", "text", idx.getPath)
    pipeline.Search.refreshIndex(s, idx.getPath,
      docs.where(col("doc_id") % 10 >= 5), "doc_id", "text")
    pipeline.Search.bm25TopKIndexed(s, idx.getPath, Bm25Queries, k = 10)
      .orderBy("query_id", "rk")
  }

  /** The BM25 index lifecycle across a COMPACTION boundary — the
    * [[annIvfRetrain]] arc for the lexical tier: build on 30%, refresh a
    * 30% batch, compact ([[pipeline.Search.compactIndex]] re-clusters the
    * refresh-chained index into fresh range-sorted files DERIVED FROM ITS
    * OWN POSTINGS — index-sized, nothing re-tokenizes raw text — and
    * publishes them as a new generation with one atomic pointer flip;
    * BM25's "retrain" is re-layout rather than re-learn, since the index
    * has no trained state), then refresh the last 40% onto the compacted
    * generation and serve the [[qBm25Topk]] workload. Results must equal the full-corpus BM25 — this gate
    * shares [[qBm25TopkSql]] verbatim, so a compaction that lost a
    * posting, double-counted a df, or a post-compact refresh that
    * re-appended onto stale files fails the hash end-to-end. SearchSpec
    * additionally pins the compacted directory content-equal to a fresh
    * build. */
  private def qBm25Retrain(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_retrain", dir)
    deleteRecursively(idx)
    val docs = Tables.documents(s, dir)
    pipeline.Search.buildIndex(docs.where(col("doc_id") % 10 < 3),
      "doc_id", "text", idx.getPath)
    pipeline.Search.refreshIndex(s, idx.getPath,
      docs.where(col("doc_id") % 10 >= 3 && col("doc_id") % 10 < 6),
      "doc_id", "text")
    pipeline.Search.compactIndex(s, idx.getPath)
    pipeline.Search.refreshIndex(s, idx.getPath,
      docs.where(col("doc_id") % 10 >= 6), "doc_id", "text")
    pipeline.Search.bm25TopKIndexed(s, idx.getPath, Bm25Queries, k = 10)
      .orderBy("query_id", "rk")
  }

  /** Hybrid retrieval: BM25 more-like-this (each query doc's top-5 tf
    * terms, self excluded) fused with IVF cosine top-10 over the
    * embeddings by reciprocal-rank fusion (c=60, integer micros). Query
    * workload is PINNED (doc_id % 40 == 0 restricted to the
    * first-2000-id prefix — the q_ann_recall precedent): amplified
    * corpora append ids above the prefix, so the gate's query count
    * stays fixed and the measurement tracks the per-query serving cost,
    * not queries x corpus growth (the r8 gate grew both arms with the
    * corpus and measured 3.2x at 10x — the gate, not the operator).
    * The vector arm is the production Ivf path (nprobe-bounded bucket
    * probing), not bruteTopK; docs without an embedding degrade to
    * lexical-only — the production behavior for a corpus with partial
    * embedding coverage. Both lists are workload-sized, so the fusion
    * join touches |queries| * k rows, nothing corpus-sized. */
  private val hybridQueryPred = col("doc_id") % 40 === 0 && col("doc_id") < 2000
  private val hybridVecPred = col("vec_id") % 40 === 0 && col("vec_id") < 2000

  private def qHybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    val text = pipeline.Search.moreLikeThis(Tables.documents(s, dir),
      "doc_id", "text", hybridQueryPred, nTerms = 5, k = 10)
    val vec = pipeline.Ivf.searchTopK(
        Tables.embeddings(s, dir), hybridVecPred, k = 10)
      .withColumnRenamed("rank", "rk")
      .withColumnRenamed("neighbor_id", "doc_id")
    pipeline.Search.rrfFuse(text, vec, k = 10)
      .orderBy("query_id", "rk")
  }

  /** [[qHybridRetrieval]]'s lexical arm answered from the PREBUILT
    * inverted index (Search.moreLikeThisIndexed): identical values and
    * ranks — the oracle is the same SQL as q_hybrid_retrieval — but
    * query-term derivation and ranking read the persisted postings
    * instead of re-tokenizing the corpus per invocation. The index is
    * built once per sf dir (build-if-absent on the stats _SUCCESS
    * marker; q_bm25_indexed rebuilds the same deterministic content),
    * so this gate measures the steady-state serving cost, which is the
    * scale claim: at 100 TB you amortize ONE tokenize+index pass over
    * every retrieval that follows. */
  private def qHybridRetrievalIndexed(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_index", dir).getPath
    // build-if-absent on the published generation pointer (IndexGen):
    // q_bm25_indexed publishes the same deterministic content
    if (pipeline.IndexGen.current(idx).isEmpty)
      pipeline.Search.buildIndex(Tables.documents(s, dir), "doc_id", "text", idx)
    val text = pipeline.Search.moreLikeThisIndexed(s, idx,
      hybridQueryPred, nTerms = 5, k = 10)
    val vec = pipeline.Ivf.searchTopK(
        Tables.embeddings(s, dir), hybridVecPred, k = 10)
      .withColumnRenamed("rank", "rk")
      .withColumnRenamed("neighbor_id", "doc_id")
    pipeline.Search.rrfFuse(text, vec, k = 10)
      .orderBy("query_id", "rk")
  }

  private val qHybridRetrievalSql =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest($DuckToks) AS term FROM documents),
       |postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
       |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |    (SELECT SUM(dl) FROM dl) AS sum_dl),
       |q AS (SELECT query_id, term FROM (
       |    SELECT doc_id AS query_id, term,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY tf DESC, term) AS trk
       |    FROM postings WHERE doc_id % 40 = 0 AND doc_id < 2000)
       |  WHERE trk <= 5),
       |dft AS (SELECT term, COUNT(*) AS df FROM postings
       |  WHERE term IN (SELECT term FROM q) GROUP BY 1),
       |contrib AS (SELECT q.query_id, p.doc_id,
       |    (((2 * (s.n - f.df) + 1) * 1000000) // (2 * f.df + 1)
       |      * ((p.tf * 2200000 * 1000000)
       |         // (p.tf * 1000000 + (1200000 * (1000000 - 750000 +
       |              (750000 * ((d.dl * s.n * 1000000) // s.sum_dl)) // 1000000))
       |            // 1000000))) // 1000000 AS c
       |  FROM q JOIN postings p USING (term)
       |  JOIN dft f USING (term) JOIN dl d USING (doc_id)
       |  CROSS JOIN stats s),
       |tscored AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micros
       |  FROM contrib WHERE doc_id <> query_id GROUP BY 1, 2),
       |rtext AS (SELECT query_id, doc_id, rk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micros DESC, doc_id) AS rk FROM tscored)
       |  WHERE rk <= 10),
       |$DuckPrepared,
       |vq AS (SELECT vec_id AS query_id, xs, norm2
       |  FROM en2 WHERE vec_id % 40 = 0 AND vec_id < 2000),
       |${duckIvfSearch("vq", "ivfr")},
       |rvec AS (SELECT query_id, neighbor_id AS doc_id, rk
       |  FROM ivfr WHERE rk <= 10),
       |ta AS (SELECT query_id, doc_id,
       |    CAST(1000000 // (60 + rk) AS BIGINT) AS a_micros,
       |    CAST(rk AS BIGINT) AS a_rk FROM rtext),
       |tb AS (SELECT query_id, doc_id,
       |    CAST(1000000 // (60 + rk) AS BIGINT) AS b_micros,
       |    CAST(rk AS BIGINT) AS b_rk FROM rvec),
       |fused AS (SELECT COALESCE(ta.query_id, tb.query_id) AS query_id,
       |    COALESCE(ta.doc_id, tb.doc_id) AS doc_id,
       |    COALESCE(a_micros, 0) + COALESCE(b_micros, 0) AS rrf_micros,
       |    COALESCE(a_rk, 0) AS text_rk, COALESCE(b_rk, 0) AS vec_rk
       |  FROM ta FULL OUTER JOIN tb
       |    ON ta.query_id = tb.query_id AND ta.doc_id = tb.doc_id)
       |SELECT query_id, CAST(rrk AS BIGINT) AS rk, doc_id, rrf_micros,
       |  text_rk, vec_rk
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micros DESC, doc_id) AS rrk FROM fused)
       |WHERE rrk <= 10 ORDER BY query_id, rk""".stripMargin

  // ===================================================================
  // SCD2 history + CUBE grouping sets
  // ===================================================================

  /** SCD2 effective-dated state history over the events change log:
    * per-user event_type intervals with consecutive no-ops collapsed.
    * Interval boundaries computed on raw micros, floored to ms on output
    * (see operators.Scd2 — one exchange for the whole operator). */
  private def qScd2Users(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir).select(
      col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
    operators.Scd2.history(ev, Seq("user_id"), "ts_us", Seq("event_id"),
        Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        expr("valid_from div 1000").as("valid_from_ms"),
        expr("valid_to div 1000").as("valid_to_ms"),
        col("is_current"))
      .orderBy("user_id", "valid_from_ms", "event_type")
  }

  private val qScd2UsersSql =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type
       |  FROM events),
       |lagged AS (SELECT *, lag(event_type) OVER (
       |    PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM ev),
       |dd AS (SELECT * FROM lagged WHERE prev IS NULL OR prev <> event_type),
       |iv AS (SELECT user_id, event_type, tsn AS vf, lead(tsn) OVER (
       |    PARTITION BY user_id ORDER BY tsn, event_id) AS vt FROM dd)
       |SELECT user_id, event_type, vf // 1000 AS valid_from_ms,
       |  vt // 1000 AS valid_to_ms, vt IS NULL AS is_current
       |FROM iv ORDER BY user_id, valid_from_ms, event_type""".stripMargin

  /** CUBE over (event_type, day-of-week): all four grouping sets in one
    * pass. Same scale shape as the ROLLUP gate: the cube runs over the
    * COMPACT per-(type, dow) partial relation, not the raw facts, so the
    * grouping-set Expand multiplies 35 rows, not 100M. Day-of-week is
    * integer epoch arithmetic (1970-01-01 was a Thursday), not a date
    * function — exact on both engines. */
  private def qEventCube(s: SparkSession, dir: String): DataFrame = {
    val partials = eventsBase(s, dir)
      .withColumn("dow", expr("((ts_ms div 86400000) + 4) % 7"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("pn"),
        sum((col("value") * lit(1000000.0)).cast(DecimalType(38, 0))).as("pv"))
    partials
      .cube("event_type", "dow")
      .agg(grouping_id().as("gid"), sum("pn").as("n_events"),
        sum("pv").cast("long").as("sum_value_micros"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("gid").cast("long").as("gid"),
        col("n_events").cast("long").as("n_events"), col("sum_value_micros"))
      .orderBy("event_type", "dow", "gid")
  }

  private val qEventCubeSql =
    s"""WITH ev AS (SELECT event_type,
       |    ((epoch_ms(ts) // 86400000) + 4) % 7 AS dow, value FROM events)
       |SELECT COALESCE(event_type, 'ALL') AS event_type,
       |  COALESCE(dow, -1) AS dow,
       |  CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
       |  COUNT(*) AS n_events,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM ev GROUP BY CUBE(event_type, dow)
       |ORDER BY event_type, dow, gid""".stripMargin

  // ===================================================================
  // Z-order layout
  // ===================================================================

  /** Morton keys of (l_partkey, l_suppkey) for every lineitem row — the
    * write-side computation of multi-dimensional clustering (see
    * operators.ZOrder; ZOrderSpec measures the pruning effect). The gate
    * pins the bit-exact interleave against the same magic-number spread
    * re-derived in SQL. */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        operators.ZOrder.zValue2(col("l_partkey"), col("l_suppkey")).as("z"))
      .orderBy("z", "l_orderkey", "l_linenumber")

  /** The five magic-number spread steps as SQL text (each step referenced
    * twice, so the expression is 2^5 copies of `e` — fine for a column
    * name). */
  private def spreadSql(e: String): String = {
    var s = s"(($e | ($e << 16)) & 281470681808895)"
    s = s"(($s | ($s << 8)) & 71777214294589695)"
    s = s"(($s | ($s << 4)) & 1085102592571150095)"
    s = s"(($s | ($s << 2)) & 3689348814741910323)"
    s"(($s | ($s << 1)) & 6148914691236517205)"
  }

  private val qZorderLayoutSql =
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |  l_partkey, l_suppkey,
       |  (${spreadSql("l_partkey")} | (${spreadSql("l_suppkey")} << 1)) AS z
       |FROM lineitem ORDER BY z, l_orderkey, l_linenumber""".stripMargin

  /** Hilbert-curve layout key (operators.Hilbert): the same two-column
    * clustering surface as q_zorder_layout but on the jump-free curve —
    * 31 unrolled quadrant steps, each a few integer CASEs, all narrow
    * whole-stage-codegen projections. The oracle replays the identical
    * CTE chain (Hilbert.sqlSteps), so every per-row index is under the
    * hash, not a spot check. */
  private def qHilbertLayout(s: SparkSession, dir: String): DataFrame =
    // NOT widened: the in-JVM A/B put the widened form ~0.3 s SLOWER
    // steady-state (1.0 -> 1.4 s) — the 31 quadrant steps are cheap
    // codegen next to the range-sort exchange the query ends in, so the
    // extra repartition buys nothing the sort's own exchange doesn't
    operators.Hilbert.withIndex(
        Tables.lineitem(s, dir).select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey", bits = 31, out = "h")
      .orderBy("h", "l_orderkey", "l_linenumber")

  private val qHilbertLayoutSql =
    s"""WITH ${operators.Hilbert.sqlSteps(31, "l_partkey", "l_suppkey",
        Seq("l_orderkey", "CAST(l_linenumber AS BIGINT) AS l_linenumber",
          "l_partkey", "l_suppkey"), "lineitem")}
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, d AS h
       |FROM h31 ORDER BY h, l_orderkey, l_linenumber""".stripMargin

  // ===================================================================
  // Triangle counting
  // ===================================================================

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

  // ===================================================================
  // Fuzzy (edit-distance) join
  // ===================================================================

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

  // ===================================================================
  // Cohort retention
  // ===================================================================

  /** Daily cohort retention matrix: users grouped by first-event day,
    * counted on each later day they made a purchase. Two aggregates +
    * one join, all keyed on user_id (the first-event relation reuses the
    * activity partitioning); integer epoch-day arithmetic. */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsBase(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_ms div 86400000").as("day"))
    val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.where(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("offset_days"))
      .distinct()
      .groupBy("cohort_day", "offset_days")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  private val qRetentionSql =
    s"""WITH ev AS (SELECT user_id, event_type,
       |    epoch_ms(ts) // 86400000 AS day FROM events),
       |first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1),
       |activity AS (SELECT DISTINCT e.user_id, f.cohort_day,
       |    e.day - f.cohort_day AS offset_days
       |  FROM ev e JOIN first f USING (user_id)
       |  WHERE e.event_type = 'purchase')
       |SELECT cohort_day, offset_days, COUNT(*) AS n_users
       |FROM activity GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ===================================================================
  // Snapshot diff, event transitions, outliers
  // ===================================================================

  /** Snapshot reconciliation: documents vs a deterministically-edited v2
    * (drops, text rewrites, additions derived in-query so the oracle can
    * re-derive them). Added docs get fresh NEGATIVE ids — an offset
    * ("+1e9") is only fresh until a ScaleUp stride reaches it (the 100x
    * directory's second-pass stride IS 1e9), a negation never collides.
    * One full-outer join (see operators.Diff). */
  private def qTableDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(s, dir).select("doc_id", "text", "lang")
    val v2 = v1
      .where(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 61 === 0, upper(col("text"))).otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 103 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("text"), col("lang")))
    operators.Diff.diff(v1, v2, Seq("doc_id")).orderBy("doc_id")
  }

  private val qTableDiffSql =
    s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
       |v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 61 = 0 THEN upper(text) ELSE text END AS text,
       |    lang
       |  FROM v1 WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1, text, lang FROM v1 WHERE doc_id % 103 = 0)
       |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       |  CASE WHEN v1.doc_id IS NULL THEN 'added'
       |       WHEN v2.doc_id IS NULL THEN 'removed'
       |       WHEN v1.text IS DISTINCT FROM v2.text
       |         OR v1.lang IS DISTINCT FROM v2.lang THEN 'changed' END AS change
       |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
       |WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL
       |  OR v1.text IS DISTINCT FROM v2.text OR v1.lang IS DISTINCT FROM v2.lang)
       |ORDER BY doc_id""".stripMargin

  /** Malformed-JSONL quarantine (sources.Quarantine): JSONL lines are
    * constructed arithmetically from the documents table — every %13
    * line truncated mid-string (syntactically invalid), every other %17
    * line valid but missing `lang` (schema drift) — then split by the
    * real `from_json` parser. The oracle re-derives every verdict and
    * every parsed field from the construction rule WITHOUT parsing JSON,
    * so the gate pins that the parser's accept/reject boundary and field
    * extraction match the rule exactly (a PERMISSIVE-mode regression —
    * e.g. the null-struct-vs-null-fields trap — flips statuses and fails
    * the hash). `parsed_id` doubles as an integrity check: it must equal
    * the carried doc_id on every parsed row. */
  private def qJsonQuarantine(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 13 === 0,
        concat(lit("{\"id\": "), col("doc_id").cast("string"),
          lit(", \"lang\": \""), col("lang")))
      .when(col("doc_id") % 17 === 0,
        concat(lit("{\"id\": "), col("doc_id").cast("string"), lit("}")))
      .otherwise(
        concat(lit("{\"id\": "), col("doc_id").cast("string"),
          lit(", \"lang\": \""), col("lang"), lit("\"}")))
      .as("line"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    sources.Quarantine.split(lines, "line", schema)
      .select(col("doc_id"),
        when(col("quarantined"), "quarantined").otherwise("parsed").as("status"),
        col("parsed.id").as("parsed_id"),
        col("parsed.lang").as("parsed_lang"))
      .orderBy("doc_id")
  }

  private val qJsonQuarantineSql =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 13 = 0 THEN 'quarantined'
       |       ELSE 'parsed' END AS status,
       |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END AS parsed_id,
       |  CASE WHEN doc_id % 13 = 0 OR doc_id % 17 = 0 THEN NULL
       |       ELSE lang END AS parsed_lang
       |FROM documents ORDER BY doc_id""".stripMargin

  /** CDC apply (operators.Upsert): fold a versioned upsert/delete change
    * batch into the customer snapshot, last-writer-wins per key. The
    * batch is derived arithmetically from the corpus so the oracle can
    * replay it: v1 upserts every %5 key (payload mutation), a v2
    * takedown deletes every %7 key, a v3 re-upsert resurrects every %35
    * key (proving LWW beats the delete, not branch order), and %97 keys
    * insert under fresh NEGATIVE ids — negated rather than offset,
    * because "fresh" must survive key-stride amplification: the 10x
    * multi-JVM gate caught the original `+10000000` insert ids colliding
    * with ScaleUp copy-1 customers, producing two v=1 upserts per key
    * whose winner was partition-order-dependent. The versions-CAN-collide
    * contract is exercised DELIBERATELY: every %55 key gets a second v=1
    * upsert (`t1:` payload) alongside its `u1:` one, so the
    * `tieCols = (op, c_name)` ordering is genuinely consulted — both
    * engines must rank `u1:` over `t1:` (c_name DESC) or the hash splits;
    * without such a pair the tie path would be dead code the gate merely
    * claims to cover. Account balances travel as BIGINT micros so no
    * DOUBLE crosses the compare boundary. */
  private def qApplyChanges(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      expr("CAST(floor(c_acctbal * 1000000.0) AS BIGINT)").as("acct_micros"),
      col("c_mktsegment"))
    val payload = Seq("c_name", "c_nationkey", "acct_micros", "c_mktsegment")
    val up1 = c.where(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), concat(lit("u1:"), col("c_name")).as("c_name"),
        col("c_nationkey"), (col("acct_micros") + 1111111L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(1L).as("v"))
    val del2 = c.where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
        lit(null).cast("int").as("c_nationkey"),
        lit(null).cast("long").as("acct_micros"),
        lit(null).cast("string").as("c_mktsegment"),
        lit("delete").as("op"), lit(2L).as("v"))
    val up3 = c.where(col("c_custkey") % 35 === 0)
      .select(col("c_custkey"), concat(lit("u3:"), col("c_name")).as("c_name"),
        col("c_nationkey"), (col("acct_micros") + 5L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(3L).as("v"))
    val ins = c.where(col("c_custkey") % 97 === 0)
      .select((-col("c_custkey") - 1L).as("c_custkey"),
        concat(lit("new:"), col("c_name")).as("c_name"),
        col("c_nationkey"), lit(42000000L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(1L).as("v"))
    // the deliberate equal-version pair: a SECOND v=1 upsert per %55 key
    // (every %55 key already has the u1 row), loser by c_name tie-break
    val up1b = c.where(col("c_custkey") % 55 === 0)
      .select(col("c_custkey"), concat(lit("t1:"), col("c_name")).as("c_name"),
        col("c_nationkey"), (col("acct_micros") + 2222222L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(1L).as("v"))
    val changes = up1.unionByName(del2).unionByName(up3).unionByName(ins)
      .unionByName(up1b)
    operators.Upsert.applyChanges(c, changes, Seq("c_custkey"), payload,
        opCol = "op", versionCol = "v", tieCols = Seq("op", "c_name"))
      .orderBy("c_custkey")
  }

  private val qApplyChangesSql =
    s"""WITH c AS (SELECT c_custkey, c_name, c_nationkey,
       |    CAST(floor(c_acctbal * 1000000.0) AS BIGINT) AS acct_micros,
       |    c_mktsegment FROM customer),
       |ch AS (
       |  SELECT c_custkey, 'u1:' || c_name AS c_name, c_nationkey,
       |    acct_micros + 1111111 AS acct_micros, c_mktsegment,
       |    'upsert' AS op, 1 AS v FROM c WHERE c_custkey % 5 = 0
       |  UNION ALL
       |  SELECT c_custkey, NULL, NULL, NULL, NULL, 'delete', 2
       |  FROM c WHERE c_custkey % 7 = 0
       |  UNION ALL
       |  SELECT c_custkey, 'u3:' || c_name, c_nationkey, acct_micros + 5,
       |    c_mktsegment, 'upsert', 3 FROM c WHERE c_custkey % 35 = 0
       |  UNION ALL
       |  SELECT -c_custkey - 1, 'new:' || c_name, c_nationkey,
       |    42000000, c_mktsegment, 'upsert', 1
       |  FROM c WHERE c_custkey % 97 = 0
       |  UNION ALL
       |  SELECT c_custkey, 't1:' || c_name, c_nationkey,
       |    acct_micros + 2222222, c_mktsegment, 'upsert', 1
       |  FROM c WHERE c_custkey % 55 = 0),
       |w AS (SELECT * FROM (SELECT ch.*, row_number() OVER (
       |    PARTITION BY c_custkey
       |    ORDER BY v DESC, op DESC, c_name DESC) AS rk FROM ch)
       |  WHERE rk = 1)
       |SELECT COALESCE(c.c_custkey, w.c_custkey) AS c_custkey,
       |  CASE WHEN w.op = 'upsert' THEN w.c_name ELSE c.c_name END AS c_name,
       |  CASE WHEN w.op = 'upsert' THEN w.c_nationkey
       |       ELSE c.c_nationkey END AS c_nationkey,
       |  CASE WHEN w.op = 'upsert' THEN w.acct_micros
       |       ELSE c.acct_micros END AS acct_micros,
       |  CASE WHEN w.op = 'upsert' THEN w.c_mktsegment
       |       ELSE c.c_mktsegment END AS c_mktsegment
       |FROM c FULL OUTER JOIN w ON c.c_custkey = w.c_custkey
       |WHERE w.op IS NULL OR w.op <> 'delete'
       |ORDER BY c_custkey""".stripMargin

  /** The apply-able delta between the q_table_diff snapshots
    * (Diff.changeSet): added/changed docs as upserts carrying the NEW
    * payload, removed docs as tombstones — the batch a downstream
    * Upsert.applyChanges consumer replays (the closure
    * `apply(v1, changeSet(v1,v2)) == v2` is UpsertSpec-pinned; this gate
    * hashes the exported rows themselves). */
  private def qChangeSet(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(s, dir).select("doc_id", "text", "lang")
    val v2 = v1
      .where(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 61 === 0, upper(col("text"))).otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 103 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("text"), col("lang")))
    operators.Diff.changeSet(v1, v2, Seq("doc_id")).orderBy("doc_id")
  }

  private val qChangeSetSql =
    s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
       |v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 61 = 0 THEN upper(text) ELSE text END AS text,
       |    lang
       |  FROM v1 WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1, text, lang FROM v1 WHERE doc_id % 103 = 0)
       |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       |  CASE WHEN v2.doc_id IS NOT NULL THEN v2.text END AS text,
       |  CASE WHEN v2.doc_id IS NOT NULL THEN v2.lang END AS lang,
       |  CASE WHEN v2.doc_id IS NULL THEN 'delete' ELSE 'upsert' END AS op,
       |  CAST(1 AS BIGINT) AS v
       |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
       |WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL
       |  OR v1.text IS DISTINCT FROM v2.text OR v1.lang IS DISTINCT FROM v2.lang)
       |ORDER BY doc_id""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences:
    * consecutive (from, to) pairs by event_id order, counts and exact
    * integer-micros conditional probabilities. One window shuffle. */
  private def qEventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    eventsBase(s, dir)
      .withColumn("from_type", lag("event_type", 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_micros",
        expr("n * 1000000 div sum(n) over (partition by from_type)"))
      .orderBy("from_type", "to_type")
  }

  private val qEventTransitionsSql =
    s"""WITH ev AS (SELECT user_id, event_id, event_type FROM events),
       |seq AS (SELECT event_type AS to_type, lag(event_type) OVER (
       |    PARTITION BY user_id ORDER BY event_id) AS from_type FROM ev),
       |pairs AS (SELECT from_type, to_type, COUNT(*) AS n FROM seq
       |  WHERE from_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, n,
       |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
       |    AS p_micros
       |FROM pairs ORDER BY from_type, to_type""".stripMargin

  /** IQR outliers per event type: exact rank-statistic quartiles, fence
    * arithmetic on raw doubles — the SAME IEEE operations in the same
    * order on both engines, so the comparison is bit-deterministic
    * without emitting any double. The quartiles come from
    * `Quantiles.exactRankStatistics` (range-partitioned distributed
    * selection) rather than a per-group `row_number` sort: with 5 event
    * types the sort tier caps parallelism at 5 tasks — the r11 100x
    * sweep measured 37.5x wall for 100x data — while the selection form
    * is exact at `partitions`-way parallelism. The value at a rank
    * depends only on the value multiset, so dropping the old
    * (value, event_id) tie-break changes nothing the oracle can see. */
  private def qValueOutliers(s: SparkSession, dir: String): DataFrame = {
    val base = eventsBase(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val quartiles = operators.Quantiles.exactRankStatistics(
      base, Seq("event_type"), "value",
      Seq("q1" -> (n => (n + 3) / 4), "q3" -> (n => (3 * n + 3) / 4)))
    val fences = quartiles
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    base.join(broadcast(fences.select("event_type", "hi")), "event_type")
      .where(col("value") > col("hi"))
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id")
  }

  /** Exact equi-depth histogram of event values per type
    * (operators.Histogram): 8 buckets, upper bounds at rank
    * ceil(i*n/8) — the optimizer-statistics tier next to graft_cms_dot
    * (range selectivity reads straight off the buckets). The oracle
    * replays ranks, bounds, cumulative counts and the difference. */
  private def qValueHistogram(s: SparkSession, dir: String): DataFrame =
    operators.Histogram.equiDepth(
        eventsBase(s, dir).select(col("event_type"), col("value")),
        Seq("event_type"), "value", k = 8)
      .orderBy("event_type", "bucket")

  /** Sketch-merge twin of q_value_histogram (Histogram.equiDepthApprox):
    * bounds from merged percentile_approx partials instead of the
    * per-group rank sort — the few-groups/large-n scale path (5 event
    * types over 100 TB caps the exact form at 5 sort tasks; the sketch's
    * parallelism follows the data). The gate requires `accuracy > n` per
    * group and `k = 8` (power of two), where the GK sketch is provably
    * exact at rank `ceil(i*n/k)` — so the oracle is the SAME SQL as
    * `q_value_histogram` and the two must agree row-for-row (the
    * q_value_outliers_approx precedent). The accuracy is DERIVED at gate
    * time (next power of two above the max group count, floor 2^22) so
    * an amplified corpus crossing 4.19M rows per event_type grows the
    * pin instead of silently voiding the exactness contract and making
    * the gate failure look like an operator bug.
    *
    * CALIBRATION-ONLY configuration (registered in
    * `tools/calibration_only.json`):
    * the `accuracy > n` pin makes the GK sketch hold every value, so the
    * sketch tier deliberately costs MORE than the exact sort at scale
    * (28.8x at 100x, r11 sweep) — that is the pin working, not a
    * regression. Production callers use `q_value_histogram_bounded`
    * (fixed accuracy=1000 under the rank-contract gate). */
  private def qValueHistogramApprox(s: SparkSession, dir: String): DataFrame = {
    val base = eventsBase(s, dir).select(col("event_type"), col("value"))
    operators.Histogram.equiDepthApprox(
        base, Seq("event_type"), "value", k = 8,
        accuracy = exactnessAccuracy(base, Seq("event_type"), "value"))
      .orderBy("event_type", "bucket")
  }

  /** The PRODUCTION sketch configuration under an exact rank-contract
    * gate (Quantiles.boundedQuantileCheck): quartiles + p90 of event
    * values per type at a FIXED accuracy=1000 — the bounded-memory
    * setting a 100 TB caller would actually use (the `_approx` gates'
    * derived `accuracy > n` exactness pin inverts at scale: the 100x
    * probe measured the pinned sketch SLOWER than the exact sort tier).
    * The sketch's answer is not SQL-reproducible, but its GK guarantee
    * is: the claimed value's exact corpus rank must fall within
    * `n/accuracy + 1` of `ceil(p*n)`. The operator re-derives that rank
    * with one broadcast-join counting pass, and the oracle pins
    * `ok = true` with n/tol recomputed from the corpus — a sketch-merge
    * regression flips `ok` and fails the hash, at ANY corpus size (no
    * per-sf pin to maintain). */
  private def qValueHistogramBounded(s: SparkSession, dir: String): DataFrame =
    operators.Quantiles.boundedQuantileCheck(
        eventsBase(s, dir).select(col("event_type"), col("value")),
        Seq("event_type"), "value", Seq(0.25, 0.5, 0.75, 0.9),
        accuracy = 1000)
      .orderBy("event_type", "p_micros")

  private val qValueHistogramBoundedSql =
    s"""WITH g AS (SELECT event_type, COUNT(value) AS n FROM events
       |    WHERE value IS NOT NULL GROUP BY 1),
       |p AS (SELECT * FROM (VALUES (250000), (500000), (750000),
       |    (900000)) AS t(p_micros))
       |SELECT event_type, CAST(p_micros AS BIGINT) AS p_micros, n,
       |  n // 1000 + 1 AS tol, TRUE AS ok
       |FROM g CROSS JOIN p ORDER BY event_type, p_micros""".stripMargin

  /** Smallest power of two strictly above the max per-group non-null
    * count, floored at 2^22 — the `accuracy > n` GK-exactness pin for
    * the `_approx` gates, computed from the corpus so it holds at any
    * amplification. One small count-aggregate pass (metadata-sized
    * result); named assert so a pathological corpus fails by naming the
    * pin rather than surfacing as a hash mismatch. */
  private def exactnessAccuracy(df: DataFrame, groupCols: Seq[String],
      valueCol: String): Int = {
    val maxN = df.where(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*).count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    require(maxN < (1L << 30),
      s"GK exactness pin: max per-group n=$maxN needs accuracy > n " +
        "beyond 2^30 — the exact-agreement gate no longer applies; " +
        "use Quantiles.boundedQuantileCheck (the q_value_histogram_bounded " +
        "production-path gate) instead")
    math.max(1 << 22, java.lang.Long.highestOneBit(maxN) << 1).toInt
  }

  private val qValueHistogramSql =
    s"""WITH v AS (SELECT event_type,
       |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm FROM events
       |    WHERE value IS NOT NULL),
       |r AS (SELECT event_type, vm,
       |    row_number() OVER (PARTITION BY event_type ORDER BY vm) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM v),
       |b AS (SELECT event_type, i.bucket, MAX(vm) AS hi_micros
       |  FROM r CROSS JOIN (SELECT unnest(range(1, 9)) AS bucket) i
       |  WHERE rn = (i.bucket * n + 7) // 8
       |  GROUP BY 1, 2),
       |c AS (SELECT v.event_type, b.bucket, COUNT(*) AS cum
       |  FROM v JOIN b ON b.event_type = v.event_type AND v.vm <= b.hi_micros
       |  GROUP BY 1, 2)
       |SELECT c.event_type, c.bucket, b.hi_micros,
       |  CAST(cum - COALESCE(lag(cum) OVER (
       |    PARTITION BY c.event_type ORDER BY c.bucket), 0) AS BIGINT)
       |    AS n_bucket
       |FROM c JOIN b ON b.event_type = c.event_type AND b.bucket = c.bucket
       |ORDER BY c.event_type, c.bucket""".stripMargin

  /** Sketch-merge variant of the IQR-outlier query: quartiles come from
    * `percentile_approx` partials merged map-side (operators.Quantiles)
    * instead of a per-group global sort — the scale path for few-group
    * quantiles (5 event types over 100 TB caps the exact form's sort at 5
    * tasks; the sketch's parallelism follows the data). The gate requires
    * `accuracy > n` per group, where the GK sketch is provably exact at
    * rank `ceil(p*n)` — so the oracle is the SAME exact-fence SQL as
    * `q_value_outliers`, and the two queries must agree row-for-row. The
    * accuracy is derived at gate time ([[exactnessAccuracy]]) so corpus
    * amplification grows the pin instead of voiding it. Production
    * callers at 100 TB drop accuracy to bound sketch memory. */
  private def qValueOutliersApprox(s: SparkSession, dir: String): DataFrame = {
    val base = eventsBase(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    operators.Quantiles.iqrOutliers(
        base, Seq("event_type"), "value",
        accuracy = exactnessAccuracy(base, Seq("event_type"), "value"))
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id")
  }

  private val qValueOutliersSql =
    s"""WITH ranked AS (
       |  SELECT event_id, event_type, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |fences AS (
       |  SELECT event_type,
       |    MAX(CASE WHEN rk = (n + 3) // 4 THEN value END) AS q1,
       |    MAX(CASE WHEN rk = (3 * n + 3) // 4 THEN value END) AS q3
       |  FROM ranked GROUP BY event_type)
       |SELECT event_id, ranked.event_type
       |FROM ranked JOIN fences USING (event_type)
       |WHERE value > q3 + 1.5 * (q3 - q1)
       |ORDER BY event_id""".stripMargin

  // ===================================================================
  // Table constraint checking
  // ===================================================================

  /** Deequ-shaped constraint suite over orders: pk uniqueness, payload
    * completeness/positivity (one fused aggregate pass), FK coverage into
    * customer, and a deliberately failing uniqueness rule so the verdict
    * column is exercised both ways (see operators.Constraints). */
  private def qConstraintsOrders(s: SparkSession, dir: String): DataFrame = {
    import operators.Constraints
    val orders = Tables.orders(s, dir)
    Constraints.rowRules(orders, Seq(
        Constraints.RowRule("orders_totalprice_complete",
          col("o_totalprice").isNotNull, 1000000L),
        Constraints.RowRule("orders_totalprice_positive",
          col("o_totalprice") > 0, 1000000L),
        Constraints.RowRule("orders_status_domain",
          col("o_orderstatus").isin("O", "F", "P"), 1000000L)))
      .unionByName(Constraints.unique(orders, "orders_pk_unique",
        Seq("o_orderkey")))
      .unionByName(Constraints.unique(orders, "orders_custkey_unique",
        Seq("o_custkey"))) // deliberately failing: customers repeat
      .unionByName(Constraints.fkCoverage(orders, "o_custkey",
        Tables.customer(s, dir), "c_custkey", "orders_custkey_fk"))
      .orderBy("constraint")
  }

  private val qConstraintsOrdersSql =
    s"""SELECT 'orders_totalprice_complete' AS "constraint",
       |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS actual_micros,
       |  SUM(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000 AS satisfied FROM orders
       |UNION ALL
       |SELECT 'orders_totalprice_positive',
       |  CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT),
       |  SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_status_domain',
       |  CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
       |    * 1000000 // COUNT(*) AS BIGINT),
       |  SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_pk_unique',
       |  CAST(COUNT(DISTINCT o_orderkey) * 1000000 // COUNT(*) AS BIGINT),
       |  COUNT(DISTINCT o_orderkey) * 1000000 // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_custkey_unique',
       |  CAST(COUNT(DISTINCT o_custkey) * 1000000 // COUNT(*) AS BIGINT),
       |  COUNT(DISTINCT o_custkey) * 1000000 // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_custkey_fk',
       |  CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT),
       |  SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000
       |FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
       |  ON o.o_custkey = c.c_custkey
       |ORDER BY "constraint"""".stripMargin

  // ===================================================================
  // Skew diagnostics + partitioned layout
  // ===================================================================

  /** Key-skew report for a fact table's join/grouping key: per-key top-10
    * heavy hitters with exact integer-micros share, plus the max/avg skew
    * factor every key row carries. One hash aggregate + a TakeOrdered
    * top-10 (orderBy+limit: each map partition contributes at most 10
    * pre-sorted rows, no single-task global window); rank is re-derived
    * over the 10 survivors by a broadcast self-join — the diagnostic you
    * run BEFORE deciding to salt a join (operators/SaltedJoin). */
  private def qSkewReport(s: SparkSession, dir: String): DataFrame = {
    val counts = eventsBase(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val stats = counts.agg(sum("n").as("total"),
      count(lit(1)).as("n_keys"), max("n").as("max_n"))
    val top = counts.orderBy(col("n").desc, col("user_id")).limit(10)
      .localCheckpoint(true)
    // rk(a) = |{b in top : b sorts at-or-before a}| over the 10-row result
    top.join(
        broadcast(top.select(col("n").as("o_n"), col("user_id").as("o_user"))),
        col("o_n") > col("n") ||
          (col("o_n") === col("n") && col("o_user") <= col("user_id")))
      .groupBy("user_id", "n").agg(count(lit(1)).cast("int").as("rk"))
      .crossJoin(broadcast(stats))
      .select(col("rk"), col("user_id"), col("n"),
        expr("n * 1000000 div total").as("share_micros"),
        expr("max_n * n_keys * 1000000 div total").as("skew_factor_micros"))
      .orderBy("rk")
  }

  /** Salt advisor (SaltedJoin.adviseSalts): the skew diagnosis turned
    * into actionable salt factors — a key is hot when it exceeds one
    * task's fair share; its factor is ceil(n * tasks / total). Run here
    * on event_type (5 keys over the whole table: every key is hot at 32
    * tasks — the degenerate low-cardinality join this operator exists
    * for). Exact integer arithmetic, fully oracle-replayed. */
  private def qSaltAdvisor(s: SparkSession, dir: String): DataFrame =
    operators.SaltedJoin.adviseSalts(
        eventsBase(s, dir).select("event_type"), "event_type", tasks = 32)
      .orderBy("event_type")

  private val qSaltAdvisorSql =
    s"""WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
       |SELECT event_type, n,
       |  CAST(n * 1000000 // total AS BIGINT) AS share_micros,
       |  CAST((n * 32 + total - 1) // total AS BIGINT) AS salt_factor
       |FROM c, t WHERE n * 32 > total ORDER BY event_type""".stripMargin

  /** Logical twin of partition expiry (sources.Retention): the per-day
    * row counts with the TTL verdict under a fixed cutoff day — pins the
    * day-bucket arithmetic and the strictly-below cutoff semantics
    * cross-engine; the physical directory-drop half is RetentionSpec's
    * (filesystem effects have no SQL oracle, the compaction precedent). */
  private def qRetentionExpiry(s: SparkSession, dir: String): DataFrame =
    eventsRaw(s, dir).select(expr("ts_us div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_rows"))
      .withColumn("expired", col("day") < 19738L)
      .orderBy("day")

  private val qRetentionExpirySql =
    s"""SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n_rows,
       |  (epoch_us(ts) // 86400000000) < 19738 AS expired
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private val qSkewReportSql =
    s"""WITH counts AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
       |stats AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys, MAX(n) AS max_n
       |  FROM counts),
       |ranked AS (SELECT user_id, n, row_number() OVER (
       |    ORDER BY n DESC, user_id) AS rk FROM counts)
       |SELECT rk, user_id, n,
       |  CAST(n * 1000000 // total AS BIGINT) AS share_micros,
       |  CAST(max_n * n_keys * 1000000 // total AS BIGINT) AS skew_factor_micros
       |FROM ranked CROSS JOIN stats WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** Partition-pruned aggregation: events written once as a hive-style
    * `event_type=` layout, then aggregated with a partition-column filter
    * — the scan lists ONE directory (PartitionedSpec pins the
    * PartitionFilters evidence; this gate pins the values against the
    * unpartitioned oracle). */
  private def qPartitionedPrune(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"/tmp/graft_partitioned_${new java.io.File(dir).getName}"
    val src = Tables.events(s, dir).select("event_id", "ts", "user_id",
      "value", "event_type")
    sources.Partitioned.write(src, path, Seq("event_type"))
    // declared schema (the metastore convention): an empty corpus writes
    // no partition dirs, so inference would fail exactly on the empty-day
    // re-run
    sources.Partitioned.read(s, path, src.schema)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"), msum(col("value")).as("sum_value_micros"))
      .orderBy("user_id")
  }

  private val qPartitionedPruneSql =
    s"""SELECT user_id, COUNT(*) AS n_purchases,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** File-level zone-map data skipping (sources.ZoneMaps): events are
    * re-laid-out CLUSTERED on `value` (range repartition + in-file sort,
    * so per-file value ranges are near-disjoint), a one-row-per-file
    * min/max index is built beside the data, and a selective range
    * aggregate then plans only the files whose range overlaps the
    * predicate — the skipping layer between hive-partition pruning
    * (whole directories) and parquet row-group stats (inside a file).
    * Pruning is sound (a file is dropped only when its whole [min, max]
    * misses the interval; the residual predicate re-filters survivors),
    * so the oracle is the SAME aggregate over the logical table —
    * byte-equality here proves no row was lost to skipping.
    * ZoneMapsSpec pins the complementary property the oracle can't see:
    * that files ARE skipped (candidate set strictly smaller than the
    * listing) and that the pruned plan equals the unpruned one. */
  private def qZonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_zonemap_${new java.io.File(dir).getName}"
    val ev = eventsRaw(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    ev.repartitionByRange(8, col("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").parquet(path)
    sources.ZoneMaps.writeIndex(s, path, Seq("value"))
    sources.ZoneMaps.prunedScan(s, path, "value", Some(300.0), None)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hi"), msum(col("value")).as("sum_value_micros"))
      .orderBy("event_type")
  }

  /** The table-maintenance tiers COMPOSED: events re-laid-out on the
    * Hilbert curve of (user_id, value-bucket), zone maps built over both
    * raw columns, and a 2-D box query pruned twice — first by file
    * ranges on user_id, then residually on value. A single-column sort
    * gives perfect pruning on one dimension and none on the other; the
    * curve layout gives tight per-file boxes in BOTH (the HilbertSpec
    * bounding-box measurement, here as a live query). Oracle: the plain
    * 2-D filter aggregate — soundness of stacked pruning under the
    * hash; the files-skipped evidence for this layout lives in
    * ZoneMapsSpec/HilbertSpec. */
  private def qZonemapHilbert(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_zm_hilbert_${new java.io.File(dir).getName}"
    val ev = eventsRaw(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .withColumn("vb", floor(col("value")).cast("long"))
    operators.Hilbert.clusterBy2(ev, "user_id", "vb", partitions = 8)
      .write.mode("overwrite").parquet(path)
    sources.ZoneMaps.writeIndex(s, path, Seq("user_id", "value"))
    sources.ZoneMaps.prunedScan(s, path, "user_id", Some(100L), Some(400L))
      .where(col("value") >= 200.0 && col("value") <= 350.0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_box"), msum(col("value")).as("sum_value_micros"))
      .orderBy("event_type")
  }

  private val qZonemapHilbertSql =
    s"""SELECT event_type, COUNT(*) AS n_box,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM events
       |WHERE user_id >= 100 AND user_id <= 400
       |  AND value >= 200.0 AND value <= 350.0
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val qZonemapPruneSql =
    s"""SELECT event_type, COUNT(*) AS n_hi,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM events WHERE value >= 300.0
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Dominant spectral (principal) direction of the embedding corpus
    * (pipeline.Spectral): one zero-shuffle corpus pass folds the d x d
    * second-moment matrix into per-partition long arrays, one d^2-row
    * exchange sums them exactly, and three fixed-point power-iteration
    * steps (BigInt matvec, floor-div renormalize to max-abs 1e6) run on
    * the metadata-sized matrix — the RowMatrix/PCA architecture with
    * every step exact, so the oracle replays the whole ladder: moment
    * entries, all three iterates, and the final micros components are
    * identical HUGEINT arithmetic in DuckDB. */
  private def qSpectralDirection(s: SparkSession, dir: String): DataFrame =
    pipeline.Spectral.dominantDirection(Tables.embeddings(s, dir),
        dims = 16, iters = 3)
      .orderBy("dim")

  private val qSpectralDirectionSql =
    s"""WITH e AS MATERIALIZED (
       |  SELECT list_transform(embedding[1:16],
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xs
       |  FROM embeddings),
       |idx AS (SELECT unnest(range(16)) AS k),
       |m AS MATERIALIZED (
       |  SELECT i.k AS i, j.k AS j, SUM(xs[i.k + 1] * xs[j.k + 1]) AS m
       |  FROM e, idx i, idx j GROUP BY 1, 2),
       |v1 AS MATERIALIZED (SELECT i, SUM(m) AS v FROM m GROUP BY i),
       |u1 AS MATERIALIZED (SELECT i,
       |  (v * 1000000) // (SELECT MAX(ABS(v)) FROM v1) AS v FROM v1),
       |v2 AS MATERIALIZED (SELECT m.i, SUM(m.m * u.v) AS v
       |  FROM m JOIN u1 u ON u.i = m.j GROUP BY 1),
       |u2 AS MATERIALIZED (SELECT i,
       |  (v * 1000000) // (SELECT MAX(ABS(v)) FROM v2) AS v FROM v2),
       |v3 AS MATERIALIZED (SELECT m.i, SUM(m.m * u.v) AS v
       |  FROM m JOIN u2 u ON u.i = m.j GROUP BY 1),
       |u3 AS (SELECT i,
       |  (v * 1000000) // (SELECT MAX(ABS(v)) FROM v3) AS v FROM v3)
       |SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS component_micros
       |FROM u3 ORDER BY dim""".stripMargin

  /** Compaction planning (sources.Compaction): next-fit-decreasing bin
    * packing of per-(event_type, day) ingest segments into 32 KB target
    * bins — the planning half of small-file compaction, run here over
    * LOGICAL segment sizes (sum of row payload bytes) so the oracle can
    * re-derive every input exactly; physical file sizes differ per
    * engine. NFD is a pure sequential fold over the (bytes desc, item)
    * order, which DuckDB replays verbatim as a recursive CTE — every
    * bin assignment is under the hash, not just summary stats.
    * CompactionSpec covers the physical half (real file listing,
    * one-file-per-bin execution, content equality). */
  private def qCompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val segs = eventsRaw(s, dir)
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"),
        (coalesce(length(col("props")), lit(0)) + lit(64))
          .cast("long").as("row_bytes"))
      .groupBy("event_type", "day")
      .agg(sum("row_bytes").as("bytes"))
      .select(concat_ws("/", col("event_type"), col("day")).as("item"),
        col("bytes"))
    sources.Compaction.plan(segs, targetBytes = 32768L)
      .orderBy("bin_id", "item")
  }

  private val qCompactionPlanSql =
    s"""WITH RECURSIVE segs AS (
       |  SELECT event_type || '/' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS item,
       |    CAST(SUM(COALESCE(length(props), 0) + 64) AS BIGINT) AS bytes
       |  FROM events GROUP BY 1),
       |ordered AS (
       |  SELECT item, bytes,
       |    row_number() OVER (ORDER BY bytes DESC, item) AS rn
       |  FROM segs),
       |pack AS (
       |  SELECT rn, item, bytes, CAST(0 AS BIGINT) AS bin_id, bytes AS acc
       |  FROM ordered WHERE rn = 1
       |  UNION ALL
       |  SELECT o.rn, o.item, o.bytes,
       |    CASE WHEN p.acc + o.bytes > 32768 THEN p.bin_id + 1 ELSE p.bin_id END,
       |    CASE WHEN p.acc + o.bytes > 32768 THEN o.bytes ELSE p.acc + o.bytes END
       |  FROM pack p JOIN ordered o ON o.rn = p.rn + 1)
       |SELECT bin_id, item, bytes FROM pack ORDER BY bin_id, item""".stripMargin

  // ===================================================================
  // Weighted (priority) sampling
  // ===================================================================

  /** Priority sampling (Duffield/Lund/Thorup): 20 docs per language,
    * inclusion probability proportional to n_chars — priority =
    * salted-hash div weight, k smallest win. Integer-exact, RNG-free,
    * re-run-stable (see pipeline.Sampling.prioritySample). */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.prioritySample(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
        col("lang"), col("doc_id"), col("n_chars"), k = 20)
      .orderBy("lang", "doc_id")

  private val qWeightedSampleSql =
    s"""WITH pri AS (
       |  SELECT doc_id, lang, n_chars,
       |    ${DuckHash60.format("concat('graft-pri:', CAST(doc_id AS VARCHAR))")} AS u
       |  FROM documents WHERE n_chars > 0),
       |ranked AS (
       |  SELECT doc_id, lang, n_chars, row_number() OVER (
       |    PARTITION BY lang ORDER BY u // n_chars, u, doc_id) AS rk
       |  FROM pri)
       |SELECT doc_id, lang, n_chars FROM ranked
       |WHERE rk <= 20 ORDER BY lang, doc_id""".stripMargin

  // ===================================================================
  // Data selection: DSIR, drift, curriculum, index evaluation
  // ===================================================================

  /** DSIR-style importance resampling (Selection.dsirSample): weight every
    * document by its smoothed target-share unigram average (target slice =
    * English docs), then priority-sample 10 docs per language proportional
    * to the weight. Exact-integer, RNG-free — the oracle re-derives the
    * vocabulary statistics, the weights, and the salted-hash sample. */
  private def qDsirSample(s: SparkSession, dir: String): DataFrame =
    pipeline.Selection.dsirSample(
        Tables.documents(s, dir).select("doc_id", "lang", "text"),
        col("lang") === "en", group = "lang", k = 10)
      .orderBy("lang", "doc_id")

  private val qDsirSampleSql =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, lang = 'en' AS is_target,
       |    unnest($DuckToks) AS term FROM documents),
       |vocab AS (
       |  SELECT term,
       |    CAST((SUM(CASE WHEN is_target THEN 1 ELSE 0 END) + 1) * 1000000
       |         // (COUNT(*) + 2) AS BIGINT) AS share_micros
       |  FROM toks GROUP BY term),
       |w AS (
       |  SELECT doc_id, any_value(lang) AS lang, COUNT(*) AS n_tokens,
       |    CAST(SUM(share_micros) // COUNT(*) AS BIGINT) AS weight_micros
       |  FROM toks JOIN vocab USING (term) GROUP BY doc_id),
       |pri AS (
       |  SELECT *, ${DuckHash60.format("concat('graft-pri:', CAST(doc_id AS VARCHAR))")} AS u
       |  FROM w WHERE weight_micros > 0),
       |ranked AS (
       |  SELECT doc_id, lang, n_tokens, weight_micros, row_number() OVER (
       |    PARTITION BY lang ORDER BY u // weight_micros, u, doc_id) AS rk
       |  FROM pri)
       |SELECT doc_id, lang, n_tokens, weight_micros FROM ranked
       |WHERE rk <= 10 ORDER BY lang, doc_id""".stripMargin

  /** Cross-slice unigram drift (Selection.corpusDrift): top-25 terms by
    * absolute share difference between sources src0-src9 and src10-src19 —
    * the per-term contribution to total-variation distance. */
  private def qCorpusDrift(s: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4, 10) AS INT)")
    pipeline.Selection.corpusDrift(
        Tables.documents(s, dir).select("source", "text"),
        srcNum < 10, srcNum >= 10, topK = 25)
      .orderBy(col("drift_micros").desc, col("term"))
  }

  private val qCorpusDriftSql =
    s"""WITH tagged AS (
       |  SELECT CAST(substr(source, 4) AS INT) < 10 AS in_a,
       |         CAST(substr(source, 4) AS INT) >= 10 AS in_b, text
       |  FROM documents),
       |toks AS (SELECT in_a, in_b, unnest($DuckToks) AS term
       |         FROM tagged WHERE in_a OR in_b),
       |stats AS (SELECT term,
       |    SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS cnt_a,
       |    SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS cnt_b
       |  FROM toks GROUP BY term),
       |tot AS (SELECT SUM(cnt_a) AS tot_a, SUM(cnt_b) AS tot_b FROM stats),
       |sh AS (SELECT term, CAST(cnt_a AS BIGINT) AS cnt_a,
       |    CAST(cnt_b AS BIGINT) AS cnt_b,
       |    CAST(CASE WHEN tot_a = 0 THEN 0
       |         ELSE cnt_a * 1000000 // tot_a END AS BIGINT) AS share_a_micros,
       |    CAST(CASE WHEN tot_b = 0 THEN 0
       |         ELSE cnt_b * 1000000 // tot_b END AS BIGINT) AS share_b_micros
       |  FROM stats, tot)
       |SELECT term, cnt_a, cnt_b, share_a_micros, share_b_micros,
       |  abs(share_a_micros - share_b_micros) AS drift_micros
       |FROM sh ORDER BY drift_micros DESC, term LIMIT 25""".stripMargin

  /** Curriculum interleave (Selection.curriculumInterleave): quality =
    * distinct-token ratio, strata = the 20 sources; sparse interleave key
    * = (pos-1)*20 + src so high-quality docs lead and sources round-robin,
    * with ONE per-stratum rank window and no global sort. */
  private def qCurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      .withColumn("toks", pipeline.TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .withColumn("quality", expr(
        "CASE WHEN n_toks > 0 THEN n_distinct * 1000000 div n_toks ELSE 0L END"))
    pipeline.Selection.curriculumInterleave(docs,
        expr("CAST(substring(source, 4, 10) AS BIGINT)"), nStrata = 20,
        col("quality"))
      .select("doc_id", "source", "stratum_idx", "quality_micros",
        "pos_in_stratum", "interleave_key")
      .orderBy("interleave_key")
  }

  private val qCurriculumOrderSql =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(substr(source, 4) AS BIGINT) AS stratum_idx,
       |    $DuckToks AS toks FROM documents),
       |qv AS (SELECT doc_id, source, stratum_idx,
       |    CASE WHEN len(toks) > 0
       |      THEN CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT)
       |      ELSE 0 END AS quality_micros FROM t),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY stratum_idx
       |    ORDER BY quality_micros DESC, doc_id) AS BIGINT) AS pos_in_stratum
       |  FROM qv)
       |SELECT doc_id, source, stratum_idx, quality_micros, pos_in_stratum,
       |  (pos_in_stratum - 1) * 20 + stratum_idx AS interleave_key
       |FROM r ORDER BY interleave_key""".stripMargin

  /** Recall@5 of the IVF index against brute-force ground truth
    * (Eval.recallAt) on a PINNED fixed-size query sample (`vec_id % 50 = 0`
    * restricted to the first-2000-id prefix; amplified corpora append ids
    * above it) — the index-quality evaluation harness. The pin matters at
    * scale: recall is a per-query statistic, so the gate's query count must
    * NOT grow with the corpus or the probe measures the gate (brute-force
    * ground truth over O(corpus) queries), not the operator. The oracle
    * re-derives BOTH retrievers and the overlap, so assignment, probing,
    * ranking and the recall arithmetic are all under the hash. */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val isQuery = col("vec_id") % 50 === 0 && col("vec_id") < 2000
    pipeline.Eval.recallAt(
        pipeline.Similarity.bruteTopK(emb, isQuery),
        pipeline.Ivf.searchTopK(emb, isQuery))
      .orderBy("query_id")
  }

  private val qAnnRecallSql =
    s"""WITH $DuckPrepared,
       |qr AS (SELECT vec_id AS query_id, xs, norm2 FROM en2
       |       WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |bp AS (SELECT qr.query_id, e2.vec_id AS neighbor_id,
       |        ${duckCos("qr.xs", "qr.norm2", "e2.xs", "e2.norm2")} AS cos
       |      FROM qr JOIN en2 e2 ON e2.vec_id <> qr.query_id),
       |br AS (SELECT query_id, neighbor_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |      FROM bp),
       |truth AS (SELECT query_id, neighbor_id FROM br WHERE rk <= 5),
       |${duckIvfSearch("qr", "iranked")},
       |approx AS (SELECT query_id, neighbor_id FROM iranked WHERE rk <= 5)
       |SELECT t.query_id, COUNT(*) AS k,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |       // COUNT(*) AS BIGINT) AS recall_micros
       |FROM truth t LEFT JOIN approx a
       |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  // ===================================================================
  // Corpus checksum, length buckets, PageRank
  // ===================================================================

  /** Order-independent per-source corpus checksum (Curation.corpusChecksum)
    * — XOR-folded salted hashes + exact counts; the ingest/backfill
    * byte-equivalence gate. */
  private def qCorpusChecksum(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.corpusChecksum(Tables.documents(s, dir),
        col("source"), col("doc_id"), col("text"))
      .orderBy("slice")

  private val qCorpusChecksumSql =
    s"""WITH h AS (SELECT source AS slice,
       |    ${DuckHash60.format("CAST(doc_id AS VARCHAR)")} AS kh,
       |    ${DuckHash60.format("text")} AS ph,
       |    length(text) AS n_chars
       |  FROM documents)
       |SELECT slice, COUNT(*) AS n_rows, bit_xor(kh) AS key_checksum,
       |  bit_xor(ph) AS payload_checksum,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |FROM h GROUP BY slice ORDER BY slice""".stripMargin

  /** Power-of-2 length-bucket batching report (Curation.lengthBuckets)
    * over document token counts: per bucket, docs/tokens and the exact
    * padding-waste fraction a length-bucketed batcher pays. */
  private def qLengthBuckets(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.lengthBuckets(
        Tables.documents(s, dir).select(
          size(pipeline.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_toks")),
        col("n_toks"), minBucket = 16L, maxBucket = 256L)
      .orderBy("bucket_hi")

  private val qLengthBucketsSql =
    s"""WITH t AS (SELECT len($DuckToks) AS n FROM documents),
       |b AS (SELECT n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
       |    WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 ELSE 256 END
       |    AS bucket_hi FROM t)
       |SELECT CAST(bucket_hi AS BIGINT) AS bucket_hi, COUNT(*) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
       |  CAST(COUNT(*) * bucket_hi AS BIGINT) AS padded_tokens,
       |  CAST((COUNT(*) * bucket_hi - SUM(LEAST(n, bucket_hi))) * 1000000
       |       // (COUNT(*) * bucket_hi) AS BIGINT) AS waste_micros
       |FROM b GROUP BY bucket_hi ORDER BY bucket_hi""".stripMargin

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
  private def coPurchaseEdges(li: DataFrame): DataFrame =
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

  /** Weekly value-distribution drift per event type vs the baseline week
    * (Anomaly.distributionDrift): total-variation distance over width-50
    * value buckets, exact integer micros — the population-stability
    * monitor over the fact table. */
  private def qEventDrift(s: SparkSession, dir: String): DataFrame =
    operators.Anomaly.distributionDrift(
        eventsRaw(s, dir).select(col("event_type"), col("ts_us"), col("value")),
        col("event_type"), expr("ts_us div 604800000000"),
        expr("least(cast(floor(value / 50) as bigint), 9L)"))
      .select(col("grp").as("event_type"), col("period").as("week"),
        col("n_events"), col("tv_micros"))
      .orderBy("event_type", "week")

  private val qEventDriftSql =
    s"""WITH ev AS (SELECT event_type AS grp,
       |    epoch_us(ts) // 604800000000 AS period,
       |    LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS bucket
       |  FROM events),
       |counts AS (SELECT grp, period, bucket, COUNT(*) AS n
       |  FROM ev GROUP BY 1, 2, 3),
       |tot AS (SELECT grp, period, CAST(SUM(n) AS BIGINT) AS tot
       |  FROM counts GROUP BY 1, 2),
       |sh AS (SELECT c.grp, c.period, c.bucket,
       |    CAST(c.n * 1000000 // t.tot AS BIGINT) AS share, t.tot
       |  FROM counts c JOIN tot t ON c.grp = t.grp AND c.period = t.period),
       |bp AS (SELECT grp, MIN(period) AS bp FROM counts GROUP BY grp),
       |base AS (SELECT s.grp, s.bucket, s.share AS base_share
       |  FROM sh s JOIN bp ON s.grp = bp.grp AND s.period = bp.bp),
       |per AS (SELECT DISTINCT grp, period FROM counts),
       |ex AS (SELECT p.grp, p.period, b.bucket, b.base_share
       |  FROM per p JOIN base b ON p.grp = b.grp),
       |f AS (SELECT COALESCE(e.grp, s.grp) AS grp,
       |    COALESCE(e.period, s.period) AS period,
       |    COALESCE(e.base_share, 0) AS base_share,
       |    COALESCE(s.share, 0) AS share, s.tot
       |  FROM ex e FULL OUTER JOIN sh s
       |    ON s.grp = e.grp AND s.period = e.period AND s.bucket = e.bucket)
       |SELECT grp AS event_type, period AS week,
       |  CAST(MAX(tot) AS BIGINT) AS n_events,
       |  CAST(SUM(ABS(share - base_share)) // 2 AS BIGINT) AS tv_micros
       |FROM f GROUP BY grp, period ORDER BY event_type, week""".stripMargin

  /** Unicode/whitespace normalization (Curation.normalizeText) — the
    * pre-dedup cleanup projection; the oracle replays the identical
    * RE2-safe replace chain. The driver corpus is already clean, so every
    * fifth doc is deterministically dirtied (curly quotes, em-dash, NBSP,
    * control char, edge/multi whitespace — re-derived identically in the
    * oracle) to keep each rule's firing path under the hash. */
  private def qNormalizeText(s: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.documents(s, dir).withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(lit("  \u201cQ\u201d \u2014\t"), col("text"),
          lit(" \u2018x\u2019\u00a0 ")))
        .otherwise(col("text")))
    pipeline.Curation.normalizeText(dirty).orderBy("doc_id")
  }

  private val qNormalizeTextSql =
    s"""WITH n AS (SELECT doc_id, length(text) AS n_chars_raw,
       |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(text,
       |      '[\\x00-\\x1f\\x7f]', ' ', 'g'),
       |      '[‘’]', '''', 'g'),
       |      '[“”]', '"', 'g'),
       |      '[–—]', '-', 'g'),
       |      '\\s+', ' ', 'g')) AS norm_text
       |  FROM (SELECT doc_id, replace(CASE WHEN doc_id % 5 = 0
       |      THEN '  “Q” —	' || text || ' ‘x’  '
       |      ELSE text END, ' ', ' ') AS text
       |        FROM documents))
       |SELECT doc_id, CAST(n_chars_raw AS BIGINT) AS n_chars_raw, norm_text,
       |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm
       |FROM n ORDER BY doc_id""".stripMargin

  /** Deterministic 80/10/10 train/val/test split (Sampling.split3) rolled
    * up per (lang, split) — the salted-hash assignment is re-derived in
    * the oracle, so the exact membership (not just the proportions) is
    * under the hash via the per-group token sums. */
  private def qTrainValTest(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.split3(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          size(pipeline.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens")),
        col("doc_id"), trainPct = 80, valPct = 10)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("lang", "split")

  private val qTrainValTestSql =
    s"""WITH t AS (SELECT doc_id, lang, len($DuckToks) AS n_tokens,
       |    ${DuckHash60.format("concat('graft-split:', CAST(doc_id AS VARCHAR))")} % 100 AS b
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |       ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM t GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Hard-negative mining (Eval.hardNegatives): IVF candidates per query
    * minus LSH near-dup positives, top 3 survivors by candidate rank —
    * the training-pair miner for embedding/retrieval models. Positives
    * come from the banded-SRP scale path (the production choice: the
    * brute pair relation doesn't exist at corpus scale; LSH recall < 1
    * means the occasional true near-dup survives as a "negative", the
    * standard mining trade-off). The query sample is PINNED fixed-size
    * (`vec_id % 50 = 0 AND vec_id < 2000` — amplified corpora append ids
    * above the prefix) so scale probes measure the miner, not a gate whose
    * query count grows with the corpus. The oracle re-derives the candidate
    * retriever, the banded positive set, the anti-join and the re-rank. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cands = pipeline.Ivf.searchTopK(emb,
      col("vec_id") % 50 === 0 && col("vec_id") < 2000)
    val pos = pipeline.Similarity.lshNearDup(emb, dim = 64, tauPct = 40,
      planesPerBand = pipeline.Similarity.planesFor(500L))
    val sym = pos.select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"))
      .union(pos.select(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id")))
    pipeline.Eval.hardNegatives(cands, sym, k = 3)
      .select(col("query_id"), col("neg_rank"), col("neighbor_id"),
        col("rank").as("cand_rank"), col("cos_micros"))
      .orderBy("query_id", "neg_rank")
  }

  private val qHardNegativesSql =
    s"""WITH $DuckPrepared,
       |qr AS (SELECT vec_id AS query_id, xs, norm2 FROM en2
       |       WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |${duckIvfSearch("qr", "iranked")},
       |cand AS (SELECT query_id, neighbor_id, rk,
       |         CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |       FROM iranked WHERE rk <= 5),
       |pos0 AS ($embeddingNeardupLshSql),
       |pos AS (SELECT vec_a AS query_id, vec_b AS neighbor_id FROM pos0
       |        UNION ALL SELECT vec_b, vec_a FROM pos0),
       |neg AS (SELECT c.* FROM cand c ANTI JOIN pos p
       |        ON c.query_id = p.query_id AND c.neighbor_id = p.neighbor_id),
       |r2 AS (SELECT query_id, neighbor_id, rk AS cand_rank, cos_micros,
       |        row_number() OVER (PARTITION BY query_id ORDER BY rk, neighbor_id) AS neg_rank
       |      FROM neg)
       |SELECT query_id, CAST(neg_rank AS BIGINT) AS neg_rank, neighbor_id,
       |  cand_rank, cos_micros
       |FROM r2 WHERE neg_rank <= 3 ORDER BY query_id, neg_rank""".stripMargin

  /** Heavy-hitter counts through the count-min sketch (graft_cms_agg /
    * graft_cms_estimate): the exact top-10 users' counts next to their
    * sketch estimates — the frequency-sketch tier whose per-partition
    * state is depth x width longs regardless of key cardinality. The
    * sketch's 31-bit affine row hashes run in plain BIGINT SQL, so the
    * oracle re-derives every counter and the exact estimates (not just a
    * bound) are under the hash. */
  private def qHeavyHittersCms(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir).select("user_id")
    val sketch = ev.agg(expr("graft_cms_agg(user_id, 4, 256)").as("cms"))
    // top-10 via TakeOrdered (orderBy+limit, no single-task global window);
    // rank re-derived over the 10 survivors by a broadcast self-join
    val top10 = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(10)
      .localCheckpoint(true)
    val top = top10.join(
        broadcast(top10.select(col("n").as("o_n"), col("user_id").as("o_user"))),
        col("o_n") > col("n") ||
          (col("o_n") === col("n") && col("o_user") <= col("user_id")))
      .groupBy("user_id", "n").agg(count(lit(1)).as("rk"))
    top.crossJoin(broadcast(sketch))
      .select(col("rk"), col("user_id"), col("n"),
        expr("graft_cms_estimate(cms, user_id)").as("est_n"))
      .orderBy("rk")
  }

  /** Equi-join cardinality estimation from two count-min sketches
    * (graft_cms_dot — the Cormode/Muthukrishnan inner-product
    * estimator): the optimizer-support primitive that sizes a join
    * (broadcast vs shuffle vs salt) from two depth x width blobs
    * without touching either input again. Reported next to the exact
    * join size `sum_key f_a * f_b`; est >= exact always, and the
    * oracle re-derives every counter and both numbers in plain BIGINT
    * SQL, so the estimate itself (not just the bound) is under the
    * hash. */
  private def qJoinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir).select("user_id", "event_type")
    val a = ev.agg(expr("graft_cms_agg(user_id, 4, 256)").as("cms_all"))
    val b = ev.where(col("event_type") === "purchase")
      .agg(expr("graft_cms_agg(user_id, 4, 256)").as("cms_p"))
    val exact = ev
      .groupBy("user_id")
      .agg(count(lit(1)).as("na"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .agg(sum(col("na") * col("np")).as("exact_join_n"))
    a.crossJoin(b)
      .select(expr("graft_cms_dot(cms_all, cms_p)").as("est_join_n"))
      .crossJoin(broadcast(exact))
  }

  private val qJoinSizeEstimateSql =
    s"""WITH ev AS (SELECT user_id, event_type FROM events),
       |consts AS (
       |  SELECT 0 AS r, 1103515245 AS a, 12345 AS b
       |  UNION ALL SELECT 1, 1299709, 7919
       |  UNION ALL SELECT 2, 15485863, 104729
       |  UNION ALL SELECT 3, 32452843, 1299721),
       |ca AS (
       |  SELECT c.r,
       |    ((((user_id % 2147483648) + 2147483648) % 2147483648) * c.a + c.b)
       |      % 2147483648 % 256 AS cell,
       |    COUNT(*) AS cnt
       |  FROM ev CROSS JOIN consts c GROUP BY 1, 2),
       |cb AS (
       |  SELECT c.r,
       |    ((((user_id % 2147483648) + 2147483648) % 2147483648) * c.a + c.b)
       |      % 2147483648 % 256 AS cell,
       |    COUNT(*) AS cnt
       |  FROM ev CROSS JOIN consts c
       |  WHERE event_type = 'purchase' GROUP BY 1, 2),
       |dots AS (SELECT ca.r, SUM(ca.cnt * cb.cnt) AS dot
       |  FROM ca JOIN cb ON cb.r = ca.r AND cb.cell = ca.cell GROUP BY 1),
       |ex AS (SELECT CAST(SUM(na * np) AS BIGINT) AS exact_join_n FROM (
       |  SELECT user_id, COUNT(*) AS na,
       |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
       |  FROM ev GROUP BY 1))
       |SELECT CAST(MIN(dot) AS BIGINT) AS est_join_n, ex.exact_join_n
       |FROM dots, ex GROUP BY 2""".stripMargin

  private val qHeavyHittersCmsSql =
    s"""WITH ev AS (SELECT user_id FROM events),
       |consts AS (
       |  SELECT 0 AS r, 1103515245 AS a, 12345 AS b
       |  UNION ALL SELECT 1, 1299709, 7919
       |  UNION ALL SELECT 2, 15485863, 104729
       |  UNION ALL SELECT 3, 32452843, 1299721),
       |cells AS (
       |  SELECT c.r,
       |    ((((user_id % 2147483648) + 2147483648) % 2147483648) * c.a + c.b)
       |      % 2147483648 % 256 AS cell,
       |    COUNT(*) AS cnt
       |  FROM ev CROSS JOIN consts c GROUP BY 1, 2),
       |top AS (SELECT user_id, COUNT(*) AS n FROM ev GROUP BY 1),
       |ranked AS (SELECT user_id, n,
       |    row_number() OVER (ORDER BY n DESC, user_id) AS rk FROM top),
       |t10 AS (SELECT * FROM ranked WHERE rk <= 10),
       |est AS (
       |  SELECT t.rk, t.user_id, t.n, MIN(cl.cnt) AS est_n
       |  FROM t10 t CROSS JOIN consts c
       |  JOIN cells cl ON cl.r = c.r AND cl.cell =
       |    ((((t.user_id % 2147483648) + 2147483648) % 2147483648) * c.a + c.b)
       |      % 2147483648 % 256
       |  GROUP BY 1, 2, 3)
       |SELECT rk, user_id, n, CAST(est_n AS BIGINT) AS est_n
       |FROM est ORDER BY rk""".stripMargin

  /** Cross-source duplication matrix: near-dup pairs (the MinHash-LSH
    * scale path) rolled up by unordered source pair — the provenance
    * monitor for "which crawl dumps copy from each other". Pure
    * composition: the pair relation is workload-sized, so the two source
    * lookups and the rollup cost nothing next to the pair build. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    pipeline.Dedup.minhashLshPairs(docs)
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
  }

  private val qSourceOverlapSql =
    s"""WITH mh AS ($dedupMinhashLshSql),
       |ss AS (SELECT doc_id, source FROM documents),
       |j AS (SELECT LEAST(sa.source, sb.source) AS source_a,
       |             GREATEST(sa.source, sb.source) AS source_b
       |      FROM mh JOIN ss sa ON sa.doc_id = mh.doc_a
       |              JOIN ss sb ON sb.doc_id = mh.doc_b)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs
       |FROM j GROUP BY 1, 2 ORDER BY n_pairs DESC, source_a, source_b""".stripMargin

  /** Distinct-user cardinality per event type through the HyperLogLog
    * sketch (`graft_hll_agg` / `graft_hll_registers`): the distinct-count
    * member of the sketch tier. Per-partition state is 2^p bytes
    * regardless of user cardinality (map-side register max), so
    * "distinct users per X" at corpus scale costs a scan plus a
    * 2^p-byte-per-group rollup instead of a key-cardinality shuffle.
    * The query emits every REGISTER byte (bucket grain): the sketch's
    * 31-bit xorshift-multiply hash runs in plain BIGINT SQL, so the
    * oracle re-derives the full register state exactly — the estimate
    * is then a pure deterministic function of the pinned bytes
    * (accuracy itself is pinned in GraftFunctionsSpec). */
  private def qDistinctSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir).select("event_type", "user_id")
    val sk = ev.groupBy("event_type")
      .agg(expr("graft_hll_agg(user_id, 8)").as("sk"))
    sk.select(col("event_type"),
        posexplode(expr("graft_hll_registers(sk)")).as(Seq("bucket", "register")))
      .select(col("event_type"), col("bucket").cast("long").as("bucket"),
        col("register").cast("long").as("register"))
      .orderBy("event_type", "bucket")
  }

  /** Shared register re-derivation: the 31-bit xorshift-multiply mix
    * (LongHll.hash31) in plain BIGINT SQL — `xor`/`//`/`%` are exact,
    * `length(printf('%b', w))` is the bit length, and a left join onto
    * the (event_type x 256-bucket) grid restores untouched registers. */
  private val qDistinctSketchSql =
    s"""WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
       |m1 AS (SELECT event_type,
       |  ((((user_id % 2147483648) + 2147483648) % 2147483648)
       |    * 1103515245 + 12345) % 2147483648 AS h FROM ev),
       |x1 AS (SELECT event_type, xor(h, h // 65536) AS h FROM m1),
       |m2 AS (SELECT event_type, (h * 32452843) % 2147483648 AS h FROM x1),
       |x2 AS (SELECT event_type, xor(h, h // 8192) AS h FROM m2),
       |m3 AS (SELECT event_type, (h * 49979687) % 2147483648 AS h FROM x2),
       |x3 AS (SELECT event_type, xor(h, h // 65536) AS h FROM m3),
       |rr AS (SELECT event_type, h % 256 AS bucket,
       |         CASE WHEN h // 256 = 0 THEN 24
       |              ELSE 24 - length(printf('%b', h // 256)) END AS rho
       |       FROM x3),
       |regs AS (SELECT event_type, bucket, MAX(rho) AS register
       |         FROM rr GROUP BY 1, 2),
       |grid AS (SELECT t.event_type, g.range AS bucket
       |         FROM (SELECT DISTINCT event_type FROM events) t
       |         CROSS JOIN range(256) g)
       |SELECT g.event_type, CAST(g.bucket AS BIGINT) AS bucket,
       |  CAST(COALESCE(r.register, 0) AS BIGINT) AS register
       |FROM grid g LEFT JOIN regs r
       |  ON g.event_type = r.event_type AND g.bucket = r.bucket
       |ORDER BY g.event_type, g.bucket""".stripMargin

  /** The incremental path: per-DAY sketches re-aggregated with
    * `graft_hll_merge` (register max — idempotent, so overlapping or
    * re-delivered slices cannot double-count). The oracle is the DIRECT
    * derivation over the union, so this gate pins merge(sketch-of-days)
    * == sketch(union) cross-engine, byte for byte — the property that
    * lets a 100 TB pipeline store daily sketch blobs and answer
    * "distinct over any date range" without rescanning. */
  private def qDistinctSketchMerged(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir)
      .select(col("event_type"), col("user_id"),
        expr("ts_us div 86400000000").as("day"))
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("graft_hll_agg(user_id, 8)").as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(expr("graft_hll_merge(sk)").as("sk"))
    merged.select(col("event_type"),
        posexplode(expr("graft_hll_registers(sk)")).as(Seq("bucket", "register")))
      .select(col("event_type"), col("bucket").cast("long").as("bucket"),
        col("register").cast("long").as("register"))
      .orderBy("event_type", "bucket")
  }

  /** Exact-substring dedup with canonical retention
    * (Curation.trimDuplicateSpans): every duplicated 8-token window
    * keeps its global-first occurrence and trims the rest; documents
    * rebuild from their surviving tokens. The oracle re-derives the
    * canonical pick (row_number over (hash, ordered by doc_id, start)),
    * the island merge, and the positional trim, so kept counts AND the
    * rebuilt text are under the hash. */
  private def qTrimDupSpans(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.trimDuplicateSpans(Tables.documents(s, dir), w = 8)
      .orderBy("doc_id")

  private val qTrimDupSpansSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |el AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
       |ex AS (SELECT doc_id, toks, unnest(range(n - 7)) AS start FROM el),
       |hs AS (SELECT doc_id, start,
       |  ${DuckHash60.format("array_to_string(toks[start + 1 : start + 8], ' ')")} AS h
       |  FROM ex),
       |occ AS (SELECT doc_id, start,
       |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn,
       |  COUNT(*) OVER (PARTITION BY h) AS cnt FROM hs),
       |mk AS (SELECT doc_id, start FROM occ WHERE cnt > 1 AND rn > 1),
       |br AS (SELECT doc_id, start,
       |  CASE WHEN start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 8
       |       THEN 1 ELSE 0 END AS brk FROM mk),
       |isl AS (SELECT doc_id, start,
       |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM br),
       |sp AS (SELECT doc_id, MIN(start) AS s, MAX(start) + 8 AS e
       |  FROM isl GROUP BY doc_id, island),
       |pos AS (SELECT doc_id, unnest(range(len(toks))) AS i, toks
       |  FROM t WHERE len(toks) > 0),
       |kept AS (SELECT p.doc_id, p.i, p.toks[p.i + 1] AS tok FROM pos p
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = p.doc_id AND p.i >= sp.s AND p.i < sp.e)),
       |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
       |  string_agg(tok, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(t.toks) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(reb.clean_text, '') AS clean_text
       |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Distributed BPE merge training (pipeline.Bpe): 6 merges learned
    * over the document corpus's word frequencies. The corpus is read
    * once (word counts); every iteration is vocab-sized. The oracle
    * unrolls all 6 iterations as CTEs — pair counting, the total-order
    * argmax, and the greedy left-to-right merge (spelled as the
    * run-parity window: within a run of consecutive candidate
    * positions, merges land at even offsets — equivalent to the
    * engine's single-pass fold), so every rank's pair and count is
    * under the hash. */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val model = pipeline.Bpe.train(
      pipeline.Bpe.wordFreq(Tables.documents(s, dir), col("text")), 6)
    pipeline.Bpe.mergesDf(s, model.merges)
      .select(col("rank"), col("left").as("left_sym"),
        col("right").as("right_sym"), col("merged"), col("pair_count"))
      .orderBy("rank")
  }

  /** Encoding under the trained merges: per source, documents, word
    * occurrences and encoded-token totals — the "what does this corpus
    * cost in subword tokens" report. One corpus-sized explode + a join
    * against the vocab-sized segmentation. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = pipeline.Bpe.train(
      pipeline.Bpe.wordFreq(docs, col("text")), 6)
    pipeline.Bpe.encodedTokens(docs, col("text"),
        Seq(col("source"), col("doc_id")), model.segmented)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"))
      .orderBy("source")
  }

  /** The trained subword inventory: every symbol surviving the 6 merges,
    * with a dense deterministic id (rank by symbol), the distinct words
    * containing it and its weighted occurrence count — the vocab table a
    * tokenizer ships next to its merge list. The ranking window runs
    * over a relation bounded by |alphabet| + nMerges rows, not the
    * corpus. */
  private def qBpeVocab(s: SparkSession, dir: String): DataFrame = {
    val model = pipeline.Bpe.train(
      pipeline.Bpe.wordFreq(Tables.documents(s, dir), col("text")), 6)
    val occ = model.segmented
      .select(col("word"), col("freq"), explode(col("syms")).as("symbol"))
    occ.groupBy("symbol")
      .agg(countDistinct("word").as("n_words"),
        sum("freq").as("n_occurrences"))
      .withColumn("id", row_number()
        .over(Window.orderBy("symbol")).cast("long"))
      .select("id", "symbol", "n_words", "n_occurrences")
      .orderBy("id")
  }

  private val qBpeVocabSql =
    s"""WITH $BpeChainSql,
       |occ AS (SELECT word, freq, unnest(syms) AS symbol FROM s6),
       |agg AS (SELECT symbol, COUNT(DISTINCT word) AS n_words,
       |  CAST(SUM(freq) AS BIGINT) AS n_occurrences FROM occ GROUP BY symbol)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY symbol) AS BIGINT) AS id,
       |  symbol, n_words, n_occurrences
       |FROM agg ORDER BY id""".stripMargin

  /** The shared 6-iteration BPE CTE chain (DuckDB): s0..s6 carry
    * (word, freq, syms LIST); bN holds iteration N's argmax pair.
    * (`lazy` — referenced by oracle vals declared above it.) */
  private lazy val BpeChainSql: String = {
    val iters = (1 to 6).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (SELECT s$p.syms[j] AS l, s$p.syms[j+1] AS r,
         |    CAST(SUM(s$p.freq) AS BIGINT) AS cnt
         |  FROM s$p, unnest(generate_series(1, len(s$p.syms) - 1)) AS t(j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |x$i AS (SELECT word, freq, j, s$p.syms[j] AS sym, b$i.l AS bl,
         |    b$i.r AS br
         |  FROM s$p, unnest(generate_series(1, len(s$p.syms))) AS t(j), b$i),
         |c$i AS (SELECT x$i.*, CASE WHEN sym = bl AND lead(sym)
         |      OVER (PARTITION BY word ORDER BY j) = br
         |    THEN 1 ELSE 0 END AS cand FROM x$i),
         |g$i AS (SELECT c$i.*, CASE WHEN cand = 1 THEN j - ROW_NUMBER()
         |      OVER (PARTITION BY word, cand ORDER BY j) END AS grp
         |  FROM c$i),
         |k$i AS (SELECT g$i.*, CASE WHEN cand = 1
         |      AND (j - MIN(j) OVER (PARTITION BY word, grp)) % 2 = 0
         |    THEN 1 ELSE 0 END AS keep FROM g$i),
         |m$i AS (SELECT word, freq, j,
         |    CASE WHEN keep = 1 THEN sym || br
         |         WHEN lag(keep) OVER (PARTITION BY word ORDER BY j) = 1
         |           THEN NULL
         |         ELSE sym END AS sym
         |  FROM k$i),
         |s$i AS MATERIALIZED (SELECT word, ANY_VALUE(freq) AS freq,
         |    list(sym ORDER BY j) FILTER (sym IS NOT NULL) AS syms
         |  FROM m$i GROUP BY word)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest($DuckToks) AS word FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM w GROUP BY word),
       |s0 AS MATERIALIZED (SELECT word, freq,
       |  regexp_extract_all(word, '.') AS syms FROM wf),
       |$iters""".stripMargin
  }

  private val qBpeMergesSql = {
    val rows = (1 to 6).map { i =>
      s"""SELECT $i AS rank, l AS left_sym, r AS right_sym,
         |  l || r AS merged, cnt AS pair_count FROM b$i""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH $BpeChainSql
       |SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym, merged,
       |  pair_count
       |FROM ($rows) ORDER BY rank""".stripMargin
  }

  private val qBpeEncodeSql =
    s"""WITH $BpeChainSql,
       |enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms FROM s6),
       |dw AS (SELECT source, doc_id, unnest($DuckToks) AS word
       |  FROM documents),
       |per_doc AS (SELECT source, doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(e.n_syms) AS BIGINT) AS n_tokens
       |  FROM dw JOIN enc e USING (word) GROUP BY source, doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ===================================================================
  // Registry
  // ===================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing" -> (q1Pricing _),
    "q3_top_orders" -> (q3TopOrders _),
    "q5_region_revenue" -> (q5RegionRevenueImpl _),
    "q6_forecast" -> (q6Forecast _),
    "q_pricing_rollup" -> (qPricingRollup _),
    "q_top_parts" -> (qTopParts _),
    "status_datanodes" -> (statusDatanodes _),
    "meta_topology" -> (metaTopology _),
    "meta_datanodes" -> (metaDatanodes _),
    "meta_storages" -> (metaStorages _),
    "placement_candidates" -> (placementCandidates _),
    "placement_prefer_rank" -> (placementPreferRank _),
    "placement_top_racks" -> (placementTopRacks _),
    "placement_verify" -> (placementVerify _),
    "placement_verify_fast" -> (placementVerifyFast _),
    "placement_hierarchy_stats" -> (placementHierarchyStats _),
    "placement_choose" -> (placementChoose _),
    "placement_choose_favored" -> (placementChooseFavored _),
    "placement_delete" -> (placementDelete _),
    "q_user_windows" -> (qUserWindows _),
    "q_asof_last_purchase" -> (qAsofLastPurchase _),
    "q_sessions" -> (qSessions _),
    "q_event_type_stats" -> (qEventTypeStats _),
    "q_daily_anomalies" -> (qDailyAnomalies _),
    "q_salted_events_join" -> (qSaltedEventsJoin _),
    "q_salt_advisor" -> (qSaltAdvisor _),
    "q_retention_expiry" -> (qRetentionExpiry _),
    "q_user_event_pivot" -> (qUserEventPivot _),
    "q_topk_event_values" -> (qTopkEventValues _),
    "q_props_json" -> (qPropsJson _),
    "text_stats" -> (textStats _),
    "q_token_counts" -> (qTokenCounts _),
    "q_repetition_stats" -> (qRepetitionStats _),
    "q_blocklist_screen" -> (qBlocklistScreen _),
    "q_phrase_search" -> (qPhraseSearch _),
    "q_incremental_agg" -> (qIncrementalAgg _),
    "doc_rolling_chunks" -> (docRollingChunks _),
    "q_tfidf_top" -> (qTfidfTop _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_quantize_embeddings" -> (qQuantizeEmbeddings _),
    "q_embedding_dim_stats" -> (qEmbeddingDimStats _),
    "q_doc_length_quantiles" -> (qDocLengthQuantiles _),
    "q_doc_length_quantiles_approx" -> (qDocLengthQuantilesApprox _),
    "q_docs_without_embeddings" -> (qDocsWithoutEmbeddings _),
    "q_clean_corpus" -> (qCleanCorpus _),
    "q_curation_report" -> (qCurationReport _),
    "lang_id" -> (langIdQ _),
    "doc_fingerprint" -> (docFingerprint _),
    "dedup_exact" -> (dedupExact _),
    "dedup_ngram_pairs" -> (dedupNgramPairs _),
    "dedup_snm_pairs" -> (dedupSnmPairs _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_keep_canonical" -> (dedupKeepCanonical _),
    "q_contamination" -> (qContamination _),
    "q_training_corpus" -> (qTrainingCorpus _),
    "q_corpus_mix" -> (qCorpusMix _),
    "embedding_neardup_exact" -> (embeddingNeardupExact _),
    "embedding_neardup_lsh" -> (embeddingNeardupLsh _),
    "embedding_clusters" -> (embeddingClusters _),
    "ann_cosine_topk" -> (annCosineTopk _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_ivf_scaled_topk" -> (annIvfScaledTopk _),
    "ann_ivf_kmeans_topk" -> (annIvfKmeansTopk _),
    "ann_ivf_kmeans_scaled_topk" -> (annIvfKmeansScaledTopk _),
    "ann_ivf_index_refresh" -> (annIvfIndexRefresh _),
    "ann_ivf_retrain" -> (annIvfRetrain _),
    "ann_ivf_persisted" -> (annIvfPersisted _),
    "embedding_admit_indexed" -> (embeddingAdmitIndexed _),
    "q_semdedup" -> (qSemdedup _),
    "q_proto_rank" -> (qProtoRank _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_phash" -> (multimodalPhash _),
    "multimodal_phash_pairs" -> (multimodalPhashPairs _),
    "multimodal_phash_clusters" -> (multimodalPhashClusters _),
    "multimodal_keep_canonical" -> (multimodalKeepCanonical _),
    "multimodal_phash_incremental" -> (multimodalPhashIncremental _),
    "multimodal_phash_index_refresh" -> (multimodalPhashIndexRefresh _),
    "multimodal_phash_index_persisted" -> (multimodalPhashIndexPersisted _),
    "multimodal_quarantine" -> (multimodalQuarantine _),
    "pii_redact" -> (piiRedact _),
    "q_quality_rules" -> (qQualityRules _),
    "q_json_quarantine" -> (qJsonQuarantine _),
    "dedup_blocks" -> (dedupBlocks _),
    "q_dup_spans" -> (qDupSpans _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_epoch_shuffle" -> (qEpochShuffle _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_bloom" -> (dedupIncrementalBloom _),
    "dedup_incremental_neardup" -> (dedupIncrementalNeardup _),
    "dedup_index_refresh" -> (dedupIndexRefresh _),
    "dedup_index_persisted" -> (dedupIndexPersisted _),
    "q_lm_score" -> (qLmScore _),
    "q_pq_encode" -> (qPqEncode _),
    "ann_pq_topk" -> (annPqTopk _),
    "ann_pq_rerank_topk" -> (annPqRerankTopk _),
    "ann_pq_index_refresh" -> (annPqIndexRefresh _),
    "ann_pq_retrain" -> (annPqRetrain _),
    "ann_pq_persisted" -> (annPqPersisted _),
    "ann_ivfpq_topk" -> (annIvfPqTopk _),
    "ann_ivfpq_rerank_topk" -> (annIvfPqRerankTopk _),
    "q_interval_pairs" -> (qIntervalPairs _),
    "q_attribution_outer" -> (qAttributionOuter _),
    "q_chunk_overlap" -> (qChunkOverlap _),
    "q_profile_lineitem" -> (qProfileLineitem _),
    "q_funnel" -> (qFunnel _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_bm25_topk" -> (qBm25Topk _),
    "q_bm25_indexed" -> (qBm25Indexed _),
    "q_bm25_index_refresh" -> (qBm25IndexRefresh _),
    "q_bm25_retrain" -> (qBm25Retrain _),
    "q_hybrid_retrieval" -> (qHybridRetrieval _),
    "q_hybrid_retrieval_indexed" -> (qHybridRetrievalIndexed _),
    "q_scd2_users" -> (qScd2Users _),
    "q_event_cube" -> (qEventCube _),
    "q_compaction_plan" -> (qCompactionPlan _),
    "q_spectral_direction" -> (qSpectralDirection _),
    "q_zonemap_prune" -> (qZonemapPrune _),
    "q_zonemap_hilbert" -> (qZonemapHilbert _),
    "q_zorder_layout" -> (qZorderLayout _),
    "q_hilbert_layout" -> (qHilbertLayout _),
    "q_part_triangles" -> (qPartTriangles _),
    "q_fuzzy_part_names" -> (qFuzzyPartNames _),
    "q_retention" -> (qRetention _),
    "q_table_diff" -> (qTableDiff _),
    "q_apply_changes" -> (qApplyChanges _),
    "q_change_set" -> (qChangeSet _),
    "q_event_transitions" -> (qEventTransitions _),
    "q_value_outliers" -> (qValueOutliers _),
    "q_value_histogram" -> (qValueHistogram _),
    "q_value_histogram_approx" -> (qValueHistogramApprox _),
    "q_value_histogram_bounded" -> (qValueHistogramBounded _),
    "q_value_outliers_approx" -> (qValueOutliersApprox _),
    "q_constraints_orders" -> (qConstraintsOrders _),
    "q_skew_report" -> (qSkewReport _),
    "q_partitioned_prune" -> (qPartitionedPrune _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_dsir_sample" -> (qDsirSample _),
    "q_corpus_drift" -> (qCorpusDrift _),
    "q_curriculum_order" -> (qCurriculumOrder _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_corpus_checksum" -> (qCorpusChecksum _),
    "q_length_buckets" -> (qLengthBuckets _),
    "q_part_pagerank" -> (qPartPagerank _),
    "q_event_drift" -> (qEventDrift _),
    "q_normalize_text" -> (qNormalizeText _),
    "q_train_val_test" -> (qTrainValTest _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_heavy_hitters_cms" -> (qHeavyHittersCms _),
    "q_join_size_estimate" -> (qJoinSizeEstimate _),
    "q_source_overlap" -> (qSourceOverlap _),
    "q_distinct_sketch" -> (qDistinctSketch _),
    "q_distinct_sketch_merged" -> (qDistinctSketchMerged _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_bpe_vocab" -> (qBpeVocab _),
    "q_trim_dup_spans" -> (qTrimDupSpans _)
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing" -> q1PricingSql,
    "q3_top_orders" -> q3TopOrdersSql,
    "q5_region_revenue" -> q5RegionRevenueSql,
    "q6_forecast" -> q6ForecastSql,
    "q_pricing_rollup" -> qPricingRollupSql,
    "q_top_parts" -> qTopPartsSql,
    "status_datanodes" -> statusDatanodesSql,
    "meta_topology" -> metaTopologySql,
    "meta_datanodes" -> metaDatanodesSql,
    "meta_storages" -> metaStoragesSql,
    "placement_candidates" -> placementCandidatesSql,
    "placement_prefer_rank" -> placementPreferRankSql,
    "placement_top_racks" -> placementTopRacksSql,
    "placement_verify" -> placementVerifySql,
    "placement_verify_fast" -> placementVerifyFastSql,
    "placement_hierarchy_stats" -> placementHierarchyStatsSql,
    "placement_delete" -> placementDeleteSql,
    "placement_choose" -> placementChooseSql,
    "placement_choose_favored" -> placementChooseFavoredSql,
    "q_user_windows" -> qUserWindowsSql,
    "q_asof_last_purchase" -> qAsofLastPurchaseSql,
    "q_sessions" -> qSessionsSql,
    "q_event_type_stats" -> qEventTypeStatsSql,
    "q_daily_anomalies" -> qDailyAnomaliesSql,
    "q_salted_events_join" -> qSaltedEventsJoinSql,
    "q_salt_advisor" -> qSaltAdvisorSql,
    "q_retention_expiry" -> qRetentionExpirySql,
    "q_user_event_pivot" -> qUserEventPivotSql,
    "q_topk_event_values" -> qTopkEventValuesSql,
    "q_props_json" -> qPropsJsonSql,
    "text_stats" -> textStatsSql,
    "q_token_counts" -> qTokenCountsSql,
    "q_repetition_stats" -> qRepetitionStatsSql,
    "q_blocklist_screen" -> qBlocklistScreenSql,
    "q_phrase_search" -> qPhraseSearchSql,
    "q_incremental_agg" -> qIncrementalAggSql,
    "doc_rolling_chunks" -> docRollingChunksSql,
    "q_tfidf_top" -> qTfidfTopSql,
    "q_sample_stratified" -> qSampleStratifiedSql,
    "q_quantize_embeddings" -> qQuantizeEmbeddingsSql,
    "q_embedding_dim_stats" -> qEmbeddingDimStatsSql,
    "q_doc_length_quantiles" -> qDocLengthQuantilesSql,
    "q_doc_length_quantiles_approx" -> qDocLengthQuantilesSql,
    "q_docs_without_embeddings" -> qDocsWithoutEmbeddingsSql,
    "q_clean_corpus" -> qCleanCorpusSql,
    "q_curation_report" -> qCurationReportSql,
    "lang_id" -> langIdSql,
    "doc_fingerprint" -> docFingerprintSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_ngram_pairs" -> dedupNgramPairsSql,
    "dedup_snm_pairs" -> dedupSnmPairsSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_simhash_pairs" -> dedupSimhashPairsSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_keep_canonical" -> dedupKeepCanonicalSql,
    "q_contamination" -> qContaminationSql,
    "q_training_corpus" -> qTrainingCorpusSql,
    "q_corpus_mix" -> qCorpusMixSql,
    "embedding_neardup_exact" -> embeddingNeardupExactSql,
    "embedding_neardup_lsh" -> embeddingNeardupLshSql,
    "embedding_clusters" -> embeddingClustersSql,
    "ann_cosine_topk" -> annCosineTopkSql,
    "ann_ivf_topk" -> annIvfTopkSql,
    "ann_ivf_scaled_topk" -> annIvfScaledTopkSql,
    "ann_ivf_kmeans_topk" -> annIvfKmeansTopkSql,
    "ann_ivf_kmeans_scaled_topk" -> annIvfKmeansScaledTopkSql,
    "ann_ivf_index_refresh" -> annIvfIndexRefreshSql,
    "ann_ivf_retrain" -> annIvfRetrainSql,
    "ann_ivf_persisted" -> annIvfIndexRefreshSql,
    "embedding_admit_indexed" -> embeddingAdmitIndexedSql,
    "q_semdedup" -> qSemdedupSql,
    "q_proto_rank" -> qProtoRankSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_frames" -> multimodalFramesSql,
    "multimodal_phash" -> multimodalPhashSql,
    "multimodal_phash_pairs" -> multimodalPhashPairsSql,
    "multimodal_phash_clusters" -> multimodalPhashClustersSql,
    "multimodal_keep_canonical" -> multimodalKeepCanonicalSql,
    "multimodal_phash_incremental" -> multimodalPhashIncrementalSql,
    "multimodal_phash_index_refresh" -> multimodalPhashIncrementalSql,
    "multimodal_phash_index_persisted" -> multimodalPhashIncrementalSql,
    "multimodal_quarantine" -> multimodalQuarantineSql,
    "pii_redact" -> piiRedactSql,
    "q_quality_rules" -> qQualityRulesSql,
    "q_json_quarantine" -> qJsonQuarantineSql,
    "dedup_blocks" -> dedupBlocksSql,
    "q_dup_spans" -> qDupSpansSql,
    "q_pack_sequences" -> qPackSequencesSql,
    "q_epoch_shuffle" -> qEpochShuffleSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_bloom" -> dedupIncrementalSql,
    "dedup_incremental_neardup" -> dedupIncrementalNeardupSql,
    "dedup_index_refresh" -> dedupIncrementalNeardupSql,
    "dedup_index_persisted" -> dedupIncrementalNeardupSql,
    "q_lm_score" -> qLmScoreSql,
    "q_pq_encode" -> qPqEncodeSql,
    "ann_pq_topk" -> annPqTopkSql,
    "ann_pq_rerank_topk" -> annPqRerankTopkSql,
    "ann_pq_index_refresh" -> annPqIndexRefreshSql,
    "ann_pq_retrain" -> annPqRetrainSql,
    "ann_pq_persisted" -> annPqIndexRefreshSql,
    "ann_ivfpq_topk" -> annIvfPqTopkSql,
    "ann_ivfpq_rerank_topk" -> annIvfPqRerankTopkSql,
    "q_interval_pairs" -> qIntervalPairsSql,
    "q_attribution_outer" -> qAttributionOuterSql,
    "q_chunk_overlap" -> qChunkOverlapSql,
    "q_profile_lineitem" -> qProfileLineitemSql,
    "q_funnel" -> qFunnelSql,
    "q_bucketed_join" -> qBucketedJoinSql,
    "q_bm25_topk" -> qBm25TopkSql,
    "q_bm25_indexed" -> qBm25TopkSql,
    "q_bm25_index_refresh" -> qBm25TopkSql,
    "q_bm25_retrain" -> qBm25TopkSql,
    "q_hybrid_retrieval" -> qHybridRetrievalSql,
    "q_hybrid_retrieval_indexed" -> qHybridRetrievalSql,
    "q_scd2_users" -> qScd2UsersSql,
    "q_event_cube" -> qEventCubeSql,
    "q_compaction_plan" -> qCompactionPlanSql,
    "q_spectral_direction" -> qSpectralDirectionSql,
    "q_zonemap_prune" -> qZonemapPruneSql,
    "q_zonemap_hilbert" -> qZonemapHilbertSql,
    "q_zorder_layout" -> qZorderLayoutSql,
    "q_hilbert_layout" -> qHilbertLayoutSql,
    "q_part_triangles" -> qPartTrianglesSql,
    "q_fuzzy_part_names" -> qFuzzyPartNamesSql,
    "q_retention" -> qRetentionSql,
    "q_table_diff" -> qTableDiffSql,
    "q_apply_changes" -> qApplyChangesSql,
    "q_change_set" -> qChangeSetSql,
    "q_event_transitions" -> qEventTransitionsSql,
    "q_value_outliers" -> qValueOutliersSql,
    "q_value_histogram" -> qValueHistogramSql,
    "q_value_histogram_approx" -> qValueHistogramSql,
    "q_value_histogram_bounded" -> qValueHistogramBoundedSql,
    "q_value_outliers_approx" -> qValueOutliersSql,
    "q_constraints_orders" -> qConstraintsOrdersSql,
    "q_skew_report" -> qSkewReportSql,
    "q_partitioned_prune" -> qPartitionedPruneSql,
    "q_weighted_sample" -> qWeightedSampleSql,
    "q_dsir_sample" -> qDsirSampleSql,
    "q_corpus_drift" -> qCorpusDriftSql,
    "q_curriculum_order" -> qCurriculumOrderSql,
    "q_ann_recall" -> qAnnRecallSql,
    "q_corpus_checksum" -> qCorpusChecksumSql,
    "q_length_buckets" -> qLengthBucketsSql,
    "q_part_pagerank" -> qPartPagerankSql,
    "q_event_drift" -> qEventDriftSql,
    "q_normalize_text" -> qNormalizeTextSql,
    "q_train_val_test" -> qTrainValTestSql,
    "q_hard_negatives" -> qHardNegativesSql,
    "q_heavy_hitters_cms" -> qHeavyHittersCmsSql,
    "q_join_size_estimate" -> qJoinSizeEstimateSql,
    "q_source_overlap" -> qSourceOverlapSql,
    "q_distinct_sketch" -> qDistinctSketchSql,
    // same oracle as the direct sketch: pins merge == direct, byte for byte
    "q_distinct_sketch_merged" -> qDistinctSketchSql,
    "q_bpe_merges" -> qBpeMergesSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_bpe_vocab" -> qBpeVocabSql,
    "q_trim_dup_spans" -> qTrimDupSpansSql
  )
}
