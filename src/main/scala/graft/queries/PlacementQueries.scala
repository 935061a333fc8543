package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CandidateFilters, PathAlgebra, Verification}
import graft.sources.MetaFixtures
import graft.sources.MetaFixtures.{cteSql, AsOfMs, DefaultBlockSize, DefaultStaleMs}

/** The placement queries: the metadata fixtures themselves (sanity for
  * the arithmetic generator), candidate filtering and ranking, placement
  * verification, the greedy choose/delete procedures (checked through
  * per-request invariant summaries) and datanode status. */
object PlacementQueries {

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

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("status_datanodes", statusDatanodes, statusDatanodesSql),
    QuerySpec("meta_topology", metaTopology, metaTopologySql),
    QuerySpec("meta_datanodes", metaDatanodes, metaDatanodesSql),
    QuerySpec("meta_storages", metaStorages, metaStoragesSql),
    QuerySpec("placement_candidates", placementCandidates, placementCandidatesSql),
    QuerySpec("placement_prefer_rank", placementPreferRank, placementPreferRankSql),
    QuerySpec("placement_top_racks", placementTopRacks, placementTopRacksSql),
    QuerySpec("placement_verify", placementVerify, placementVerifySql),
    QuerySpec("placement_verify_fast", placementVerifyFast, placementVerifyFastSql),
    QuerySpec("placement_hierarchy_stats", placementHierarchyStats,
      placementHierarchyStatsSql),
    QuerySpec("placement_choose", placementChoose, placementChooseSql),
    QuerySpec("placement_choose_favored", placementChooseFavored,
      placementChooseFavoredSql),
    QuerySpec("placement_delete", placementDelete, placementDeleteSql)
  )
}
