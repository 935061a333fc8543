package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{ClusterSnapshot, NodeMeta, PlacementRequest, PolicyEngine, StorageMeta}

/** Spark operators around the [[graft.plans.PolicyEngine]] decision
  * procedures.
  *
  * Scale shape: cluster metadata (the snapshot) is collected once and
  * broadcast — it is small by nature (SURVEY §1.1) — and each operator
  * takes the snapshot's own broadcast, so a snapshot is serialized once
  * however many operators run over it. The *requests* and *blocks*
  * dimensions are the 100 TB-class fact tables, so both operators
  * are data-parallel over them (`flatMap` / `flatMapGroups` inside
  * executors); nothing per-request ever touches the driver.
  */
object Placement {

  final case class RequestRow(request_id: Long, additional: Int,
                              writer_uuid: Option[String], excludes: Seq[String],
                              block_size: Long)
  final case class PickRow(request_id: Long, pick_order: Int, storage_id: String,
                           datanode_uuid: String)
  final case class FavoredRequestRow(request_id: Long, additional: Int,
                                     writer_uuid: Option[String], excludes: Seq[String],
                                     favored: Seq[String], block_size: Long)
  final case class FavoredSummary(request_id: Long, n_picked: Long,
                                  n_distinct_nodes: Long, n_distinct_racks: Long,
                                  n_dcs: Long, max_per_dc: Long,
                                  n_favored: Long, n_favored_eligible: Long,
                                  n_favored_picked: Long, favored_first: Boolean,
                                  n_excl_violations: Long, n_unhealthy: Long,
                                  n_bad_storage: Long)
  final case class CandidateRow(block_id: Long, require_replica: Long, storage_id: String)
  final case class RemovalRow(block_id: Long, removal_order: Int, storage_id: String)
  final case class DeleteSummary(block_id: Long, require_replica: Long,
                                 n_candidates: Long, n_removed: Long,
                                 n_removed_distinct: Long, n_in_candidates: Long,
                                 n_survivors: Long)

  /** Default bound of [[boundedFetch]]: ~10^5 storages is the modelled fleet. */
  val MaxFleetRows: Long = 2000000L

  /** Collects a relation that should be fleet-sized (one row per node or
    * storage) to the driver, failing by name above `maxFleetRows` rows: an
    * accidentally data-sized metadata relation (a joined-in block table, a
    * bad filter) stops here instead of OOM-ing the driver mid-collect — the
    * discipline of `Ivf.searchTopK.maxQueryRows`. The bound is enforced on
    * the collected relation itself (a duplicate-keyed join's fan-out
    * counts) by a limit-bounded collect in one task: one job, no count()
    * job, and no growing rounds of partition scans, one job each. */
  private[operators] def boundedFetch(df: DataFrame, what: String,
                                      maxFleetRows: Long = MaxFleetRows): Array[Row] = {
    val rows = df.coalesce(1)
      .limit(math.min(maxFleetRows + 1L, Int.MaxValue.toLong).toInt).collect()
    require(rows.length <= maxFleetRows,
      s"the $what relation is collected to the driver and has > " +
        s"maxFleetRows=$maxFleetRows rows. This relation should be fleet-sized " +
        "(one row per node/storage); raise the bound explicitly only for a " +
        "genuinely larger fleet.")
    rows
  }

  /** Collect + assemble the broadcastable snapshot from the metadata
    * DataFrames. Health is evaluated here once (P6 health tester). The
    * collect is FLEET-sized, not data-sized, by design (SURVEY §7: the
    * greedy loop runs against a broadcast snapshot); [[boundedFetch]]
    * enforces that envelope on each collected relation. */
  def snapshot(storages: DataFrame, datanodes: DataFrame, topology: DataFrame,
               asOfMs: Long, staleIntervalMs: Long,
               maxFleetRows: Long = MaxFleetRows): ClusterSnapshot = {
    val d = datanodes
    val healthy = CandidateFilters.nodeHealthy(d("registered"),
      d("decommission_in_progress"), d("decommissioned"), d("disallowed"),
      d("last_heartbeat_ms"), asOfMs, staleIntervalMs)
    val nodes = boundedFetch(topology.select("datanode_uuid", "path")
      .join(d.select(col("datanode_uuid"), healthy.as("healthy"), col("xceiver_count")),
        "datanode_uuid"), "topology ⨝ datanodes", maxFleetRows)
      .map(r => NodeMeta(r.getAs[String]("datanode_uuid"), r.getAs[String]("path"),
        r.getAs[Boolean]("healthy"), r.getAs[Number]("xceiver_count").intValue))
      .toVector
    val sts = boundedFetch(
      storages.select("storage_id", "datanode_uuid", "state", "type", "remaining"),
      "storages", maxFleetRows)
      .map(r => StorageMeta(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toVector
    ClusterSnapshot(nodes, sts)
  }

  /** The `PlacementRequest` a batch request row stands for, with `favored`
    * datanodes (shared by the pick, invariant and favored-invariant
    * operators so their greedy inputs cannot drift). */
  private def toRequest(r: RequestRow, favored: Seq[String] = Nil): PlacementRequest =
    PlacementRequest(r.request_id, r.additional, r.writer_uuid,
      chosen = Nil, returnChosen = false, excludes = r.excludes,
      blockSize = r.block_size,
      policy = Map("DISK" -> r.additional.toLong), favored = favored)

  /** P1–P9 batch mode: one balanced allocation per request row, computed in
    * executors against the broadcast snapshot. Randomness is seeded by
    * request_id, so results are reproducible across runs and partitionings. */
  def choosePlacements(spark: SparkSession, snap: ClusterSnapshot,
                       requests: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = snap.broadcast(spark.sparkContext)
    requests.as[RequestRow].flatMap { r =>
      PolicyEngine.chooseTarget(bc.value, toRequest(r), new Random(r.request_id))
        .zipWithIndex.map { case (st, i) => PickRow(r.request_id, i, st.id, st.nodeUuid) }
    }.toDF()
  }

  /** Per-request invariant summary of [[choosePlacements]]: the
    * [[chooseFavoredInvariants]] pass with no favored nodes (one narrow map
    * per request, no joins or shuffles), minus the favored columns. The
    * *expected* values come from the DuckDB oracle's independent fixture
    * arithmetic, so the cross-engine gate stays a two-sided check: a greedy
    * drift (lost pick, duplicate node, unbalanced DC split,
    * exclusion/health/storage filter leak) flips a counter here and fails
    * the hash there. */
  def chooseInvariants(spark: SparkSession, snap: ClusterSnapshot,
                       requests: DataFrame): DataFrame =
    chooseFavoredInvariants(spark, snap,
        requests.withColumn("favored", array().cast("array<string>")))
      .select("request_id", "n_picked", "n_distinct_nodes", "n_distinct_racks",
        "n_dcs", "max_per_dc", "n_excl_violations", "n_unhealthy", "n_bad_storage")

  /** Favored-nodes form of [[chooseInvariants]]: broadcast snapshot, one
    * narrow map per request, no shuffles, with the favored contract made observable — how many favored nodes
    * were eligible, how many were picked, and whether every favored pick
    * came before every balanced pick. The DuckDB oracle recomputes
    * eligibility (health, exclusion, storage state/type/space) from the
    * fixture arithmetic, so a favored-path drift (skipped eligible node,
    * quota overrun, favored picked after a balanced pick) fails the hash. */
  def chooseFavoredInvariants(spark: SparkSession, snap: ClusterSnapshot,
                              requests: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = snap.broadcast(spark.sparkContext)
    requests.as[FavoredRequestRow].map { r =>
      val s = bc.value
      val req = toRequest(RequestRow(r.request_id, r.additional, r.writer_uuid,
        r.excludes, r.block_size), r.favored)
      val picks = PolicyEngine.chooseTarget(s, req, new Random(r.request_id))
      val nodes = picks.map(st => s.nodeByUuid(st.nodeUuid))
      val racks = nodes.map(n => PolicyEngine.parentPath(n.path))
      val perDc = nodes.groupBy(n => PolicyEngine.topRack(n.path))
      val eligible = PolicyEngine.favoredEligible(s, req).map(_.uuid).toSet
      val favoredSet = r.favored.toSet
      val nFavoredPicked = nodes.count(n => favoredSet.contains(n.uuid))
      FavoredSummary(
        r.request_id,
        n_picked = picks.size.toLong,
        n_distinct_nodes = nodes.map(_.uuid).distinct.size.toLong,
        n_distinct_racks = racks.distinct.size.toLong,
        n_dcs = perDc.size.toLong,
        max_per_dc = if (perDc.isEmpty) 0L else perDc.values.map(_.size).max.toLong,
        n_favored = r.favored.distinct.size.toLong,
        n_favored_eligible = eligible.size.toLong,
        n_favored_picked = nFavoredPicked.toLong,
        favored_first = nodes.take(nFavoredPicked).forall(n => favoredSet.contains(n.uuid)),
        n_excl_violations = nodes.count(n => r.excludes.exists(n.path.startsWith)).toLong,
        n_unhealthy = nodes.count(!_.healthy).toLong,
        n_bad_storage = picks.count(st => st.state != "NORMAL" ||
          st.tpe != "DISK" || st.remaining < r.block_size).toLong)
    }.toDF()
  }

  /** P13–P14 batch mode: per block, greedily pick excess replicas to delete.
    * Vectorized with `flatMapGroups` over block_id — the one place a typed
    * group function beats a driver loop at fleet scale (SURVEY §7 step 6). */
  def chooseDeletions(spark: SparkSession, snap: ClusterSnapshot,
                      candidates: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = snap.broadcast(spark.sparkContext)
    candidates.as[CandidateRow]
      .groupByKey(_.block_id)
      .flatMapGroups { (blockId, it) =>
        val rows = it.toVector
        val ids = rows.map(_.storage_id)
        // same deterministic reduction as deleteInvariants: `rows.head` of a
        // mapGroups iterator is partition-order dependent, so a block whose
        // candidate rows disagree on require_replica would make the greedy
        // nondeterministic across runs (and drift from the invariant pass)
        val configReplica = rows.map(_.require_replica).max.toInt
        PolicyEngine.chooseReplicasToDelete(bc.value, ids, configReplica)
          .zipWithIndex.map { case (st, i) => RemovalRow(blockId, i, st.id) }
      }.toDF()
  }

  /** Per-block invariant summary of [[chooseDeletions]], computed inside the
    * same `mapGroups` pass as the greedy (one key shuffle total — no second
    * scan, join, or aggregation). Counterpart of [[chooseInvariants]]: the
    * DuckDB oracle predicts every column from fixture arithmetic (2-DC
    * `min(4, r)` survivor quota, excess-only removal, victims distinct and
    * drawn from the candidates), so greedy drift fails the hash. */
  def deleteInvariants(spark: SparkSession, snap: ClusterSnapshot,
                       candidates: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = snap.broadcast(spark.sparkContext)
    candidates.as[CandidateRow]
      .groupByKey(_.block_id)
      .mapGroups { (blockId, it) =>
        val rows = it.toVector
        val ids = rows.map(_.storage_id)
        val distinctIds = ids.distinct
        val rr = rows.map(_.require_replica).max
        val removed = PolicyEngine.chooseReplicasToDelete(bc.value, ids, rr.toInt)
        val removedIds = removed.map(_.id)
        val candSet = distinctIds.toSet
        DeleteSummary(blockId, rr,
          n_candidates = distinctIds.size.toLong,
          n_removed = removed.size.toLong,
          n_removed_distinct = removedIds.distinct.size.toLong,
          n_in_candidates = removedIds.count(candSet.contains).toLong,
          n_survivors = (distinctIds.size - removed.size).toLong)
      }.toDF()
  }
}
