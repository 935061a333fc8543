package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftConf

/** P10–P12: placement verification as one fold per block.
  *
  * The reference's `verifyBlockPlacementBalancedOptimal`
  * (`CrossAZBlockPlacementPolicy.java:385-516`) walks one block's few
  * replicas up the hierarchy host -> rack -> dc -> root. Here that walk is
  * a fold over each block's sorted run in a per-block replica view
  * ([[blockView]]): one exchange of the replica table — the 100 TB-class
  * input, so one narrow shuffle of it is the floor — then nested run-length
  * scans, with no aggregate and no further exchange of the replicas.
  *
  * Semantics preserved exactly (ref `:400-515`):
  *
  *  - per parent with `leaf` replicas below it placed into `groups` distinct
  *    children out of `available`: optimal iff
  *    `leaf <= available ? groups == leaf : groups == available`
  *    (spread check, ref `:455-481`) AND `max - min <= 1` (balance, `:481`);
  *  - a block whose root total < require_replica fails with "not_enough"
  *    (ref `:417-434`) — checked before optimality, and an *empty* replica
  *    set is always unsatisfied (the reference's `.orElse(false)`);
  *  - `reason_code` is a compact code (`not_enough` / `not_optimal`);
  *    `reason` is the reference's full formatted message
  *    ("not enough storage nodes:[(ip),...], require:N", ref `:423-433`;
  *    "placement not optimal, datanodes:[(ip),...], require replica:N",
  *    ref `:500-510`), built only in the violation branch (`when(...)`) —
  *    the Spark analog of the reference's lazy `Supplier` messages
  *    (`:33-62`). Node lists are sorted for cross-run determinism (the
  *    reference prints replica-array order, which is not stable).
  */
object Verification {

  /** Replicas located on the topology: adds dc/rack/path/ip per replica row.
    * When the topology carries no `ip` column, the path leaf stands in — in
    * HDFS `NodeBase` paths (`/dc/rack/<host>`) the leaf IS the node's
    * network identity, which is what the P17 messages print. */
  def located(replicas: DataFrame, topology: DataFrame): DataFrame = {
    val ip =
      if (topology.columns.contains("ip")) col("ip")
      else element_at(split(col("path"), "/"), -1)
    replicas.join(broadcast(topology.select(col("datanode_uuid"), col("dc"),
      col("rack"), col("path"), ip.as("ip"))), "datanode_uuid")
  }

  // column ordinals of the block view; verification appends the marker
  // columns (see [[verifyBalancedOptimal]])
  private final val Block = 0
  private final val Dc = 1
  private final val Rack = 2
  private final val Node = 3
  private final val Ip = 4
  private final val Bid = 5
  private final val Req = 6
  private final val Marker = 7

  /** Located replicas as `(block_id, dc, rack, datanode_uuid, ip)`; a
    * replica without a block id is left out. */
  private def replicaView(replicas: DataFrame, topology: DataFrame): DataFrame =
    located(replicas, topology)
      .where(col("block_id").isNotNull)
      .select(col("block_id"), col("dc"), col("rack"), col("datanode_uuid"), col("ip"))

  /** The per-block view both operators fold over: `view` (led by the
    * [[replicaView]] columns) in one exchange by `block_id`, sorted within
    * partitions so that each block, dc, rack and host is a contiguous run.
    * The exchange width is PINNED to the configured shuffle partitions
    * (REPARTITION_BY_NUM is exempt from AQE coalescing): the fold after it
    * is CPU work, which byte-based coalescing would size by the narrow
    * view's bytes instead (12 of 32 slots at the 200k-block fixture). */
  private def blockView(view: DataFrame): DataFrame =
    // resolved conf accessor, not raw-string .toInt: some runtimes set the
    // raw conf to a non-numeric value (e.g. "auto") that the session
    // resolves to a number
    view.repartition(view.sparkSession.sessionState.conf.numShufflePartitions,
        col("block_id"))
      .sortWithinPartitions("block_id", "dc", "rack", "datanode_uuid")

  /** Runs `foldRun` over each block's run of one partition's sorted view
    * rows (a NULL `block_id` is a run of its own). */
  private def perBlock[T](rows: Iterator[Row])(
      foldRun: collection.IndexedSeq[Row] => Iterable[T]): Iterator[T] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val id = in.head.get(Block)
      val run = ArrayBuffer.empty[Row]
      while (in.hasNext && in.head.get(Block) == id) run += in.next()
      foldRun(run)
    }
  }

  /** End of the run of rows in `[from, until)` whose column `c` equals
    * `rs(from)`'s (NULL equals NULL, as in a grouping key). */
  private def runEnd(rs: collection.IndexedSeq[Row], from: Int, until: Int, c: Int): Int = {
    val v = rs(from).getString(c)
    var i = from + 1
    while (i < until && rs(i).getString(c) == v) i += 1
    i
  }

  /** Running `(groups, leaf, max, min)` over the child counts of one
    * parent: groups is the number of children, leaf the replicas below. */
  private final class Tally {
    var groups, leaf = 0L
    var max = Long.MinValue
    var min = Long.MaxValue
    def add(n: Long): Unit = {
      groups += 1; leaf += n; max = math.max(max, n); min = math.min(min, n)
    }
    /** The spread or balance check fails against `available` children. */
    def violated(available: Long): Boolean =
      (if (leaf <= available) groups != leaf else groups != available) || max - min > 1
  }

  /** Walks one block's sorted run up the hierarchy with nested run scans.
    * Each rack run `[from, until)` is tallied from its host runs (a host's
    * count includes same-node duplicates) and offered to `rack(dc, rack,
    * from, until, hosts)`, which says whether it counts; each dc with a
    * counted rack goes to `dc(dc, racks)`. Returns the root's tally. */
  private def walk(rs: collection.IndexedSeq[Row])(
      rack: (String, String, Int, Int, Tally) => Boolean,
      dc: (String, Tally) => Unit): Tally = {
    val root = new Tally
    var i = 0
    while (i < rs.length) {
      val dcName = rs(i).getString(Dc)
      val dcEnd = runEnd(rs, i, rs.length, Dc)
      val racks = new Tally
      var j = i
      while (j < dcEnd) {
        val rackEnd = runEnd(rs, j, dcEnd, Rack)
        val hosts = new Tally
        var k = j
        while (k < rackEnd) {
          val hostEnd = runEnd(rs, k, rackEnd, Node)
          hosts.add(hostEnd - k)
          k = hostEnd
        }
        if (rack(dcName, rs(j).getString(Rack), j, rackEnd, hosts)) racks.add(hosts.leaf)
        j = rackEnd
      }
      if (racks.groups > 0) {
        dc(dcName, racks)
        root.add(racks.leaf)
      }
      i = dcEnd
    }
    root
  }

  /** Hierarchy statistics per (block, parent): number of occupied child
    * groups, total replicas underneath, and per-child max/min — the path-
    * keyed shape the reference exposes (parents "", "/dc", "/dc/rack").
    * One [[walk]] per block emits every rack, dc and root row. There is no
    * dimension join, so a NULL dc or rack is a group of its own and prints
    * as "null" in the parent path. */
  def hierarchyStats(replicas: DataFrame, topology: DataFrame): DataFrame = {
    val spark = replicas.sparkSession
    import spark.implicits._
    blockView(replicaView(replicas, topology))
      .mapPartitions(rows => perBlock(rows)(hierarchyFold))
      .toDF("block_id", "parent", "groups", "leaf", "max_placed", "min_placed")
  }

  private def hierarchyFold(rs: collection.IndexedSeq[Row])
      : Iterable[(Long, String, Long, Long, Long, Long)] = {
    val id = rs.head.getLong(Block)
    val out = ArrayBuffer.empty[(Long, String, Long, Long, Long, Long)]
    def emit(parent: String, t: Tally): Unit =
      out += ((id, parent, t.groups, t.leaf, t.max, t.min))
    emit("", walk(rs)(
      (dc, rack, _, _, hosts) => { emit(s"/$dc/$rack", hosts); true },
      (dc, racks) => emit(s"/$dc", racks)))
    out
  }

  /** The topology's child counts, read once per call on the driver through
    * the fleet-size bound of [[Placement.boundedFetch]]: dc -> rack ->
    * topology rows in that rack. A rack's `available` is
    * `fanout(dc)(rack)`, a dc's `fanout(dc).size`, the root's
    * `fanout.size`; a NULL dc or rack is no group, as in `countDistinct`
    * and an equi-join. */
  private def fanout(topology: DataFrame): Map[String, Map[String, Long]] =
    Placement.boundedFetch(topology.select("dc", "rack"), "topology")
      .filter(!_.isNullAt(0))
      .groupBy(_.getString(0))
      .map { case (dc, rows) =>
        dc -> rows.filter(!_.isNullAt(1)).groupBy(_.getString(1))
          .map { case (rack, hosts) => rack -> hosts.length.toLong }
      }

  /** Full balanced-optimal verification: one row per block in `blocks`
    * (block_id, require_replica) with (satisfied, reason_code, reason).
    *
    * Each `blocks` row rides the replica exchange as a marker row of its
    * block (its `block_id` cast to BIGINT as the key, its own `block_id`
    * and `require_replica` carried beside it), so the verdict needs no
    * join. One [[walk]] per block yields `(any_violation, root_total,
    * ips)`, checking each level against its [[fanout]] count (captured in
    * the fold) and gathering the replicas' ips, and every marker of the
    * block gets one row with them — a block listed twice gets two. A
    * replica whose dc or rack is NULL or not in the topology drops out of
    * every level and of the node list; a block with none left, like a
    * NULL `block_id`, gets NULLs there and so `not_enough` with an empty
    * list. The verdict and message epilogue is SQL over those rows. */
  def verifyBalancedOptimal(replicas: DataFrame, topology: DataFrame,
                            blocks: DataFrame): DataFrame = {
    val avail = fanout(topology)
    val (bid, req) = (blocks.schema("block_id"), blocks.schema("require_replica"))
    val marked = replicaView(replicas, topology)
      .select(col("*"), lit(null).cast(bid.dataType).as("bid"),
        lit(null).cast(req.dataType).as("req"), lit(false).as("marker"))
      .union(blocks.select(col("block_id").cast("long"),
        lit(null).cast("string"), lit(null).cast("string"),
        lit(null).cast("string"), lit(null).cast("string"),
        col("block_id"), col("require_replica"), lit(true)))
    val verdicts = blockView(marked)
      .mapPartitions(rows => perBlock(rows)(verifyFold(avail)))(Encoders.row(
        StructType(Seq(bid, req,
          StructField("any_violation", IntegerType),
          StructField("root_total", LongType),
          StructField("ips", ArrayType(StringType, containsNull = false))))))

    val notEnough: Column =
      col("root_total").isNull || col("root_total") < col("require_replica")
    // "(ip1),(ip2),..." — sorted for determinism; empty set renders as ""
    val nodesStr: Column = concat_ws(",",
      transform(sort_array(coalesce(col("ips"), array().cast("array<string>"))),
        x => concat(lit("("), x, lit(")"))))

    verdicts
      .select(col("block_id"),
        when(notEnough, false)
          .when(col("any_violation") === 1, false)
          .otherwise(true).as("satisfied"),
        when(notEnough, "not_enough")
          .when(col("any_violation") === 1, "not_optimal")
          .otherwise(lit(null).cast("string")).as("reason_code"),
        when(notEnough, format_string(
            "not enough storage nodes:[%s], require:%d",
            nodesStr, col("require_replica")))
          .when(col("any_violation") === 1, format_string(
            "placement not optimal, datanodes:[%s], require replica:%d",
            nodesStr, col("require_replica")))
          .otherwise(lit(null).cast("string")).as("reason"))
  }

  /** One block's verdict rows, one per marker in `run`: its `block_id` and
    * `require_replica`, then `(any_violation, root_total, ips)` from the
    * walk over the block's replicas, or NULLs when none is located. */
  private def verifyFold(avail: Map[String, Map[String, Long]])(
      run: collection.IndexedSeq[Row]): Iterable[Row] = {
    val (marks, rs) = run.partition(_.getBoolean(Marker))
    if (marks.isEmpty) Nil
    else {
      val ips = ArrayBuffer.empty[String]
      var violated = false
      val root = walk(rs)(
        (dc, rack, from, until, hosts) => avail.get(dc).flatMap(_.get(rack)).exists { n =>
          violated |= hosts.violated(n)
          (from until until).foreach { k => Option(rs(k).getString(Ip)).foreach(ips += _) }
          true
        },
        (dc, racks) => violated |= racks.violated(avail(dc).size))
      val verdict: Seq[Any] =
        if (root.groups == 0) Seq(null, null, null)
        else Seq(if (violated || root.violated(avail.size)) 1 else 0, root.leaf, ips.toSeq)
      marks.map(m => Row.fromSeq(Seq(m.get(Bid), m.get(Req)) ++ verdict))
    }
  }

  /** P11 fast verification (ref `:373-383`): replica count >= required. */
  def verifyFast(replicas: DataFrame, blocks: DataFrame): DataFrame = {
    val counts = replicas.groupBy("block_id").agg(count(lit(1)).as("observed"))
    blocks.join(counts, Seq("block_id"), "left")
      .select(col("block_id"),
        coalesce(col("observed"), lit(0L)).as("observed"),
        col("require_replica"),
        (coalesce(col("observed"), lit(0L)) >= col("require_replica")).as("satisfied"))
  }

  /** P10 dispatcher (ref `:282-292`): `do-placement-only` short-circuits to
    * all-OK, `fast-verify` routes to the count check, else full analysis.
    * Flags come live from `spark.conf` (GraftConf). */
  def verifyPlacements(spark: SparkSession, replicas: DataFrame,
                       topology: DataFrame, blocks: DataFrame): DataFrame = {
    val conf = GraftConf.fromSession(spark)
    if (conf.doPlacementOnly)
      blocks.select(col("block_id"), lit(true).as("satisfied"),
        lit(null).cast("string").as("reason_code"),
        lit(null).cast("string").as("reason"))
    else if (conf.fastVerify)
      verifyFast(replicas, blocks)
        .select(col("block_id"), col("satisfied"),
          when(!col("satisfied"), "not_enough")
            .otherwise(lit(null).cast("string")).as("reason_code"),
          when(!col("satisfied"), format_string(
              "expect replica:%d, but got:%d",
              col("require_replica"), col("observed")))
            .otherwise(lit(null).cast("string")).as("reason"))
    else
      verifyBalancedOptimal(replicas, topology, blocks)
  }
}
