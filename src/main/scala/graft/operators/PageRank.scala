package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** Fixed-iteration PageRank in exact integer micros — graph centrality for
  * "which nodes are representative/authoritative" selection (e.g. central
  * documents in a similarity graph, hub parts in a co-purchase graph).
  *
  * Determinism is the point: ranks are BIGINT micros, every step is
  * integer division with an explicit floor spelling, so re-runs — and the
  * DuckDB oracle — reproduce ranks bit-for-bit. The damping update
  * `floor(s * damp / 1e6)` is computed as
  * `(s div 1e6) * damp + ((s mod 1e6) * damp) div 1e6` — the exact same
  * value by the Euclidean split identity, but the intermediate products
  * stay below 2^63 for any per-node contribution sum `s` up to ~9.2e18
  * micros (a node would need ~10^13 full-rank in-neighbors to overflow).
  *
  * Three paths, one INFO line per call naming it and the input edge count
  * (`PageRank path=driver|broadcast|shuffled edges=N`, or `pairs=N` for
  * [[ranksUndirected]]); all return the same rows and schema:
  *
  *  - driver, at or under `driverMaxEdges` edge rows (default
  *    [[DriverGraph.MaxEdges]]) with integral, non-NULL ids: the edges are
  *    collected once ([[DriverGraph.collect]]) and the same recurrence runs
  *    over arrays on the driver ([[driverRanks]]), with the sums and
  *    products overflow-checked as ANSI `sum` and arithmetic are; the
  *    result is a [[DriverGraph.relation]] of its arrays. No cache, no
  *    checkpoint, no broadcast.
  *  - broadcast, above the bound with at most [[BroadcastMaxNodes]] nodes
  *    at [[BroadcastIters]] iterations ([[broadcastPlan]]), and
  *  - shuffled, above both: the Spark plans below.
  *
  * Spark plan shape per iteration: edges-with-outdeg join ranks on src (one
  * hash join), groupBy dst (one exchange with map-side partial sums), left
  * join back to the node set. The edge relation and node set are persisted
  * once across all iterations and released when the final ranks
  * materialize; the whole run is `iters` chained exchange rounds — the
  * standard scalable PageRank plan, no driver-side state.
  *
  * Measured rejection — adjacency packing (the GraphX-style one
  * (src, outdeg, dsts[]) row per source, iterating by node-sized join +
  * explode): a clear win at sf0.1 (4.8 vs 6.3 s best-of-3) but 15-25%
  * SLOWER at the 100x one-JVM probe across two independent samples
  * (196.7 / 213.8 vs 172.7 s best-of-3) — the collect_list build is an
  * ObjectHashAggregate over the full edge mass and the per-iteration
  * array explode trades the cached SMJ scan for generator+GC pressure.
  * Scale behavior wins the tie; the edge-relation spelling stays.
  *
  * Dangling mass: nodes with no out-edges keep receiving the base term but
  * redistribute nothing (the common simplification; symmetrize the edge
  * relation upstream if the graph is undirected, which also removes
  * dangling nodes entirely).
  */
object PageRank {

  /** Node-count ceiling for the broadcast iteration plan: below it the
    * node-sized relations (out-degrees, per-iteration contribution sums)
    * ride broadcasts and the edge cache is clustered by `dst`, so each
    * iteration is one streamed cache scan + one node-sized exchange —
    * no edge-mass shuffle at all. 4M nodes is ~100 MB of hash relation
    * per executor, well under the working memory the shuffles it
    * replaces would use; above it the shuffled plan (edge cache
    * clustered by `src`, contribs exchanged to it) is the scale-safe
    * shape. The ceiling is for [[BroadcastIters]] iterations: see
    * [[broadcastPlan]]. */
  val BroadcastMaxNodes = 4000000L

  /** The iteration count [[BroadcastMaxNodes]] is sized for — the `ranks`
    * default. */
  val BroadcastIters = 3

  /** The broadcast-plan gate. Every iteration ships one more node-sized
    * broadcast that stays in the lineage until the final ranks
    * materialize, so the budget is node-iterations: `nNodes * iters`
    * against the ceiling at [[BroadcastIters]]. At the default iteration
    * count this is exactly `nNodes <= broadcastMaxNodes`; more iterations
    * lower the node ceiling in proportion. */
  def broadcastPlan(nNodes: Long, iters: Int,
                    broadcastMaxNodes: Long = BroadcastMaxNodes): Boolean =
    BigInt(nNodes) * iters <= BigInt(broadcastMaxNodes) * BroadcastIters

  /** @param broadcastMaxNodes node-count ceiling for the broadcast plan at
    *        [[BroadcastIters]] iterations ([[BroadcastMaxNodes]]); 0 forces
    *        the shuffled plan (test hook — PageRankSpec pins both plans
    *        bit-identical)
    * @param driverMaxEdges edge-row ceiling for the driver path; 0 forces
    *        the Spark plans (test hook) */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iters: Int = BroadcastIters, dampMicros: Long = 850000L,
            broadcastMaxNodes: Long = BroadcastMaxNodes,
            driverMaxEdges: Long = DriverGraph.MaxEdges): DataFrame =
    rankEdges(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      undirected = false, iters, dampMicros, broadcastMaxNodes, driverMaxEdges)

  /** [[ranks]] over the `(src, dst)` relation `e`, or over `e` and its
    * reverse when `undirected`: the driver path collects `e` once and adds
    * both directions of each pair itself, the Spark plans symmetrize over
    * the collect job's executed RDD. The driver bound and the INFO line
    * count the rows of `e` (`edges=N`, or `pairs=N` when undirected). */
  private def rankEdges(e: DataFrame, undirected: Boolean, iters: Int,
      dampMicros: Long, broadcastMaxNodes: Long,
      driverMaxEdges: Long): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampMicros >= 0 && dampMicros <= 1000000L,
      "dampMicros must be in [0, 1e6]")
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    def directed(d: DataFrame): DataFrame =
      if (undirected) d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      else d
    val what = if (undirected) "pairs" else "edges"
    // the result's schema on every path: the final ranking over the node
    // set and a contribution relation, as the Spark plans build it
    val schema = ranked(nodesOf(directed(e)),
      contributions(directed(e).withColumn("outdeg", lit(1L)), "1000000 div outdeg"),
      rankExpr(dampMicros)).schema
    val (n, collected) =
      DriverGraph.collect(e, schema("node").dataType, driverMaxEdges)
    collected.filter(!_.sawNull) match {
      case Some(c) =>
        val packed = if (undirected) withReversed(c.packed) else c.packed
        val (nodes, rs) = driverRanks(packed, iters, dampMicros)
        log.info(s"PageRank path=driver $what={}", n)
        DriverGraph.relation(e.sparkSession, schema, Seq(nodes, rs))
      case None =>
        // over the collect job's executed RDD: the plans reuse the input's
        // computed shuffle outputs instead of evaluating its lineage again
        sparkRanks(directed(PlanBridge.overExecuted(e)), iters, dampMicros,
          broadcastMaxNodes, s"$what=$n")
    }
  }

  /** Packed pairs followed by each pair reversed: a pair listed twice
    * yields two edges each way, a self-loop `(a, a)` two `a -> a` edges. */
  private def withReversed(packed: Array[Long]): Array[Long] = {
    val m = packed.length
    val out = java.util.Arrays.copyOf(packed, 2 * m)
    var k = 0
    while (k < m) { out(m + k) = packed(k + 1); out(m + k + 1) = packed(k); k += 2 }
    out
  }

  /** The distinct endpoints of `(src, dst)` as one `node` column. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node")))

  /** Per-`dst` sums `s` of the per-edge contribution `c`. */
  private def contributions(withDeg: DataFrame, c: String): DataFrame =
    withDeg.select(col("dst").as("node"), expr(c).as("c"))
      .groupBy("node").agg(sum("c").as("s"))

  /** `(node, rank_micros)` for every node, from the last contributions. */
  private def ranked(nodes: DataFrame, contrib: DataFrame, rank: String): DataFrame =
    nodes.join(contrib, Seq("node"), "left")
      .select(col("node"), expr(rank).as("rank_micros"))

  /** rank_micros = base + floor(s * damp / 1e6) with s the node's summed
    * in-contributions (0 when absent) — the exact Euclidean-split damping
    * from the object scaladoc, applied to a possibly-NULL sum. */
  private def rankExpr(dampMicros: Long): String = {
    val base = 1000000L - dampMicros
    s"$base + (coalesce(s, 0L) div 1000000) * $dampMicros" +
      s" + ((coalesce(s, 0L) % 1000000) * $dampMicros) div 1000000"
  }

  /** The driver kernel over packed `(src, dst)` pairs with no NULL: the
    * recurrence of the Spark plans over arrays, with every sum and product
    * exact (`Math.addExact` / `multiplyExact` throw where ANSI arithmetic
    * does). Returns every node's id, ascending, and rank. */
  private def driverRanks(packed: Array[Long], iters: Int,
                                     dampMicros: Long): (Array[Long], Array[Long]) = {
    val ids = DriverGraph.sortedDistinct(packed)
    val n = ids.length
    val m = packed.length / 2
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    val outdeg = new Array[Long](n)
    var k = 0
    while (k < m) {
      src(k) = java.util.Arrays.binarySearch(ids, packed(2 * k))
      dst(k) = java.util.Arrays.binarySearch(ids, packed(2 * k + 1))
      outdeg(src(k)) += 1
      k += 1
    }
    val base = 1000000L - dampMicros
    def rank(s: Long): Long = Math.addExact(
      Math.addExact(base, Math.multiplyExact(s / 1000000, dampMicros)),
      Math.multiplyExact(s % 1000000, dampMicros) / 1000000)
    // iteration 1 contributes 1000000 div outdeg from every source
    var s = new Array[Long](n)
    k = 0
    while (k < m) { s(dst(k)) = Math.addExact(s(dst(k)), 1000000L / outdeg(src(k))); k += 1 }
    for (_ <- 2 to iters) {
      val r = s.map(rank)
      val next = new Array[Long](n)
      k = 0
      while (k < m) {
        next(dst(k)) = Math.addExact(next(dst(k)), r(src(k)) / outdeg(src(k)))
        k += 1
      }
      s = next
    }
    (ids, s.map(rank))
  }

  /** The broadcast and shuffled plans over the `(src, dst)` relation `e0`;
    * `size` is the INFO line's input count, `edges=N` or `pairs=N`. */
  private def sparkRanks(e0: DataFrame, iters: Int, dampMicros: Long,
                         broadcastMaxNodes: Long, size: String): DataFrame = {
    // The incoming edge relation may be arbitrarily expensive (a distinct
    // over a self-join, an LSH candidate build); it feeds THREE consumers
    // here (degrees, the join relation, the node set), so persist it or
    // pay its lineage once per consumer.
    val e = e0.persist()
    val nodes = nodesOf(e).distinct().persist()
    // the node count gates the broadcast plan; the count action
    // materializes the node-set cache the FINAL join reuses, so it costs
    // one scheduling round, not an extra pipeline run
    val nNodes = nodes.count()
    val useBc = broadcastPlan(nNodes, iters, broadcastMaxNodes)
    org.slf4j.LoggerFactory.getLogger(getClass).info("PageRank path={} {}",
      if (useBc) "broadcast" else "shuffled", size)
    val deg0 = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val deg = if (useBc) broadcast(deg0) else deg0
    // (src, dst, outdeg): the relation every iteration joins against.
    // Broadcast plan: clustered by DST, so the per-iteration partial
    // aggregation of contributions collapses each dst inside its own
    // partition and the iteration's one exchange is node-sized — under
    // the src-clustering a dense graph puts nearly every dst in every
    // map partition and the "partial" aggregation shuffles close to the
    // full contribution mass (measured 600 MB/iteration at 100x).
    val withDeg =
      if (useBc) e.join(deg, "src").repartition(col("dst")).persist()
      else e.join(deg, "src").persist()
    val rank = rankExpr(dampMicros)

    // Iterate on the CONTRIBUTION-SUM relation, not the rank relation:
    // a node absent from `contrib` has rank exactly `base` (a constant),
    // so the per-iteration "left-join every node, default the sum to 0"
    // step is folded into the NEXT iteration's src join as a left join +
    // coalesce — same values by construction, one join and one node-set
    // cache scan fewer per iteration. Iteration 1's uniform rank of 1e6
    // needs no join at all. The rank relation itself is materialized once,
    // at the end, by the final nodes left join.
    var contrib = contributions(withDeg, "1000000 div outdeg")
    for (_ <- 2 to iters) {
      // broadcast plan: the node-sized contribution sums ship to the
      // streamed edge cache — the join needs no exchange on either side
      val prev0 = contrib.withColumnRenamed("node", "src")
      val prev = if (useBc) broadcast(prev0) else prev0
      contrib = contributions(withDeg.join(prev, Seq("src"), "left"),
        s"($rank) div outdeg")
    }
    val lastContrib =
      if (useBc) broadcast(contrib) else contrib
    val ranks = ranked(nodes, lastContrib, rank)
    // node-sized materialization cuts the iters-deep lineage and lets the
    // persisted edge/node caches release deterministically
    val out = ranks.localCheckpoint(true)
    e.unpersist()
    withDeg.unpersist()
    nodes.unpersist()
    out
  }

  /** Undirected convenience: rank the graph holding both directions of
    * each `u—v` pair. The pairs are collected once and the driver path adds
    * the reverse edges itself, so `driverMaxEdges` counts pairs: a graph of
    * up to 2^20 pairs (2^21 directed edges) takes the driver path.
    *
    * PRECONDITION: `pairs` must hold DISTINCT UNORDERED pairs — one row per
    * undirected edge (e.g. normalized `least/greatest` + distinct, as the
    * co-order caller does). A pair appearing twice, or in both
    * orientations, is treated as a MULTIGRAPH edge: its endpoint
    * out-degrees and rank contributions double. That is the standard
    * weighted-multigraph semantics, not an error the operator can detect
    * without paying an extra corpus-sized `distinct()` exchange every
    * caller with clean input would waste — so the contract lives here. */
  def ranksUndirected(pairs: DataFrame, aCol: String, bCol: String,
                      iters: Int = 3, dampMicros: Long = 850000L,
                      driverMaxEdges: Long = DriverGraph.MaxEdges): DataFrame =
    rankEdges(pairs.select(col(aCol).as("src"), col(bCol).as("dst")),
      undirected = true, iters, dampMicros, BroadcastMaxNodes, driverMaxEdges)
}
