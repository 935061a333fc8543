package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** Per-node triangle counting over an undirected graph — the clustering
  * primitive for near-dup/co-occurrence graphs (local clustering
  * coefficient numerators, community seeds).
  *
  * Two paths, one INFO line per call naming it and the input edge count
  * (`Triangles path=driver|spark edges=N`); both return the same rows and
  * schema:
  *
  *  - driver, at or under `driverMaxEdges` input rows (default
  *    [[DriverGraph.MaxEdges]]) with integral ids: the edges are collected
  *    once ([[DriverGraph.collect]]) and counted on the driver over a
  *    degree-ordered CSR with sorted-merge intersections ([[driverCounts]]);
  *    the result is a [[DriverGraph.relation]] of its arrays.
  *  - spark, above the bound or for other id types: the distributed plan
  *    below.
  *
  * Algorithm (both paths): degree-ordered edge orientation (Cohen /
  * node-iterator++).
  * Every edge is directed from its (degree, id)-smaller endpoint to the
  * larger; wedges are enumerated by self-joining the ORIENTED adjacency
  * on the source, and a wedge (s -> d1, s -> d2) closes iff the oriented
  * edge d1 -> d2 exists. Each triangle has exactly one vertex with
  * out-edges to the other two under this order, so it is found once —
  * no /3 correction, no duplicate elimination.
  *
  * Why this scales where the naive triple-join doesn't: out-degree under
  * degree ordering is bounded by O(sqrt(m)) regardless of skew — a
  * celebrity node of degree 1M contributes not 10^12 wedges but only
  * wedges among its FEW higher-degree neighbors. The wedge relation
  * (the big intermediate) is sum of out-degree^2 <= m^1.5, the known
  * optimum for exact triangle enumeration. In the Spark plan all three
  * joins are BIGINT equi-joins (composite keys for the closing join),
  * shuffled on node ids — no broadcast of anything graph-sized.
  */
object Triangles {

  /** Auto wedge-widening engages above this oriented-edge count: below it
    * the default-width wedge sort fits execution memory (sf0.1's 1.2M-edge
    * co-purchase graph spills zero) and the sizing aggregate would be pure
    * overhead; the 10x copy (12M edges) and up take the wide streamed
    * plan. */
  val WedgeWidenMinEdges = 8000000L
  /** Serialized wedge row estimate (3 BIGINT columns + row overhead) and
    * the per-reduce-partition wedge budget the auto width targets. */
  val WedgeRowBytes = 32L
  val WedgeTargetPartitionBytes = 64L << 20
  /** Hash functions per edge in the wedge-pruning bloom sketch. */
  private val BloomHashes = 5

  /** @param edges undirected edge list; self-loops dropped, duplicates and
    *               orientation normalized away
    * @param bloomBits -1 (default): auto-size a `graft_bloom_agg` sketch of
    *               the oriented edge set at ~10 bits/edge (clamped to
    *               [2^20, 2^30]; skipped only when even the 2^30 cap is
    *               < 4 bits/edge, where fp ~ 0.2 stops paying for the
    *               pass) and drop non-closing wedges INSIDE the
    *               wedge-generation stage, before they reach the closing
    *               join's exchange — the wedge shuffle is the operator's
    *               bottleneck and most wedges of a sparse graph do not
    *               close. A FIXED size would silently saturate on a
    *               larger graph (fp -> 1: all sketch cost, no prune —
    *               measured as a 2x regression at 10x before auto-sizing).
    *               The blob rides a SparkContext broadcast
    *               ([[graft.functions.BloomMightContainBc]]), so the cap
    *               is executor-memory-bound, not plan-literal-bound.
    *               > 0: explicit size; 0: prune off. False positives are
    *               re-checked by the exact join; false negatives are
    *               impossible, so results are bit-identical (TrianglesSpec
    *               asserts both paths agree).
    * @param wedgeParts closing-exchange width for the wedge relation.
    *               -1 (default): auto — on a big graph (>= ~8M oriented
    *               edges) size the exchange from the exact wedge upper
    *               bound (sum of out-degree-choose-2, one cheap aggregate
    *               over the persisted oriented relation) at ~64 MB of
    *               wedge rows per reduce partition, repartition the
    *               pruned wedges on (d1, d2) to that width, and take the
    *               closing join as a SHUFFLE_HASH join built on the
    *               edge-sized closing side — the m^1.5-sized wedge
    *               relation is then STREAMED, never sorted. Under the
    *               default-width sort-merge plan the per-task wedge sort
    *               is the operator's only spill site (100x one-JVM probe:
    *               8.6 GB; the half-memory 2-worker cluster arm: 20.3 GB).
    *               Small graphs keep the certified sort-merge plan — at
    *               that size the wedge sort fits execution memory and the
    *               sizing aggregate would be pure overhead.
    *               0: force the default-width sort-merge plan; > 0:
    *               explicit width (test hook — pins plan equivalence).
    * @param driverMaxEdges input-row ceiling for the driver path; 0 forces
    *               the Spark plan (test hook — the equivalence specs pin
    *               both paths). `bloomBits` and `wedgeParts` apply to
    *               the Spark plan only.
    * @return (node, n_triangles), one row per node in >= 1 triangle
    */
  def perNode(edges: DataFrame, uCol: String, vCol: String,
      bloomBits: Int = -1, wedgeParts: Int = -1,
      driverMaxEdges: Long = DriverGraph.MaxEdges): DataFrame = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val pairs = edges.select(col(uCol).as("u"), col(vCol).as("v"))
    // the normalized edge relation over `src`: the result's schema on both
    // paths derives from it
    def normalized(src: DataFrame): DataFrame = src
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val schema = perNodeCounts(normalized(pairs)
      .select(col("u").as("src"), col("v").as("d1"), col("v").as("d2"))).schema
    val (n, collected) =
      DriverGraph.collect(pairs, schema("node").dataType, driverMaxEdges)
    if (collected.isDefined) {
      val (nodes, counts) = driverCounts(collected.get.packed)
      log.info("Triangles path=driver edges={}", n)
      DriverGraph.relation(edges.sparkSession, schema, Seq(nodes, counts))
    } else {
      log.info("Triangles path=spark edges={}", n)
      // over the collect job's executed RDD: the plan reuses the input's
      // computed shuffle outputs instead of evaluating its lineage again
      // (persisting the edge projection instead measured slower than both)
      sparkPerNode(normalized(PlanBridge.overExecuted(pairs)),
        bloomBits, wedgeParts)
    }
  }

  /** `(node, n_triangles)` from the triangle relation `(src, d1, d2)`. */
  private def perNodeCounts(triangles: DataFrame): DataFrame =
    triangles
      .select(explode(array(col("src"), col("d1"), col("d2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** The driver kernel over packed `(a, b)` pairs (see
    * [[DriverGraph.Edges]]): self-loops dropped, pairs normalized and
    * deduplicated, each edge oriented from its (degree, id)-smaller
    * endpoint, out-lists sorted (a CSR), and every oriented edge `u -> v`
    * closes one triangle per common out-neighbor, found by a sorted merge
    * of the two lists. Returns the ids and counts of the nodes in at least
    * one triangle, ascending by id. */
  private def driverCounts(packed: Array[Long]): (Array[Long], Array[Long]) = {
    val ends = {
      val b = Array.newBuilder[Long]
      var k = 0
      while (k < packed.length) {
        if (packed(k) != packed(k + 1)) { b += packed(k); b += packed(k + 1) }
        k += 2
      }
      b.result()
    }
    val ids = DriverGraph.sortedDistinct(ends)
    val n = ids.length
    // each edge as (lo index << 32 | hi index), sorted and deduplicated
    val keys = {
      val raw = new Array[Long](ends.length / 2)
      var k = 0
      while (k < raw.length) {
        val a = java.util.Arrays.binarySearch(ids, ends(2 * k)).toLong
        val b = java.util.Arrays.binarySearch(ids, ends(2 * k + 1)).toLong
        raw(k) = if (a < b) (a << 32) | b else (b << 32) | a
        k += 1
      }
      DriverGraph.sortedDistinct(raw)
    }
    val deg = new Array[Int](n)
    keys.foreach { key => deg((key >>> 32).toInt) += 1; deg(key.toInt) += 1 }
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    // CSR of the oriented out-lists, each sorted by index
    val start = new Array[Int](n + 1)
    keys.foreach { key =>
      val (a, b) = ((key >>> 32).toInt, key.toInt)
      start((if (before(a, b)) a else b) + 1) += 1
    }
    var i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val adj = new Array[Int](keys.length)
    val fill = java.util.Arrays.copyOf(start, n)
    keys.foreach { key =>
      val (a, b) = ((key >>> 32).toInt, key.toInt)
      if (before(a, b)) { adj(fill(a)) = b; fill(a) += 1 }
      else { adj(fill(b)) = a; fill(b) += 1 }
    }
    i = 0
    while (i < n) { java.util.Arrays.sort(adj, start(i), start(i + 1)); i += 1 }
    val cnt = new Array[Long](n)
    var u = 0
    while (u < n) {
      var e = start(u)
      while (e < start(u + 1)) {
        val v = adj(e)
        var p = start(u)
        var q = start(v)
        while (p < start(u + 1) && q < start(v + 1)) {
          if (adj(p) < adj(q)) p += 1
          else if (adj(p) > adj(q)) q += 1
          else { cnt(u) += 1; cnt(v) += 1; cnt(adj(p)) += 1; p += 1; q += 1 }
        }
        e += 1
      }
      u += 1
    }
    val hit = (0 until n).filter(cnt(_) > 0).toArray
    (hit.map(ids(_)), hit.map(cnt(_)))
  }

  /** The distributed plan over the normalized edge relation `e`. */
  private def sparkPerNode(e: DataFrame, bloomBits: Int,
      wedgeParts: Int): DataFrame = {
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

    // orient each edge from the (degree, id)-smaller endpoint to the
    // larger; persisted — it feeds the two wedge arms, the closing join,
    // and the bloom sketch (recomputing runs the degree joins four times).
    // Measured rejection (r17, same-JVM interleaved A/B at the 100x copy,
    // recorded in OPTIMIZATION_r17.md): `shuffle_hash` hints on the degree
    // sides — "stream the edge mass unsorted past a node-sized hash
    // build" — regressed the whole operator 152 -> 196-316 s. The
    // sort-merge default stays.
    val oriented = e
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"),
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("dv"))
          .otherwise(col("du")).as("ddst"))
      .persist()

    // wedges from each source, ordered within the oriented order so the
    // closing edge is looked up in its stored direction
    val a1 = oriented.select(col("src"), col("dst").as("d1"), col("ddst").as("dd1"))
    val a2 = oriented.select(col("src"), col("dst").as("d2"), col("ddst").as("dd2"))
    // the ordering filter consumes the degree columns BEFORE any exchange;
    // projecting them away here keeps the m^1.5-sized wedge relation at 3
    // BIGINTs through the closing exchange instead of 5 (the dd1/dd2 ride
    // bought nothing downstream — measured 40% of the operator's biggest
    // shuffle write)
    val wedges = a1.join(a2, "src")
      .where(col("dd1") < col("dd2") ||
        (col("dd1") === col("dd2") && col("d1") < col("d2")))
      .select("src", "d1", "d2")

    val spark = e.sparkSession
    // 2^30 bits = 128 MiB, the graft_bloom_agg ceiling. The sketch ships as
    // a SparkContext broadcast (BloomMightContainBc), NOT a plan literal,
    // so blob size costs one torrent transfer per executor — not one
    // literal deserialization per task, and never a per-row copy (a BINARY
    // attribute would be copied out of the UnsafeRow on every row;
    // measured as a 1000x regression before this transport).
    val maxBits = 1L << 30
    // shared by the bloom auto-sizer and the wedge-exchange gate; the
    // count action materializes the persisted oriented relation
    // (|oriented| == |e|), which every consumer below reuses. `e` itself
    // stays unpersisted: caching the full edge set measured ~20% slower
    // than the exchange reuse it replaces (PLANS.md, round 9)
    lazy val edgesN: Long = oriented.count()
    val (bits: Long, pruneOn: Boolean) =
      if (bloomBits > 0) (bloomBits.toLong, true)
      else if (bloomBits == 0) (0L, false)
      else {
        // auto: ~10 bits/edge, clamped to the cap. Below ~4 bits/edge at
        // the cap the fp rate (~0.2 at k=5) no longer buys the sketch
        // pass — prune off. The 100x probe is what exposed this policy:
        // the previous 16 MiB hard-off silently reverted a 1e8-edge graph
        // to the unpruned wedge shuffle, the operator's worst case,
        // exactly when pruning matters most.
        val target = edgesN * 10
        if (target <= maxBits)
          (math.max(1L << 20, java.lang.Long.highestOneBit(target - 1) << 1), true)
        else if (maxBits >= edgesN * 4) (maxBits, true)
        else (0L, false)
      }
    val prunedWedges =
      if (pruneOn && spark.catalog.functionExists("graft_bloom_agg")) {
        val blob = oriented
          .agg(call_function("graft_bloom_agg",
            xxhash64(col("src"), col("dst")), lit(bits.toInt), lit(BloomHashes)))
          .head().getAs[Array[Byte]](0)
        val bc = spark.sparkContext.broadcast(blob)
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val probe = ColumnBridge.column(
          graft.functions.BloomMightContainBc(bc,
            ColumnBridge.expression(xxhash64(col("d1"), col("d2")))))
        (wedges.where(probe), Some(bc))
      } else (wedges, None)

    // closing-exchange width (see wedgeParts scaladoc): 0 = certified
    // default-width sort-merge plan; > 0 = wide exchange + streamed
    // shuffle-hash close
    val targetW: Int =
      if (wedgeParts >= 0) wedgeParts
      else if (edgesN < WedgeWidenMinEdges) 0
      else {
        // exact pre-prune wedge count: sum over sources of outdeg-choose-2
        // (one aggregate over the cached oriented relation — seconds at
        // 100x against a ~190 s operator wall, and only on big graphs)
        // coalesce: sum over ZERO groups is NULL; no empty relation passes
        // the gate above, but the aggregate stays total
        val ub = oriented.groupBy("src").agg(count(lit(1)).as("k"))
          .agg(coalesce(sum(expr("(k * (k - 1)) div 2")), lit(0L))
            .cast("long").as("w"))
          .head().getLong(0)
        val w = math.ceil(
          ub * WedgeRowBytes.toDouble / WedgeTargetPartitionBytes).toLong
        math.min(4096L, math.max(
          spark.sessionState.conf.numShufflePartitions.toLong, w)).toInt
      }
    val closing = oriented.select(col("src").as("d1"), col("dst").as("d2"))
    val triangles =
      if (targetW > 0)
        // the wedge relation is repartitioned on the join keys at the
        // sized width (the join reuses that distribution; the edge-sized
        // closing side re-shuffles to match) and the close is a
        // shuffled-hash join BUILT ON THE CLOSING SIDE — per reduce task
        // that hash table holds |E|/W edges while the wedge mass streams
        // through unsorted, eliminating the wedge sort's spill
        prunedWedges._1.repartition(targetW, col("d1"), col("d2"))
          .join(closing.hint("shuffle_hash"), Seq("d1", "d2"))
      else prunedWedges._1.join(closing, Seq("d1", "d2"))

    val result = perNodeCounts(triangles)
    // the per-node aggregate is tiny next to the wedge relation: materialize
    // it eagerly (cutting lineage) so the big persisted intermediate and
    // the sketch broadcast can be released deterministically instead of
    // leaking across invocations
    val out = result.localCheckpoint(true)
    oriented.unpersist()
    prunedWedges._2.foreach(_.destroy())
    out
  }
}
