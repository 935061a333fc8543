package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverGraph, PageRank}

/** Gates for the exact-integer PageRank: value agreement with an
  * independent driver-side model (BigInt arithmetic, own adjacency
  * representation), structural properties, determinism under
  * repartitioning, and the per-iteration plan shape. The model tests run
  * the driver path and the Spark plan alike.
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The documented integer recurrence, driver-side. */
  private def model(edges: Seq[(Long, Long)], iters: Int,
                    damp: Long = 850000L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val s = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => BigInt(r(e._1)) / outdeg(e._1)).sum }
      r = nodes.map { n =>
        val si = s.getOrElse(n, BigInt(0))
        n -> ((1000000L - damp) + (si / 1000000 * damp).toLong +
          ((si % 1000000) * damp / 1000000).toLong)
      }.toMap
    }
    r
  }

  /** Ranks on the driver path, after checking the Spark plan agrees. */
  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    def ranks(bound: Long) =
      PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", iters,
          driverMaxEdges = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = ranks(DriverGraph.MaxEdges)
    assert(driver == ranks(0), "driver path != Spark plan")
    driver
  }

  test("ranks match the independent model on a mixed graph") {
    // hub (1 <- 2,3,4), chain 4->5->6, dangling sink 6, source-only 7->1
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (4L, 5L), (5L, 6L),
      (7L, 1L))
    for (iters <- 1 to 4)
      assert(run(edges, iters) == model(edges, iters), s"iters=$iters")
  }

  test("hub dominates; dangling sink exceeds base; source-only sits at base") {
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 6L), (7L, 1L))
    val r = run(edges, 3)
    assert(r(1L) == r.values.max, "in-hub must rank highest")
    assert(r(6L) > 150000L, "sink receives contributions")
    assert(r(7L) == 150000L, "no-in-edge node holds the base term")
  }

  test("broadcast and shuffled iteration plans are bit-identical") {
    // the node-count gate picks the broadcast plan at test scale;
    // broadcastMaxNodes = 0 forces the shuffled plan — both must produce
    // the exact same ranks (same arithmetic, different join transport)
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (4L, 5L), (5L, 6L),
      (7L, 1L), (1L, 2L), (2L, 3L))
    val df = edges.toDF("src", "dst")
    val bc = PageRank.ranks(df, "src", "dst", iters = 3, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh = PageRank.ranks(df, "src", "dst", iters = 3,
        broadcastMaxNodes = 0L, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bc == sh)
    assert(bc == model(edges, 3))
  }

  test("broadcast gate counts iterations: iters = 10 at the node ceiling " +
      "takes the shuffled plan with unchanged ranks") {
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (4L, 5L), (5L, 6L),
      (7L, 1L), (1L, 2L), (2L, 3L))
    val nNodes = 7L
    // the default iteration count keeps the old node-only ceiling exactly
    assert(PageRank.broadcastPlan(nNodes, 3, nNodes))
    assert(!PageRank.broadcastPlan(nNodes + 1, 3, nNodes))
    // ten iterations hold ten broadcasts: the ceiling scales down 3/10
    assert(!PageRank.broadcastPlan(nNodes, 10, nNodes))
    assert(PageRank.broadcastPlan(nNodes, 10, nNodes * 10 / 3 + 1))
    // the executed plans show the gate: only the broadcast plan clusters
    // the edge cache with a user repartition by dst (REPARTITION_BY_COL)
    val plans = scala.collection.mutable.Buffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def ranksAndPlan(iters: Int, ceiling: Long): (Map[Long, Long], Boolean) = {
      plans.synchronized(plans.clear())
      spark.listenerManager.register(listener)
      try {
        val r = PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", iters,
            broadcastMaxNodes = ceiling, driverMaxEdges = 0)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // listener delivery is async; the final ranks checkpoint reads the
        // edge cache, so its plan names the cache's repartition if any
        var waited = 0
        def ranked = plans.synchronized(plans.filter(_.contains("rank_micros")).toList)
        while (ranked.isEmpty && waited < 10000) { Thread.sleep(200); waited += 200 }
        assert(ranked.nonEmpty, "no executed plan captured for the ranks")
        (r, ranked.exists(_.contains("REPARTITION_BY_COL")))
      } finally spark.listenerManager.unregister(listener)
    }
    val (r3, bc3) = ranksAndPlan(3, nNodes)
    val (r10, bc10) = ranksAndPlan(10, nNodes)
    assert(bc3, "iters=3 at the ceiling must keep the broadcast plan")
    assert(!bc10, "iters=10 at the ceiling must take the shuffled plan")
    assert(r3 == model(edges, 3))
    assert(r10 == model(edges, 10))
    val forced = PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", 10,
        broadcastMaxNodes = 0L, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r10 == forced)
  }

  test("ranks are invariant under input partitioning and row order") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)) ++
      (100L to 106L).map(i => (i, (i % 5) + 1L))
    val a = run(edges, 3)
    val b = PageRank.ranks(
        edges.reverse.toDF("src", "dst").repartition(13), "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("ranksUndirected symmetrizes: equal-degree ring ranks uniformly") {
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val r = PageRank.ranksUndirected(ring.toDF("a", "b"), "a", "b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r.values.toSet.size == 1, s"ring must be uniform: $r")
    // uniform fixed point of the integer recurrence stays at 1.0
    assert(r.values.head == 1000000L)
  }

  test("output schema is (node, rank_micros) and damping bounds hold") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = PageRank.ranks(edges, "src", "dst", 2)
    assert(out.columns.toSeq == Seq("node", "rank_micros"))
    intercept[IllegalArgumentException] {
      PageRank.ranks(edges, "src", "dst", 0)
    }
    intercept[IllegalArgumentException] {
      PageRank.ranks(edges, "src", "dst", 1, dampMicros = 1000001L)
    }
  }
}
