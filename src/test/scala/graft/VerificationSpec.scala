package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Verification
import graft.sources.MetaFixtures

/** P10–P12 truth table transcribed from the reference's hand-drawn topology
  * cases (`TestCrossAZBlockPlacementPolicy.java:111-218`), evaluated over
  * the same 254-node fixture structure. */
class VerificationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val topo = MetaFixtures.topology(spark).cache()

  /** Node ids within (dc, rack), mirroring the reference's selectSubset. */
  private def subset(dc: String, rack: Int): Seq[Long] =
    (1 to MetaFixtures.NumNodes).filter { i =>
      (if (i % 2 == 0) "even" else "odd") == dc && i % 10 == rack
    }.map(_.toLong)

  private def verifyRow(require: Int, nodeIds: Seq[Long]): org.apache.spark.sql.Row = {
    val replicas = nodeIds.zipWithIndex
      .map { case (n, i) => (0L, i, s"dn-$n") }
      .toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((0L, require)).toDF("block_id", "require_replica")
    Verification.verifyBalancedOptimal(replicas, topo, blocks).head()
  }

  private def verify(require: Int, nodeIds: Seq[Long]): (Boolean, String) = {
    val row = verifyRow(require, nodeIds)
    (row.getAs[Boolean]("satisfied"),
      Option(row.getAs[String]("reason_code")).getOrElse(""))
  }

  private def evenRack(r: Int) = subset("even", r)
  private def oddRack(r: Int) = subset("odd", r)

  test("under replication: single node, require 3") {
    val (ok, reason) = verify(3, Seq(1L))
    assert(!ok && reason == "not_enough")
  }

  test("null/empty replica set is never satisfied") {
    val (ok, reason) = verify(3, Nil)
    assert(!ok && reason == "not_enough")
  }

  test("same datanode three times, require 3") {
    val n = oddRack(1).head
    val (ok, reason) = verify(3, Seq(n, n, n))
    assert(!ok && reason == "not_optimal")
  }

  test("single datacenter across three racks, require 3") {
    val (ok, reason) = verify(3,
      Seq(evenRack(2).head, evenRack(4).head, evenRack(6).head))
    assert(!ok && reason == "not_optimal")
  }

  test("multi datacenter 2+1, require 3 is optimal") {
    val (ok, _) = verify(3,
      Seq(evenRack(2).head, evenRack(4).head, oddRack(1).head))
    assert(ok)
  }

  test("3 replicas but require 5 fails on count") {
    val (ok, reason) = verify(5,
      Seq(evenRack(2).head, evenRack(4).head, oddRack(1).head))
    assert(!ok && reason == "not_enough")
  }

  test("fully distributed 3+2 over 5 racks, require 5") {
    val (ok, _) = verify(5, Seq(evenRack(2).head, evenRack(4).head,
      evenRack(6).head, oddRack(1).head, oddRack(3).head))
    assert(ok)
  }

  test("doubled rack breaks rack-level spread, require 5") {
    val e4 = evenRack(4)
    val (ok, reason) = verify(5, Seq(evenRack(2).head, e4(0), e4(1),
      oddRack(1).head, oddRack(3).head))
    assert(!ok && reason == "not_optimal")
  }

  test("single-dc unbalanced racks, require 5") {
    val e2 = evenRack(2); val e4 = evenRack(4)
    val (ok, reason) = verify(5, Seq(e2(0), e2(1), e4(0), e4(1), e4(3)))
    assert(!ok && reason == "not_optimal")
  }

  test("over replication 2+2 with require 3 is satisfied") {
    val (ok, _) = verify(3, Seq(evenRack(2).head, evenRack(4).head,
      oddRack(1).head, oddRack(3).head))
    assert(ok)
  }

  test("P17: formatted violation messages match the reference shape") {
    // dn-1 lives at ip 10.202.77.1 (fixture arithmetic)
    val notEnough = verifyRow(3, Seq(1L))
    assert(notEnough.getAs[String]("reason") ==
      "not enough storage nodes:[(10.202.77.1)], require:3")
    // same node 3x -> count OK, spread violated; list has one entry per replica
    val n = oddRack(1).head
    val notOptimal = verifyRow(3, Seq(n, n, n))
    val ip = s"10.202.77.$n"
    assert(notOptimal.getAs[String]("reason") ==
      s"placement not optimal, datanodes:[($ip),($ip),($ip)], require replica:3")
    // empty replica set renders an empty node list
    assert(verifyRow(2, Nil).getAs[String]("reason") ==
      "not enough storage nodes:[], require:2")
    // satisfied placements carry no message (lazy-Supplier analog)
    assert(verifyRow(3,
      Seq(evenRack(2).head, evenRack(4).head, oddRack(1).head))
      .getAs[String]("reason") == null)
  }

  /** Degenerate inputs: NULL dc, NULL rack, NULL ip, a replica on a node
    * absent from the topology, a replica with a NULL node, a block with no
    * replicas, same-node duplicates and a block listed twice. */
  private lazy val degenerate = {
    val topology = Seq(
      ("dn-a", "d1", "r1", "/d1/r1/10.0.0.1", "10.0.0.1"),
      ("dn-b", "d1", "r2", "/d1/r2/10.0.0.2", "10.0.0.2"),
      ("dn-c", "d2", "r1", "/d2/r1/10.0.0.3", "10.0.0.3"),
      ("dn-nodc", null, "r1", null, "10.0.0.4"),
      ("dn-norack", "d2", null, null, "10.0.0.5"),
      ("dn-noip", "d2", "r2", "/d2/r2/x", null),
      ("dn-nothing", null, null, null, "10.0.0.6"))
      .toDF("datanode_uuid", "dc", "rack", "path", "ip")
    val replicas = Seq(1L -> "dn-a", 1L -> "dn-c", 2L -> "dn-a", 2L -> "dn-nodc",
        3L -> "dn-a", 3L -> "dn-norack", 3L -> "dn-c", 4L -> "dn-ghost", 4L -> "dn-b",
        6L -> "dn-nodc", 6L -> "dn-nothing", 7L -> "dn-noip", 7L -> "dn-a", 7L -> "dn-a",
        8L -> null, 8L -> "dn-c", 9L -> "dn-b")
      .zipWithIndex.map { case ((b, u), i) => (b, i, u) }
      .toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 1L), (5L, 1L), (6L, 1L),
        (7L, 3L), (8L, 1L), (9L, 1L), (9L, 2L))
      .toDF("block_id", "require_replica")
    (replicas, topology, blocks)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("degenerate topology: NULL dc/rack/ip, unknown nodes and empty blocks") {
    val (replicas, topology, blocks) = degenerate
    // pinned from the previous (aggregate-chain) implementation: NULL or
    // unknown locations drop out of the verify levels and the node list,
    // NULL ips drop out of the list only, an empty block is not_enough
    assert(sortedRows(Verification.verifyBalancedOptimal(replicas, topology, blocks)) == Seq(
      "[1,true,null,null]",
      "[2,false,not_enough,not enough storage nodes:[(10.0.0.1)], require:2]",
      "[3,true,null,null]",
      "[4,true,null,null]",
      "[5,false,not_enough,not enough storage nodes:[], require:1]",
      "[6,false,not_enough,not enough storage nodes:[], require:1]",
      "[7,false,not_optimal,placement not optimal, datanodes:[(10.0.0.1),(10.0.0.1)], " +
        "require replica:3]",
      "[8,true,null,null]",
      "[9,false,not_enough,not enough storage nodes:[(10.0.0.2)], require:2]",
      "[9,true,null,null]"))
    // hierarchyStats has no dimension join: NULL parts are groups of their
    // own and print as "null" in the parent path
    assert(sortedRows(Verification.hierarchyStats(replicas, topology)) == Seq(
      "[1,,2,2,1,1]", "[1,/d1,1,1,1,1]", "[1,/d1/r1,1,1,1,1]", "[1,/d2,1,1,1,1]",
      "[1,/d2/r1,1,1,1,1]",
      "[2,,2,2,1,1]", "[2,/d1,1,1,1,1]", "[2,/d1/r1,1,1,1,1]", "[2,/null,1,1,1,1]",
      "[2,/null/r1,1,1,1,1]",
      "[3,,2,3,2,1]", "[3,/d1,1,1,1,1]", "[3,/d1/r1,1,1,1,1]", "[3,/d2,2,2,1,1]",
      "[3,/d2/null,1,1,1,1]", "[3,/d2/r1,1,1,1,1]",
      "[4,,1,1,1,1]", "[4,/d1,1,1,1,1]", "[4,/d1/r2,1,1,1,1]",
      "[6,,1,2,2,2]", "[6,/null,2,2,1,1]", "[6,/null/null,1,1,1,1]",
      "[6,/null/r1,1,1,1,1]",
      "[7,,2,3,2,1]", "[7,/d1,1,2,2,2]", "[7,/d1/r1,1,2,2,2]", "[7,/d2,1,1,1,1]",
      "[7,/d2/r2,1,1,1,1]",
      "[8,,1,1,1,1]", "[8,/d2,1,1,1,1]", "[8,/d2/r1,1,1,1,1]",
      "[9,,1,1,1,1]", "[9,/d1,1,1,1,1]", "[9,/d1/r2,1,1,1,1]"))
  }

  test("both operators keep their output schema: names, types, nullability") {
    val (replicas, topology, blocks) = degenerate
    def fields(df: DataFrame): Seq[String] =
      df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}").toSeq
    assert(fields(Verification.verifyBalancedOptimal(replicas, topology, blocks)) == Seq(
      "block_id:bigint:false", "satisfied:boolean:false",
      "reason_code:string:true", "reason:string:true"))
    assert(fields(Verification.hierarchyStats(replicas, topology)) == Seq(
      "block_id:bigint:false", "parent:string:true", "groups:bigint:false",
      "leaf:bigint:false", "max_placed:bigint:false", "min_placed:bigint:false"))
  }

  test("fast verify is a pure count check") {
    val replicas = Seq((1L, 0, "dn-1"), (1L, 1, "dn-1"), (2L, 0, "dn-3"))
      .toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((1L, 2), (2L, 2), (3L, 1)).toDF("block_id", "require_replica")
    val res = Verification.verifyFast(replicas, blocks)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("satisfied")).toMap
    assert(res(1L) && !res(2L) && !res(3L))
  }

  test("dispatcher honors do-placement-only and fast-verify toggles") {
    val replicas = Seq((1L, 0, "dn-1")).toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((1L, 3)).toDF("block_id", "require_replica")
    def run(): Boolean =
      Verification.verifyPlacements(spark, replicas, topo, blocks)
        .head().getAs[Boolean]("satisfied")
    spark.conf.set(GraftConf.DoPlacementOnlyKey, "true")
    assert(run()) // short-circuit: everything OK
    spark.conf.set(GraftConf.DoPlacementOnlyKey, "false")
    spark.conf.set(GraftConf.FastVerifyKey, "true")
    assert(!run()) // fast: 1 < 3
    spark.conf.set(GraftConf.FastVerifyKey, "false")
    assert(!run()) // full: under-replicated
    spark.conf.unset(GraftConf.DoPlacementOnlyKey)
    spark.conf.unset(GraftConf.FastVerifyKey)
  }
}
