package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverGraph, Triangles}

/** Triangle-counting semantics + agreement with the naive triple join, on
  * the driver path and the Spark plan alike. */
class TrianglesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Counts on the driver path, after checking the Spark plan agrees. */
  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    def counts(bound: Long) =
      Triangles.perNode(edges.toDF("u", "v"), "u", "v", driverMaxEdges = bound)
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles"))
        .toMap
    val driver = counts(DriverGraph.MaxEdges)
    assert(driver == counts(0), "driver path != Spark plan")
    driver
  }

  test("two triangles sharing an edge") {
    val got = run(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("duplicates, reversed edges and self-loops are normalized away") {
    val got = run(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("a star has no triangles") {
    assert(run((2L to 20L).map(i => (1L, i))).isEmpty)
  }

  test("celebrity hub: counts stay exact under extreme skew") {
    // hub 0 connected to 1..100, plus a rim path i -> i+1: each rim edge
    // closes exactly one triangle with the hub
    val edges = (1L to 100L).map(i => (0L, i)) ++
      (1L until 100L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got(0L) == 99L)
    assert(got(1L) == 1L && got(100L) == 1L && got(50L) == 2L)
  }

  test("bloom-pruned and unpruned paths are bit-identical") {
    val edges = ((0 until 300).map { i =>
      ((i * 7919L) % 40, (i * 104729L + 3) % 40)
    } ++ (for (a <- 100L to 104L; b <- 100L to 104L) yield (a, b)))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("u", "v")
    val pruned = Triangles.perNode(df, "u", "v", driverMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Triangles.perNode(df, "u", "v", bloomBits = 0,
        driverMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == plain && pruned.nonEmpty)
  }

  test("wide streamed closing plan (wedgeParts > 0) is bit-identical to " +
      "the default sort-merge plan") {
    val edges = ((0 until 500).map { i =>
      ((i * 7919L) % 50, (i * 104729L + 3) % 50)
    } ++ (for (a <- 200L to 205L; b <- 200L to 205L) yield (a, b)))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("u", "v")
    val wide = Triangles.perNode(df, "u", "v", wedgeParts = 8,
        driverMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = Triangles.perNode(df, "u", "v", wedgeParts = 0,
        driverMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == default && wide.nonEmpty)
  }

  test("agreement with the naive triple join on a pseudo-random graph") {
    val edges = (0 until 400).map { i =>
      val a = (i * 2654435761L) % 60
      val b = (i * 40503L + 7) % 60
      (a, b)
    }.filter { case (a, b) => a != b }
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val naive = (for {
      (a, b) <- e; (b2, c) <- e if b2 == b; if e.contains((a, c))
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    assert(run(edges.map { case (a, b) => (a: Long, b: Long) }) == naive)
  }
}
