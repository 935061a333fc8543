package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageRank, Triangles}

/** `Triangles.perNode` and `PageRank.ranks` run on the driver at or under
  * `driverMaxEdges` edge rows and through their Spark plans above it
  * (`driverMaxEdges = 0` forces them). Both paths must return the same
  * schema and the same rows on every input. */
class DriverGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Asserts both results have the same schema and rows; returns the rows. */
  private def same(driver: DataFrame, plan: DataFrame, what: String): Seq[String] = {
    assert(driver.schema == plan.schema, s"$what: schema")
    val d = rows(driver)
    assert(d == rows(plan), s"$what: rows")
    d
  }

  private def triangles(df: DataFrame, what: String): Seq[String] =
    same(Triangles.perNode(df, "u", "v"),
      Triangles.perNode(df, "u", "v", driverMaxEdges = 0), s"triangles $what")

  private def ranks(df: DataFrame, iters: Int, what: String): Seq[String] = {
    val d = PageRank.ranks(df, "u", "v", iters)
    // both Spark plans: the broadcast one and the shuffled one
    same(d, PageRank.ranks(df, "u", "v", iters, driverMaxEdges = 0),
      s"pagerank bc $what")
    same(d, PageRank.ranks(df, "u", "v", iters, broadcastMaxNodes = 0,
      driverMaxEdges = 0), s"pagerank shuffled $what")
  }

  /** A multigraph with self-loops, duplicates and both orientations. */
  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rng = new Random(seed)
    val n = 30 + rng.nextInt(60)
    val ids = Vector.fill(n)(rng.nextInt(2000).toLong)
    val es = Seq.fill(4 * n)((ids(rng.nextInt(n)), ids(rng.nextInt(n))))
    es ++ es.take(n / 3) ++ es.take(n / 3).map(_.swap) ++ ids.take(5).map(i => (i, i))
  }

  test("random multigraphs: both paths agree on triangles and ranks") {
    for (seed <- 1 to 6) {
      val df = randomGraph(seed).toDF("u", "v")
      assert(triangles(df, s"seed=$seed").nonEmpty)
      for (iters <- Seq(1, 3, 10)) ranks(df, iters, s"seed=$seed iters=$iters")
    }
  }

  test("INT, BIGINT and mixed INT/BIGINT ids keep their types on both paths") {
    val es = randomGraph(7)
    val int = es.map { case (a, b) => (a.toInt, b.toInt) }.toDF("u", "v")
    val long = es.toDF("u", "v")
    val mixed = es.map { case (a, b) => (a.toInt, b) }.toDF("u", "v")
    for ((df, what) <- Seq((int, "int"), (long, "long"), (mixed, "mixed"))) {
      val t = triangles(df, what)
      assert(t == triangles(long, "long"), what)
      assert(ranks(df, 3, what) == ranks(long, 3, "long"), what)
    }
    val intType = org.apache.spark.sql.types.IntegerType
    assert(Triangles.perNode(int, "u", "v").schema("node").dataType == intType)
    assert(PageRank.ranks(int, "u", "v").schema("node").dataType == intType)
  }

  test("half-NULL and all-NULL endpoints: triangles drop them, PageRank " +
      "takes the Spark plan") {
    val es = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, null), (null, 4L), (null, null),
      (4L, 1L), (4L, 3L))
    val df = es.toDF("u", "v")
    assert(triangles(df, "nulls") == Seq("[1,2]", "[2,1]", "[3,2]", "[4,1]"))
    ranks(df, 3, "nulls")
    val (_, logged) = LogCapture.info(PageRank.getClass) {
      PageRank.ranks(df, "u", "v").collect()
    }
    assert(logged.exists(_.startsWith("PageRank path=broadcast")), logged)
    val allNull = Seq[(java.lang.Long, java.lang.Long)]((null, null)).toDF("u", "v")
    assert(triangles(allNull, "all-null").isEmpty)
    assert(ranks(allNull, 3, "all-null") == Seq("[null,150000]"))
  }

  test("empty input: empty result, same schema") {
    val df = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(triangles(df, "empty").isEmpty)
    assert(ranks(df, 3, "empty").isEmpty)
  }

  test("the driver path applies at the bound and not above it") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 2L))
    val df = es.toDF("u", "v")
    def tri(bound: Long): (Seq[String], Seq[String]) = {
      val (r, logged) = LogCapture.info(Triangles.getClass) {
        rows(Triangles.perNode(df, "u", "v", driverMaxEdges = bound))
      }
      (r, logged.filter(_.startsWith("Triangles path=")))
    }
    def pr(bound: Long): (Seq[String], Seq[String]) = {
      val (r, logged) = LogCapture.info(PageRank.getClass) {
        rows(PageRank.ranks(df, "u", "v", driverMaxEdges = bound))
      }
      (r, logged.filter(_.startsWith("PageRank path=")))
    }
    val (tAt, tAtLog) = tri(5)
    val (tAbove, tAboveLog) = tri(4)
    assert(tAtLog == Seq("Triangles path=driver edges=5"))
    assert(tAboveLog == Seq("Triangles path=spark edges=5"))
    assert(tAt == tAbove && tAt == Seq("[1,1]", "[2,1]", "[3,1]"))
    val (pAt, pAtLog) = pr(5)
    val (pAbove, pAboveLog) = pr(4)
    assert(pAtLog == Seq("PageRank path=driver edges=5"))
    assert(pAboveLog == Seq("PageRank path=broadcast edges=5"))
    assert(pAt == pAbove)
  }

  test("ranksUndirected collects pairs once: the driver path equals the " +
      "Spark plan and ranks over both directions, bound counted in pairs") {
    import org.apache.spark.sql.functions.col
    def undirected(df: DataFrame, what: String): Seq[String] = {
      val d = PageRank.ranksUndirected(df, "u", "v")
      same(d, PageRank.ranksUndirected(df, "u", "v", driverMaxEdges = 0),
        s"undirected plan $what")
      // a duplicate pair counts twice each way, a self-loop gives two edges
      val both = df.select(col("u").as("src"), col("v").as("dst"))
        .union(df.select(col("v").as("src"), col("u").as("dst")))
      same(d, PageRank.ranks(both, "src", "dst"), s"undirected union $what")
    }
    for (seed <- 1 to 3) {
      val es = randomGraph(seed)
      val long = undirected(es.toDF("u", "v"), s"long seed=$seed")
      assert(undirected(es.map { case (a, b) => (a.toInt, b.toInt) }
        .toDF("u", "v"), s"int seed=$seed") == long)
      assert(undirected(es.map { case (a, b) => (a.toInt, b) }
        .toDF("u", "v"), s"mixed seed=$seed") == long)
    }
    def pr(df: DataFrame, bound: Long): (Seq[String], Seq[String]) = {
      val (r, logged) = LogCapture.info(PageRank.getClass) {
        rows(PageRank.ranksUndirected(df, "u", "v", driverMaxEdges = bound))
      }
      (r, logged.filter(_.startsWith("PageRank path=")))
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 2L)).toDF("u", "v")
    val (at, atLog) = pr(pairs, 5)
    val (above, aboveLog) = pr(pairs, 4)
    assert(atLog == Seq("PageRank path=driver pairs=5"))
    assert(aboveLog == Seq("PageRank path=broadcast pairs=5"))
    assert(at == above)
    val halfNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null))
      .toDF("u", "v")
    assert(pr(halfNull, 5)._2 == Seq("PageRank path=broadcast pairs=2"))
  }
}
