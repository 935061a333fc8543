package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

/** `Dedup.resolveClusters` has two paths: a driver-side union-find for pair
  * lists up to `driverMaxEdges`, and checkpointed star contraction above it
  * (`driverMaxEdges = 0` forces it). Both must return the same schema and
  * the same rows on every input, edge cases included, and both must equal
  * an independent union-find model. */
class ResolveClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Runs both paths on `pairs`, asserts they agree, returns the rows. */
  private def bothPaths(pairs: DataFrame, what: String): Seq[String] = {
    val driver = Dedup.resolveClusters(pairs)
    val star = Dedup.resolveClusters(pairs, driverMaxEdges = 0)
    assert(driver.schema == star.schema, s"$what: schema")
    val d = rows(driver)
    assert(d == rows(star), s"$what: rows")
    d
  }

  /** Component minimum per node, by a map-based union-find. */
  private def model(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  private def modelRows(edges: Seq[(Long, Long)]): Seq[String] =
    model(edges).toSeq.map { case (d, c) => s"[$d,$c]" }.sorted

  test("random graphs: both paths agree with each other and the model") {
    for (seed <- 1 to 5) {
      val rng = new Random(seed)
      val n = 20 + rng.nextInt(100)
      val ids = Vector.fill(n)(rng.nextInt(5000).toLong)
      // self-loops, duplicates and both orientations all occur
      val edges = Seq.fill(n)((ids(rng.nextInt(n)), ids(rng.nextInt(n))))
      val got = bothPaths(edges.toDF("doc_a", "doc_b"), s"seed=$seed")
      assert(got == modelRows(edges), s"seed=$seed")
    }
  }

  test("long chains with scattered ids: both paths agree with the model") {
    val ids = new Random(11).shuffle((0L until 120L).toVector)
    val edges = (0 until 119).map(i => (ids(i), ids(i + 1))) ++
      Seq((1000L, 1001L), (1002L, 1001L))
    val got = bothPaths(edges.toDF("doc_a", "doc_b"), "chain")
    assert(got == modelRows(edges))
  }

  test("empty pair relation: empty result, same schema") {
    val got = bothPaths(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), "empty")
    assert(got.isEmpty)
  }

  test("duplicate and reversed pairs collapse to one component") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 5L), (7L, 5L), (5L, 7L), (9L, 8L))
    val got = bothPaths(edges.toDF("doc_a", "doc_b"), "dups")
    assert(got == Seq("[3,3]", "[5,3]", "[7,3]", "[8,8]", "[9,8]"))
  }

  test("self-loop pairs: the node is its own cluster unless linked") {
    val edges = Seq((4L, 4L), (6L, 6L), (6L, 2L), (2L, 2L))
    val got = bothPaths(edges.toDF("doc_a", "doc_b"), "self-loops")
    assert(got == Seq("[2,2]", "[4,4]", "[6,2]"))
  }

  test("NULL endpoints: both paths give one (NULL, NULL) row") {
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, null), (null, 7L), (null, null), (8L, 9L))
    val got = bothPaths(edges.toDF("doc_a", "doc_b"), "nulls")
    assert(got == Seq("[1,1]", "[2,1]", "[7,7]", "[8,8]", "[9,8]",
      "[null,null]"))
    // all-NULL input: only the NULL row
    val allNull = Seq[(java.lang.Long, java.lang.Long)]((null, null))
    assert(bothPaths(allNull.toDF("doc_a", "doc_b"), "all-null") ==
      Seq("[null,null]"))
  }

  test("INT ids keep their type on both paths; extra columns are ignored") {
    val edges = Seq((3, 1, "x"), (1, 2, "y"), (10, 12, "z"))
    val df = edges.toDF("doc_a", "doc_b", "tag")
    assert(Dedup.resolveClusters(df).schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(bothPaths(df, "int") ==
      Seq("[1,1]", "[10,10]", "[12,10]", "[2,1]", "[3,1]"))
  }

  test("the driver path applies at the bound and not above it") {
    // observable through reliable mode: only the star path creates the
    // run's graft-cc-<uuid> directory under checkpointDir
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    def run(bound: Long): (Seq[String], Boolean) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cc-bound")
      val got = rows(Dedup.resolveClusters(pairs,
        checkpointDir = Some(dir.toString), driverMaxEdges = bound))
      val star = java.nio.file.Files.list(dir).count() > 0
      (got, star)
    }
    val (atBound, starAtBound) = run(3)
    val (above, starAbove) = run(2)
    assert(!starAtBound, "3 pairs at a bound of 3 must take the driver path")
    assert(starAbove, "3 pairs over a bound of 2 must take the star path")
    assert(atBound == above)
    assert(atBound == Seq("[1,1]", "[2,1]", "[3,1]", "[4,4]", "[5,4]"))
  }

  test("a 1,000-node scattered-id chain plus a 30-clique takes several star " +
      "rounds and keeps one checkpoint in reliable mode") {
    val ids = new Random(23).shuffle((0L until 1000L).toVector)
    val edges = (0 until 999).map(i => (ids(i), ids(i + 1))) ++
      (for (a <- 5000L until 5030L; b <- a + 1 until 5030L) yield (a, b))
    val pairs = edges.toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-star")
    val (star, logged) = LogCapture.info(Dedup.getClass)(rows(Dedup.resolveClusters(pairs,
      checkpointDir = Some(dir.toString), driverMaxEdges = 0)))
    assert(star == modelRows(edges))
    assert(star == rows(Dedup.resolveClusters(pairs)), "driver path")
    val line = logged.find(_.startsWith("resolveClusters path=star"))
    val nRounds = line.flatMap("rounds=(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt)
    assert(nRounds.exists(_ >= 3), s"star rounds not logged or < 3: $logged")
    import scala.jdk.CollectionConverters._
    val rdds = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("rdd-")).toList
    assert(rdds.size == 1, s"expected only the result's checkpoint: $rdds")
  }
}
