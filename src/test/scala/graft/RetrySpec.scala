package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Placement, Upsert}
import graft.pipeline.{Dedup, Multimodal, Pq}
import graft.sources.MetaFixtures
import graft.sources.MetaFixtures.{AsOfMs, DefaultStaleMs}

/** Determinism under task retry — the 100 TB operational contract the
  * sf-correctness gates cannot see. At cluster scale task retries are
  * ROUTINE (preemption, executor loss, fetch failure); an operator whose
  * retried task recomputes different rows than the first attempt
  * produces silently wrong output with every gate green. This spec
  * injects a fail-once-per-partition fault upstream of each
  * representative operator (seeded greedy placement, minhash-LSH,
  * PQ encode, connected-components, LWW upsert fold, mapPartitions
  * codec decode) and asserts the retried run's output is BIT-IDENTICAL
  * to the clean run. Requires TestSpark's `local[4,2]` master — local
  * mode does not retry tasks unless maxFailures rides in the master
  * string, so with the default master every test here would fail on the
  * injected exception instead of retrying past it.
  */
object FaultInjector {
  /** (tag, partition) pairs that have already thrown — an executor-JVM
    * static, which local mode shares with the driver. */
  val tripped: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

class RetrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** `df` with an injected fault: the FIRST attempt of each partition
    * (per tag) throws before yielding any row; the retry passes. Routed
    * through an RDD hop so the fault sits in the task body, exactly
    * where a real executor failure lands. */
  private def faulty(df: DataFrame, tag: String): DataFrame = {
    val schema = df.schema
    val rdd = df.rdd.mapPartitionsWithIndex { (i, it) =>
      if (FaultInjector.tripped.add(s"$tag#$i"))
        throw new RuntimeException(s"injected task fault $tag#$i")
      it
    }
    spark.createDataFrame(rdd, schema)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `op` clean and with the fault injected on its input; both must
    * match bit-for-bit, and the fault must actually have fired. */
  private def gate(tag: String, input: DataFrame)
                  (op: DataFrame => DataFrame): Unit = {
    val clean = canon(op(input))
    val before = FaultInjector.tripped.size()
    val retried = canon(op(faulty(input, tag)))
    assert(FaultInjector.tripped.size() > before,
      s"$tag: injected fault never fired — the gate tested nothing")
    assert(retried == clean, s"$tag: retried output differs from clean run")
    assert(clean.nonEmpty, s"$tag: gate ran on empty output")
  }

  test("seeded greedy placement (placement_choose) is identical under " +
      "task retry") {
    val snap = Placement.snapshot(
      MetaFixtures.storages(spark), MetaFixtures.datanodes(spark),
      MetaFixtures.topology(spark), AsOfMs, DefaultStaleMs)
    gate("placement", MetaFixtures.requests(spark)) { req =>
      Placement.chooseInvariants(spark, snap, req)
    }
  }

  test("minhash-LSH near-dup pairs are identical under task retry") {
    gate("minhash", Tables.documents(spark, sfDir)) { docs =>
      Dedup.minhashLshPairs(docs)
    }
  }

  test("PQ encode (Lloyd-refined codebooks) is identical under task retry") {
    gate("pq", Tables.embeddings(spark, sfDir)) { embs =>
      Pq.encoded(embs, m = 8, k = 16)
    }
  }

  test("connected-components cluster resolution is identical under task " +
      "retry of its edge input") {
    val pairs = Dedup.minhashLshPairs(Tables.documents(spark, sfDir))
      .select("doc_a", "doc_b")
    // both paths: the driver-side union-find (the default at this size)
    // and the checkpointed star contraction
    gate("cc", pairs) { p => Dedup.resolveClusters(p) }
    gate("cc_star", pairs) { p => Dedup.resolveClusters(p, driverMaxEdges = 0) }
  }

  test("LWW upsert fold (CDC apply / streaming-upsert batch twin) is " +
      "identical under task retry") {
    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars", "lang")
    val changes = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), (col("n_chars") + 7).as("n_chars"), col("lang"),
        when(col("doc_id") % 9 === 0, lit("delete")).otherwise(lit("upsert"))
          .as("op"),
        (col("doc_id") % 5).cast("long").as("version"),
        col("doc_id").as("tie"))
    // two change rows per key at distinct versions: winner selection must
    // also be retry-stable, not just the join
    val doubled = changes.unionAll(
      changes.withColumn("version", col("version") + 10)
        .withColumn("op", lit("upsert")))
    gate("upsert", doubled) { ch =>
      Upsert.applyChanges(base, ch, Seq("doc_id"), Seq("n_chars", "lang"),
        "op", "version", tieCols = Seq("tie"))
    }
  }

  test("mapPartitions codec decode (perceptual hashes) is identical " +
      "under task retry") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))
    gate("phash", media) { m => Multimodal.perceptualHashes(spark, m).toDF() }
  }
}
