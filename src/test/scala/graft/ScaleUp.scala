package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthesizes an N-times-amplified copy of a driver sf directory, for
  * whole-suite scale-ratio validation (sf0.1 -> ~sf1).
  *
  * Scheme: fact tables are replicated `copies` times with a fixed key
  * stride added per copy, applied consistently to every foreign key, so
  * referential integrity (and join fan-out per key) is exactly preserved.
  * Dimension geography (region/nation, customer nationkeys, event types,
  * user count per copy) stays fixed — scale grows facts, not geography.
  *
  * Two columns are *decorrelated* per copy instead of cloned, so the
  * near-dup/similarity workload scales linearly rather than creating
  * quadratic cross-copy clone families that exist at no real corpus scale:
  * document text is vowel/consonant-rotated (length-preserving, so
  * token/char statistics match the original distribution) and embeddings
  * are circularly shifted. Copy 0 is byte-identical to the source, so the
  * amplified corpus contains the original as a subset.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // key stride per copy (must exceed the SOURCE key domain: pass a larger
    // stride when re-amplifying an already-amplified directory, whose keys
    // already reach copies x the original stride)
    val K = if (args.length > 3) args(3).toLong else 10000000L

    val spark = LocalSession(8)
      // events carries TIMESTAMP(NANOS); read as raw long nanos (the same
      // setting every consumer uses) and write plain BIGINT nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** `files > 0` spreads the table over that many parquet files — a 10x
      * dataset arriving as the same ONE file the source had is not what a
      * real 10x corpus looks like, and it quietly serializes the scan
      * (maxPartitionBytes never splits a small-enough single file): the
      * first sf1 sweep measured q1_pricing at 15x purely from a 2-split
      * 6M-row lineitem scan. */
    def write(name: String, df: DataFrame, files: Int = 0): Unit = {
      val out = if (files > 0) df.repartition(files) else df
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name -> $dst (${df.columns.mkString(",")})")
    }

    /** Cross-join with the copy index, apply per-copy transforms, restore
      * the original column order. */
    def amplified(df: DataFrame)(tx: Map[String, Column => Column]): DataFrame = {
      val cols = df.columns
      val withC = df.crossJoin(spark.range(copies.toLong).toDF("__c"))
      val out = cols.map { name =>
        tx.get(name).map(f => f(col(name)).as(name)).getOrElse(col(name))
      }
      withC.select(out: _*)
    }
    def shifted(stride: Long): Column => Column = c => c + col("__c") * stride

    def rotVowels(t: Column, r: Int): Column = r % 5 match {
      case 0 => t
      case 1 => translate(t, "aeiou", "eioua")
      case 2 => translate(t, "aeiou", "iouae")
      case 3 => translate(t, "aeiou", "ouaei")
      case _ => translate(t, "aeiou", "uaeio")
    }
    /** 10 distinct length-preserving text variants (copy 0 = identity). */
    def textVariant(t: Column): Column =
      (0 until copies).foldLeft(lit(null).cast("string")) { (acc, cc) =>
        val v0 = rotVowels(t, cc % 5)
        val v = if (cc % 10 >= 5) translate(v0, "rstln", "stlnr") else v0
        when(col("__c") === cc, v).otherwise(acc)
      }

    // dimensions: geography fixed
    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))

    write("customer", amplified(Tables.customer(spark, src))(
      Map("c_custkey" -> shifted(K))), files = 8)
    write("supplier", amplified(Tables.supplier(spark, src))(
      Map("s_suppkey" -> shifted(K))), files = 4)
    write("part", amplified(Tables.part(spark, src))(
      Map("p_partkey" -> shifted(K))), files = 8)
    write("orders", amplified(Tables.orders(spark, src))(
      Map("o_orderkey" -> shifted(K), "o_custkey" -> shifted(K))), files = 16)
    write("lineitem", amplified(Tables.lineitem(spark, src))(
      Map("l_orderkey" -> shifted(K), "l_partkey" -> shifted(K),
        "l_suppkey" -> shifted(K))), files = 16)
    // events.user_id uses its own small stride so per-user fan-out grows
    // with copy count the way a larger real corpus's would — but the
    // per-copy user populations are only disjoint (the header's "join
    // fan-out per key exactly preserved" claim) while the source user
    // domain fits under the stride. Enforce it instead of assuming it.
    // (The enforcement caught a real collision: sf0.1 has 1500 users, and
    // the round-5 sweep's stride of 1000 silently merged a third of each
    // copy's users into the next copy — event-query ratios in that sweep
    // ran on inflated per-user fan-out. 10000 clears the domain.)
    // optional 5th arg: user stride (pass a larger one when re-amplifying
    // an already-amplified directory, same rule as K above)
    val userStride = if (args.length > 4) args(4).toLong else 10000L
    val maxUser = Tables.events(spark, src)
      .agg(max(col("user_id").cast("long"))).head().getLong(0)
    require(maxUser < userStride,
      s"source max user_id $maxUser >= user stride $userStride: copies " +
        "would collide and silently merge distinct users across copies")
    write("events", amplified(Tables.events(spark, src))(
      Map("event_id" -> shifted(K), "user_id" -> shifted(userStride))), files = 16)
    write("documents", amplified(Tables.documents(spark, src))(
      Map("doc_id" -> shifted(K), "text" -> (t => textVariant(t)))), files = 16)

    val dim = Tables.embeddings(spark, src)
      .select(size(col("embedding"))).head().getInt(0)
    def shiftVec(e: Column): Column =
      (0 until copies).foldLeft(lit(null).cast("array<float>")) { (acc, cc) =>
        val k = (cc * 7) % dim
        val v = if (k == 0) e else concat(slice(e, k + 1, dim - k), slice(e, 1, k))
        when(col("__c") === cc, v).otherwise(acc)
      }
    write("embeddings", amplified(Tables.embeddings(spark, src))(
      Map("vec_id" -> shifted(K), "embedding" -> (e => shiftVec(e)))),
      files = 16)

    // ---- amplification self-check (r12) --------------------------------
    // The CDC gate nondeterminism (PLANS.md) was caught by luck: a fixture
    // id offset collided with this amplifier's key stride. Make the whole
    // class impossible to reintroduce silently:
    //  (1) stride disjointness — every strided key column's amplified
    //      distinct count must be EXACTLY copies x the source distinct
    //      count; any copy-overlap in id space merges keys and fails here
    //      (the round-5 user-stride bug and the r11 CDC insert-id bug
    //      would both have tripped this);
    //  (2) fixture id plateau — SparkEntry fixtures synthesize ids only
    //      below 0 (CDC inserts, diff adds: negation) or at >= 3e18 (the
    //      media re-crawl plateau), so amplified REAL ids must stay in
    //      [0, 3e18) for fixture-vs-data disjointness at ANY scale.
    val FixturePlateau = 3000000000000000000L
    val keyCheck: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
    keyCheck.foreach { case (name, keys) =>
      val srcDf = spark.read.parquet(s"$src/$name.parquet")
      val dstDf = spark.read.parquet(s"$dst/$name.parquet")
      keys.foreach { k =>
        val sd = srcDf.agg(countDistinct(col(k))).head().getLong(0)
        val row = dstDf.agg(countDistinct(col(k)),
          max(col(k).cast("long")), min(col(k).cast("long"))).head()
        val (dd, mx, mn) = (row.getLong(0), row.getLong(1), row.getLong(2))
        require(dd == sd * copies,
          s"[scaleup] STRIDE COLLISION $name.$k: amplified distinct $dd " +
            s"!= source distinct $sd x $copies copies — copies overlap " +
            "in id space; pass a larger stride")
        require(mn >= 0 && mx < FixturePlateau,
          s"[scaleup] FIXTURE-SPACE BREACH $name.$k: amplified ids span " +
            s"[$mn, $mx] outside [0, $FixturePlateau) — synthetic fixture " +
            "ids (negative CDC inserts / >=3e18 media re-crawls) would " +
            "collide with real rows")
        println(s"[scaleup] self-check OK $name.$k distinct=$dd max=$mx")
      }
    }

    spark.stop()
  }
}
