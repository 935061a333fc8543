package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

/** Dedup operators over a planted corpus: one near-dup pair, one exact-dup
  * pair (modulo whitespace), and unrelated documents. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest before the sun goes down"
  private val nearDup = base.replace("green forest", "green meadow")
  private val other = "completely different content about spark catalyst " +
    "optimizer rules and whole stage code generation for columnar engines"

  private val corpus = Seq(
    (1L, base, "en"), (2L, nearDup, "en"), (3L, other, "en"),
    (4L, "Exact  Match Doc", "en"), (5L, "exact match  doc", "en"))
    .toDF("doc_id", "text", "lang")

  test("exact dedup groups whitespace/case-normalized duplicates, keep-first") {
    val m = Dedup.exact(corpus).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("group_size"), r.getAs[Boolean]("keep"))).toMap
    assert(m(4L) == (2L, true))
    assert(m(5L) == (2L, false))
    assert(m(1L) == (1L, true))
  }

  test("ngram jaccard finds the planted near-dup pair only") {
    val pairs = Dedup.ngramJaccardPairs(corpus, thresholdPct = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH recalls every brute-force pair on the planted corpus") {
    val brute = Dedup.ngramJaccardPairs(corpus, maxDf = 1000, thresholdPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, thresholdPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(brute.subsetOf(lsh) || lsh == brute,
      s"brute=$brute lsh=$lsh")
  }

  test("simhash: near-dups are close in hamming distance, unrelated far") {
    val m = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)),
      s"near=${ham(m(1L), m(2L))} far=${ham(m(1L), m(3L))}")
    assert(ham(m(4L), m(5L)) == 0) // identical token streams
  }

  test("primitive-loop signatures match the declarative minhashSignature") {
    import org.apache.spark.sql.functions._
    // declarative reference form over the same shingle sets
    val sh = corpus.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
    val declarative = sh.select(col("doc_id"),
        Dedup.minhashSignature(col("sh"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the fast path is what minhashLshPairs uses internally; recompute via
    // the same public surface by lowering bands to force full signatures
    val pairsDf = Dedup.minhashLshPairs(corpus, numPerms = 32, bands = 8,
      thresholdPct = 0)
    pairsDf.collect() // just exercises the path; equality asserted below
    val primitive = {
      val md = java.security.MessageDigest.getInstance("MD5")
      sh.collect().map { r =>
        val mins = Array.fill(32)(Long.MaxValue)
        r.getSeq[String](1).foreach { s =>
          md.reset()
          val d = md.digest(s.getBytes("UTF-8"))
          var h = 0L; var i = 0
          while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          h = (h << 4) | ((d(7) & 0xf0L) >> 4)
          h %= Dedup.P
          var j = 0
          while (j < 32) {
            val v = (Dedup.permA(j) * h + Dedup.permB(j)) % Dedup.P
            if (v < mins(j)) mins(j) = v
            j += 1
          }
        }
        r.getLong(0) -> mins.toSeq
      }.toMap
    }
    assert(primitive == declarative)
  }

  test("short documents yield no shingles and no pairs") {
    val tiny = Seq((1L, "one two", "en"), (2L, "one two", "en"))
      .toDF("doc_id", "text", "lang")
    assert(Dedup.ngramJaccardPairs(tiny).count() == 0)
    assert(Dedup.minhashLshPairs(tiny).count() == 0)
  }

  test("hashedShingleDf matches hash60 over the declarative shingles") {
    import org.apache.spark.sql.functions._
    val declarative = corpus
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), transform(col("sh"), s => Dedup.hash60(s)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fast = Dedup.hashedShingleDf(corpus)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast.keySet == declarative.keySet)
    fast.foreach { case (id, hs) => assert(hs == declarative(id), s"doc $id") }
  }

  test("minhash LSH recalls most true-Jaccard pairs on the real fixture") {
    // same lesson as the SRP-plane regression guard: the oracle shares the
    // permutation literals, so only a brute-force twin catches degeneracy.
    // Ground truth computed driver-side from the hashed shingle sets.
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val shingles = Dedup.hashedShingleDf(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val ids = shingles.keys.toArray.sorted
    val truth = (for {
      i <- ids.indices.iterator
      j <- (i + 1 until ids.length).iterator
      a = shingles(ids(i)); b = shingles(ids(j))
      inter = (a & b).size
      if inter * 100 >= (a.size + b.size - inter) * 30
    } yield (ids(i), ids(j))).toSet
    val lsh = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 20, s"fixture changed? true pairs=${truth.size}")
    assert(lsh.subsetOf(truth), "LSH must never invent pairs")
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.5, s"recall=$recall (${lsh.size}/${truth.size})")
  }

  test("cluster resolution: chains merge transitively, components stay apart") {
    // component {1,2,3,4} as a chain (diameter 3 — forces >1 round),
    // component {10,11,12} as a triangle, isolated pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("shuffled-id high-diameter chain resolves on the star path") {
    // a diameter-100 chain with scattered ids: star contraction must close
    // it whatever the id layout
    val ids = new scala.util.Random(42).shuffle((0L until 101L).toVector)
    val edges = (0 until 100).map(i => (ids(i), ids(i + 1)))
    val got = Dedup.resolveClusters(edges.toDF("doc_a", "doc_b"),
        driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L until 101L).toSet)
    assert(got.values.forall(_ == 0L), s"bad labels: ${got.filter(_._2 != 0L).take(5)}")
  }

  test("star contraction alone matches union-find on random graphs") {
    // the forced star path over the full graph, cross-checked against an
    // independent union-find model
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(90)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
        .filter(e => e._1 != e._2).distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.groupBy(find).values
        .flatMap(ms => { val m = ms.min; ms.map(_ -> m) }).toMap
      val got = Dedup.resolveClusters(edges.toDF("doc_a", "doc_b"),
          driverMaxEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("cluster resolution labels real minhash pairs with component minima") {
    val pairs = Dedup.minhashLshPairs(corpus)
    val clusters = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1/2 are near-dups -> cluster 1; 4/5 exact dups -> cluster 4
    assert(clusters.get(2L).contains(1L))
    assert(clusters.get(5L).contains(4L))
    // every label is a component member and <= its doc
    clusters.foreach { case (d, c) => assert(c <= d && clusters(c) == c) }
  }

  test("cluster resolution closes a diameter-60 chain within the round budget") {
    // plain min-label propagation would need 60 rounds; star contraction
    // closes it in O(log² n), well inside its round limit. Model: one
    // chain is one component labeled by its minimum.
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.resolveClusters(chain, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L to 60L).toSet)
    assert(got.values.forall(_ == 0L), s"non-min labels: ${got.filter(_._2 != 0L)}")
  }

  test("cluster resolution matches a union-find model on a random sparse graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter(e => e._1 != e._2).distinct
    // independent union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    val expected = byRoot.values.flatMap { members =>
      val m = members.min; members.map(_ -> m)
    }.toMap
    val got = Dedup.resolveClusters(edges.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("reliable-checkpoint mode yields labels identical to localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    val local = Dedup.resolveClusters(pairs, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a previously-configured session checkpoint dir must survive the run
    // (setCheckpointDir is SparkContext-global; there is no public unset,
    // so restore is only observable when something was set before)
    val priorDir = java.nio.file.Files.createTempDirectory("graft-prior").toString
    spark.sparkContext.setCheckpointDir(priorDir)
    val before = spark.sparkContext.getCheckpointDir
    val result = Dedup.resolveClusters(pairs, checkpointDir = Some(dir),
      driverMaxEdges = 0)
    val reliable = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == reliable)
    // session-global checkpoint configuration is pointed back under the
    // previously-resolved directory (setCheckpointDir always appends a
    // fresh uuid segment, so exact equality is unattainable by API design
    // — what matters is that later checkpoints land in the user's tree,
    // not in ours)
    val after = spark.sparkContext.getCheckpointDir
    assert(after.exists(_.startsWith(before.get)),
      s"checkpoint dir not restored: before=$before after=$after")
    assert(!after.exists(_.contains("graft-cc-")))
    // retention: retired rounds were deleted eagerly — only the file
    // backing the returned relation survives under the uuid run subdir
    import scala.jdk.CollectionConverters._
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-"))
      .toList
    assert(rddDirs.size == 1,
      s"expected exactly the result's checkpoint to remain, got: $rddDirs")
    // and that surviving file is genuinely the result's backing store:
    // the relation must still be readable after the sweep
    assert(result.count() == reliable.size)
  }

  test("reliable mode on a small input takes the driver path: no checkpoint " +
      "files, session checkpoint dir untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-drv").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    val priorDir = java.nio.file.Files.createTempDirectory("graft-prior").toString
    spark.sparkContext.setCheckpointDir(priorDir)
    val before = spark.sparkContext.getCheckpointDir
    val got = Dedup.resolveClusters(pairs, checkpointDir = Some(dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // the driver path never calls setCheckpointDir, so the session dir is
    // exactly the one set above
    assert(spark.sparkContext.getCheckpointDir == before)
    import scala.jdk.CollectionConverters._
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString != dir).toList
    // no rdd-* checkpoint files, and not even the star path's run subdir
    assert(written.isEmpty, s"driver path touched checkpointDir: $written")
  }

  test("dropped-bucket accumulators surface the maxBucket cap at runtime") {
    // all five fox docs share band buckets; maxBucket=1 drops every bucket
    // whole — the silent-0-pair failure class must now be visible from the
    // accumulator alone. (Deliberately NOT Dataset.observe: AQE's
    // empty-relation propagation prunes the CollectMetrics node from the
    // final plan in exactly this all-dropped case.)
    val acc = spark.sparkContext.longAccumulator("test.minhash_dropped")
    val n = Dedup.minhashLshPairs(corpus, maxBucket = 1,
      droppedBuckets = Some(acc)).count()
    assert(n == 0)
    assert(acc.value > 0L, "cap fired but the metric stayed silent")
    // the healthy default path drops nothing on this corpus
    val acc2 = spark.sparkContext.longAccumulator("test.minhash_dropped2")
    assert(Dedup.minhashLshPairs(corpus, droppedBuckets = Some(acc2)).count() > 0)
    assert(acc2.value == 0L)
    // simhash path: same guard, same metric
    val acc3 = spark.sparkContext.longAccumulator("test.simhash_dropped")
    val n3 = Dedup.simhashPairs(corpus, maxBucket = 1,
      droppedBuckets = Some(acc3)).count()
    assert(n3 == 0 && acc3.value > 0L)
  }

  test("contamination flags corpus docs overlapping the benchmark set") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog", "en"))
      .toDF("doc_id", "text", "lang")
    // doc 1 embeds the benchmark phrase (many shared shingles); doc 3 doesn't
    val flagged = Dedup.contamination(corpus, bench, minShared = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L) && flagged(1L) >= 3L)
    assert(!flagged.contains(3L))
  }

  test("simhash banded pairs find exact dups with hamming 0, skip unrelated") {
    val pairs = Dedup.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // docs 4/5 are identical after tokenization -> identical simhash
    assert(pairs.get((4L, 5L)).contains(0L))
    // the unrelated doc 3 never pairs with the fox corpus
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("sorted-neighborhood pairs catch tail-edited near-dups and skip " +
      "far-apart sort positions") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),                       // sort-adjacent to 2 (same head)
      (2L, base + " extra tail words"), // near-dup of 1
      (3L, "completely different content that shares nothing at all"),
      (4L, "zz sorts far away " + base),// same MIDDLE, different head
      (5L, "hi")                        // sub-3-token neighbor: no shingles
    ).toDF("doc_id", "text")
    // single pass: doc 4 shares text with 1/2 but lives in the 'zz'
    // bucket — the documented cross-bucket blind spot of 1-pass SNM
    val onePass = Dedup.sortedNeighborhoodPairs(docs, window = 4,
        prefixLen = 2, passes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(onePass.contains((1L, 2L)), onePass) // adjacent in sort order
    assert(!onePass.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // default two-pass: the reversed-key pass sorts the tail-identical
    // head-edited doc 4 next to doc 1, closing exactly that blind spot
    val pairs = Dedup.sortedNeighborhoodPairs(docs, window = 4, prefixLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(pairs.contains((1L, 2L)), pairs)
    assert(pairs.contains((1L, 4L)), pairs) // caught ONLY by pass 2
    assert(pairs.keySet.intersect(onePass.keySet) == onePass.keySet)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the shingle-less short doc is a candidate but never a verdict
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("sorted-neighborhood window bounds the candidate distance") {
    // five docs in one bucket, sort order d1..d5; with window=2 only
    // adjacent ranks pair — d1/d3 (distance 2) must NOT be verified even
    // though they are near-identical
    // sort keys order d1 < d2 < d3 ("aa a" < "aa b" < "aa c"); d1 and d3
    // are near-identical but separated by the dissimilar d2
    val docs = Seq(
      (1L, "aa a " + (1 to 20).map(i => s"w$i").mkString(" ")),
      (2L, "aa b " + (1 to 20).map(i => s"x$i").mkString(" ")),
      (3L, "aa c " + (1 to 20).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    // passes = 1 isolates the window semantics: under the default second
    // (reversed-key) pass d1/d3 are tail-identical and sort ADJACENT
    // there, which is coverage, not a window violation
    val w2 = Dedup.sortedNeighborhoodPairs(docs, window = 2, prefixLen = 2,
        passes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!w2.contains((1L, 3L)), w2)
    val w3 = Dedup.sortedNeighborhoodPairs(docs, window = 3, prefixLen = 2,
        passes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w3.contains((1L, 3L)), w3)
  }

  test("sorted-neighborhood pass 3 (mid-rotation key) catches " +
      "both-ends-edited near-dups the 2-pass form misses") {
    // same-length docs, identical 71-char core, edits at BOTH ends:
    // pass 1 buckets them apart on the head ('aa' vs 'zz'), pass 2 on
    // the reversed tail ('yy' vs 'xx'); only the mid-rotation key —
    // anchored at floor(len/2), inside the shared core for both — sorts
    // them adjacent. This is the 2-pass blind spot the third rotation
    // exists to close.
    val core = (1 to 18).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, "aa qq " + core + " rr yy"),
      (2L, "zz pp " + core + " ss xx"),
      (3L, "completely unrelated content that shares nothing at all")
    ).toDF("doc_id", "text")
    val twoPass = Dedup.sortedNeighborhoodPairs(docs, passes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!twoPass.contains((1L, 2L)), twoPass) // the documented blind spot
    val threePass = Dedup.sortedNeighborhoodPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(threePass.contains((1L, 2L)), threePass) // caught ONLY by pass 3
    assert(twoPass.subsetOf(threePass)) // extra passes only add coverage
    assert(!threePass.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("banded hamming pairs equal brute force at hamming <= bands-1 " +
      "when uncapped (pigeonhole exactness, seeded random sigs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 120 random 64-bit sigs + planted near-dups at 0..5 bit flips:
    // flips <= 3 MUST be recalled (pigeonhole over 4 bands); 4-5 flip
    // plants land in brute iff the flips collide back under 4 — the
    // equality check covers both directions (no false pairs either)
    val base = Seq.fill(120)(rnd.nextLong())
    val planted = base.zipWithIndex.collect { case (s, i) if i % 4 == 0 =>
      (0 until i % 6).foldLeft(s)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
    }
    val sigs = (base ++ planted).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val got = Dedup.bandedHammingPairs(sigs.toDF("doc_id", "sig"),
        maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 1000000)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(brute.nonEmpty && got == brute,
      s"banded=${got.size} brute=${brute.size}")
  }

  test("incremental hamming admission: exact and near matches resolve " +
      "near_dup with min-hamming/min-id best; far rows admit") {
    import spark.implicits._
    val s0 = 0x0123456789abcdefL
    val ledger = Seq(
      (10L, s0),             // exact match target
      (11L, s0 ^ 1L),        // hamming 1 from s0 — must NOT outrank exact
      (12L, s0 ^ 0x7L),      // hamming 3 target for batch doc 2
      (13L, s0 ^ 0x7L),      // same sig, larger id — tie goes to 12
      (14L, 0x7777000011112222L))
    val batch = Seq(
      (1L, s0),              // exact -> near_dup of 10 at hamming 0
      (2L, s0 ^ 0x7L),       // -> 12 (tie with 13 broken by id)
      (3L, ~s0))             // far from everything -> admitted
    val out = Dedup.incrementalHammingDedup(
        batch.toDF("doc_id", "sig"), ledger.toDF("doc_id", "sig"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"),
          Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("hamming")).map(_.asInstanceOf[Long]))))
      .toMap
    assert(out(1L) == (("near_dup", Some(10L), Some(0L))))
    assert(out(2L) == (("near_dup", Some(12L), Some(0L))))
    assert(out(3L) == (("admitted", None, None)))
  }

  test("incremental hamming admission equals the brute-force model on " +
      "seeded random corpora (uncapped)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // ledger of 80 sigs; batch of 40: half perturbed ledger entries
    // (0..6 bit flips), half fresh randoms
    val ledger = (0 until 80).map(i => (i.toLong, rnd.nextLong()))
    val batch = (0 until 40).map { i =>
      val sig =
        if (i % 2 == 0) {
          val (_, s) = ledger(rnd.nextInt(ledger.size))
          (0 until i % 7).foldLeft(s)((a, _) => a ^ (1L << rnd.nextInt(64)))
        } else rnd.nextLong()
      (1000L + i, sig)
    }
    val got = Dedup.incrementalHammingDedup(
        batch.toDF("doc_id", "sig"), ledger.toDF("doc_id", "sig"),
        maxBucket = 1000000)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"),
          Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("hamming")).map(_.asInstanceOf[Long]))))
      .toMap
    val model = batch.map { case (id, sig) =>
      val matches = ledger
        .map { case (lid, ls) => (java.lang.Long.bitCount(sig ^ ls).toLong, lid) }
        .filter(_._1 <= 3L)
      id -> (if (matches.isEmpty) ("admitted", None, None)
             else {
               val (h, lid) = matches.min
               ("near_dup", Some(lid), Some(h))
             })
    }.toMap
    assert(got == model)
    assert(model.values.count(_._1 == "near_dup") >= 10,
      "fixture must plant enough in-distance matches to be meaningful")
  }

  // --- incremental index maintenance: refresh(build(L), B) == build(L ∪ B)

  private def bucketSet(df: org.apache.spark.sql.DataFrame,
                        keyCols: Seq[String]): Set[(String, Seq[Long])] =
    df.collect().map { r =>
      (keyCols.map(c => String.valueOf(r.getAs[Any](c))).mkString(":"),
        r.getSeq[Any](r.fieldIndex("ids")).map {
          case l: Long => l
          case row: org.apache.spark.sql.Row => row.getLong(0)
        }.sorted.toSeq)
    }.toSet

  private def keySet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString(":")).toSet

  test("near-dup index refresh equals a from-scratch rebuild, " +
       "dropped-bucket transitions included") {
    // identical texts share every band key, so bucket size = copy count:
    // textA x3 in L (dropped at build, cap 2); textB x2 in L + x1 in B
    // (kept at build, dropped after refresh); textC x1 in L + x1 in B
    // (kept throughout); textD unique to B (new bucket)
    def doc(id: Long, t: String) = (id, t, "en")
    val tA = base; val tB = other
    val tC = "catalyst pushes filters below joins when the predicate " +
      "references one side only and the join keys stay intact somehow"
    val tD = "streaming watermarks bound state retention by event time " +
      "while allowing late arrivals within the configured delay budget"
    val ledger = Seq(doc(1, tA), doc(2, tA), doc(3, tA),
      doc(4, tB), doc(5, tB), doc(6, tC)).toDF("doc_id", "text", "lang")
    val batch = Seq(doc(10, tA), doc(11, tB), doc(12, tC), doc(13, tD))
      .toDF("doc_id", "text", "lang")
    val refreshed = Dedup.refreshNearDupIndex(
      Dedup.buildNearDupIndex(ledger, maxBucket = 2), batch)
    val rebuilt = Dedup.buildNearDupIndex(ledger.union(batch), maxBucket = 2)
    assert(bucketSet(refreshed.buckets, Seq("bkey"))
      == bucketSet(rebuilt.buckets, Seq("bkey")))
    assert(keySet(refreshed.dropped) == keySet(rebuilt.dropped))
    assert(bucketSet(refreshed.shingles.toDF("doc_id", "ids"), Seq("doc_id"))
      == bucketSet(rebuilt.shingles.toDF("doc_id", "ids"), Seq("doc_id")))
    // the planted transitions actually happened
    val keptIds = bucketSet(refreshed.buckets, Seq("bkey")).map(_._2)
    assert(refreshed.dropped.count() > 0, "build-time drop expected (tA x3)")
    assert(!keptIds.exists(_.contains(10L)),
      "tA batch copy must stay dropped under the tombstoned key")
    assert(!keptIds.exists(ids => ids.contains(4L) && ids.contains(11L)),
      "tB bucket must drop whole once the merge exceeds the cap")
    assert(keptIds.exists(ids => ids == Seq(6L, 12L)),
      "tC bucket must keep ledger + batch copies")
    assert(keptIds.exists(ids => ids == Seq(13L)), "tD must open a bucket")
    // admission through the refreshed index == the from-scratch operator
    val probe = Seq(doc(20, tC), doc(21, "entirely unrelated probe text " +
      "about distributed consensus protocols and leader election rounds"))
      .toDF("doc_id", "text", "lang")
    val viaIndex = Dedup.indexNearDup(probe, refreshed).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val scratch = Dedup.incrementalNearDup(probe, ledger.union(batch))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(viaIndex == scratch)
    assert(viaIndex(20L) == "near_dup" && viaIndex(21L) == "admitted")
    refreshed.release(); rebuilt.release()
  }

  test("hamming index refresh equals a from-scratch rebuild and agrees " +
       "with the incremental operator") {
    // signatures chosen so several share band keys: copies collide on
    // all 4 bands; +1-bit variants on 3 of 4
    def rows(ids: Seq[Long], sig: Long) = ids.map(id => ("img", id, sig))
    val s1 = 0x1111222233334444L; val s2 = 0x7777000012345678L
    val ledger = (rows(Seq(1, 2, 3), s1) ++ rows(Seq(4, 5), s2) ++
      Seq(("img", 6L, s2 ^ 1L)))
      .toDF("kind", "doc_id", "sig")
    val batch = (rows(Seq(10), s1) ++ rows(Seq(11), s2) ++
      Seq(("img", 12L, 0x0f0e0d0c0b0a0908L)))
      .toDF("kind", "doc_id", "sig")
    def build(df: org.apache.spark.sql.DataFrame) =
      Dedup.buildHammingIndex(df, maxBucket = 3, partitionCols = Seq("kind"))
    val refreshed = Dedup.refreshHammingIndex(build(ledger), batch)
    val rebuilt = build(ledger.union(batch))
    assert(bucketSet(refreshed.buckets, Seq("bkey"))
      == bucketSet(rebuilt.buckets, Seq("bkey")))
    assert(keySet(refreshed.dropped) == keySet(rebuilt.dropped))
    assert(refreshed.dropped.count() > 0,
      "s1 buckets must drop whole at the cap after the merge")
    val probe = Seq(("img", 20L, s2), ("img", 21L, 0x5a5a5a5a5a5a5a5aL))
      .toDF("kind", "doc_id", "sig")
    val viaIndex = Dedup.indexHammingDedup(probe, refreshed).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("verdict"),
        Option(r.getAs[Any]("near_dup_of")))).toSet
    val scratch = Dedup.incrementalHammingDedup(probe, ledger.union(batch),
        maxBucket = 3, partitionCols = Seq("kind")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("verdict"),
        Option(r.getAs[Any]("near_dup_of")))).toSet
    assert(viaIndex == scratch)
    assert(viaIndex.exists(v => v._1 == 21L && v._2 == "admitted"))
    refreshed.release(); rebuilt.release()
  }

  // --- index persistence: load(save(idx)) == idx, refresh-on-loaded
  //     behaves exactly like refresh-on-original

  test("near-dup index save/load round-trip preserves relations, " +
       "tombstones, caps, and refresh behavior") {
    def doc(id: Long, t: String) = (id, t, "en")
    val tC = "catalyst pushes filters below joins when the predicate " +
      "references one side only and the join keys stay intact somehow"
    val ledger = Seq(doc(1, base), doc(2, base), doc(3, base),
      doc(4, other), doc(5, other), doc(6, tC)).toDF("doc_id", "text", "lang")
    val batch = Seq(doc(10, base), doc(11, other), doc(12, tC))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_neardup_rt").toString
    val built = Dedup.buildNearDupIndex(ledger, maxBucket = 2)
    Dedup.saveNearDupIndex(built, dir)
    val loaded = Dedup.loadNearDupIndex(spark, dir)
    assert(loaded.numPerms == built.numPerms
      && loaded.bands == built.bands
      && loaded.thresholdPct == built.thresholdPct
      && loaded.maxBucket == built.maxBucket)
    assert(bucketSet(loaded.buckets, Seq("bkey"))
      == bucketSet(built.buckets, Seq("bkey")))
    assert(keySet(loaded.dropped) == keySet(built.dropped))
    assert(built.dropped.count() > 0, "fixture must exercise tombstones")
    assert(bucketSet(loaded.shingles.toDF("doc_id", "ids"), Seq("doc_id"))
      == bucketSet(built.shingles.toDF("doc_id", "ids"), Seq("doc_id")))
    // refresh ON the loaded generation == refresh on the original
    val refLoaded = Dedup.refreshNearDupIndex(loaded, batch)
    val refOrig = Dedup.refreshNearDupIndex(built, batch)
    assert(bucketSet(refLoaded.buckets, Seq("bkey"))
      == bucketSet(refOrig.buckets, Seq("bkey")))
    assert(keySet(refLoaded.dropped) == keySet(refOrig.dropped))
    val probe = Seq(doc(20, tC)).toDF("doc_id", "text", "lang")
    assert(Dedup.indexNearDup(probe, refLoaded).collect().toSeq
      == Dedup.indexNearDup(probe, refOrig).collect().toSeq)
    built.release(); loaded.release(); refLoaded.release(); refOrig.release()
  }

  test("hamming index save/load round-trip preserves relations, " +
       "tombstones, and the fused partition columns") {
    def rows(ids: Seq[Long], sig: Long) = ids.map(id => ("img", id, sig))
    val s1 = 0x1111222233334444L; val s2 = 0x7777000012345678L
    val ledger = (rows(Seq(1, 2, 3, 4), s1) ++ rows(Seq(5, 6), s2))
      .toDF("kind", "doc_id", "sig")
    val batch = Seq(("img", 10L, s2 ^ 1L)).toDF("kind", "doc_id", "sig")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hamming_rt").toString
    val built = Dedup.buildHammingIndex(ledger, maxBucket = 3,
      partitionCols = Seq("kind"))
    Dedup.saveHammingIndex(built, dir)
    val loaded = Dedup.loadHammingIndex(spark, dir)
    assert(loaded.maxHamming == built.maxHamming
      && loaded.bands == built.bands
      && loaded.bandBits == built.bandBits
      && loaded.maxBucket == built.maxBucket
      && loaded.partitionCols == Seq("kind"))
    assert(bucketSet(loaded.buckets, Seq("bkey"))
      == bucketSet(built.buckets, Seq("bkey")))
    assert(keySet(loaded.dropped) == keySet(built.dropped))
    assert(built.dropped.count() > 0, "fixture must exercise tombstones")
    val refLoaded = Dedup.refreshHammingIndex(loaded, batch)
    val refOrig = Dedup.refreshHammingIndex(built, batch)
    assert(bucketSet(refLoaded.buckets, Seq("bkey"))
      == bucketSet(refOrig.buckets, Seq("bkey")))
    assert(keySet(refLoaded.dropped) == keySet(refOrig.dropped))
    val probe = Seq(("img", 20L, s2)).toDF("kind", "doc_id", "sig")
    assert(Dedup.indexHammingDedup(probe, refLoaded).collect().toSeq
      == Dedup.indexHammingDedup(probe, refOrig).collect().toSeq)
    built.release(); loaded.release(); refLoaded.release(); refOrig.release()
  }

  // --- one-shot admission == probing the unpruned standing index; the
  //     batch-key prune counts exactly the over-cap buckets it touches

  test("one-shot near-dup admission equals probing the unpruned index and " +
       "counts exactly the over-cap buckets the batch touches") {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 200).map(i => s"v$i")
    def text(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def edit(t: String) = {
      val ws = t.split(" "); ws(rnd.nextInt(ws.length)) = "edited"
      ws.mkString(" ")
    }
    // tA x3 and tB x3 overflow every band bucket at cap 2; only tA is in
    // the batch's reach
    val tA = text(20); val tB = text(20)
    val randoms = (0 until 40).map(i => (100L + i, text(20)))
    val ledger = (Seq((1L, tA), (2L, tA), (3L, tA), (4L, tB), (5L, tB),
      (6L, tB)) ++ randoms).toDF("doc_id", "text")
    val batch = (Seq((1000L, tA), (1001L, edit(tA))) ++
      randoms.take(10).map { case (id, t) => (id + 1000L, edit(t)) } ++
      (0 until 10).map(i => (2000L + i, text(20)))).toDF("doc_id", "text")
    val acc = spark.sparkContext.longAccumulator("test.incr_neardup.dropped")
    val oneShot = Dedup.incrementalNearDup(batch, ledger, maxBucket = 2,
      droppedBuckets = Some(acc)).collect().toSet
    val full = Dedup.buildNearDupIndex(ledger, maxBucket = 2)
    assert(oneShot == Dedup.indexNearDup(batch, full).collect().toSet)
    assert(oneShot.count(_.getString(1) == "near_dup") >= 5,
      "fixture must plant enough ledger near-dups to be meaningful")
    val keysOf = Dedup.minhashBandKeys(32, 8)
    val batchKeys = Dedup.hashedShingleDf(batch).collect()
      .flatMap(r => keysOf(r.getSeq[Long](1).toArray)).toSet
    val dropped = full.dropped.collect().map(_.getString(0)).toSet
    val touched = dropped.intersect(batchKeys)
    assert(touched.size == 8, "tA's 8 over-cap bands are in the batch's reach")
    assert(dropped.size > touched.size, "tB's over-cap bands are not")
    assert(acc.value == touched.size.toLong)
    full.release()
  }

  test("one-shot hamming admission equals probing the unpruned index and " +
       "counts exactly the over-cap buckets the batch touches") {
    import org.apache.spark.sql.functions.{col, explode}
    val rnd = new scala.util.Random(29)
    def flip(s: Long, n: Int) =
      (0 until n).foldLeft(s)((a, _) => a ^ (1L << rnd.nextInt(64)))
    // s1 x4 and s2 x4 overflow every band bucket at cap 3; only s1 is in
    // the batch's reach
    val s1 = rnd.nextLong(); val s2 = rnd.nextLong()
    val randoms = (0 until 60).map(i => (100L + i, rnd.nextLong()))
    val ledger = (Seq(1L, 2L, 3L, 4L).map(id => (id, s1)) ++
      Seq(5L, 6L, 7L, 8L).map(id => (id, s2)) ++ randoms)
      .map { case (id, sig) => ("img", id, sig) }
      .toDF("kind", "doc_id", "sig")
    val batch = (Seq((1000L, s1)) ++
      randoms.take(20).map { case (id, s) => (id + 1000L, flip(s, 1 + id.toInt % 3)) } ++
      (0 until 10).map(i => (2000L + i, rnd.nextLong())))
      .map { case (id, sig) => ("img", id, sig) }
      .toDF("kind", "doc_id", "sig")
    val acc = spark.sparkContext.longAccumulator("test.incr_hamming.dropped")
    val oneShot = Dedup.incrementalHammingDedup(batch, ledger, maxBucket = 3,
      partitionCols = Seq("kind"), droppedBuckets = Some(acc)).collect().toSet
    val full = Dedup.buildHammingIndex(ledger, maxBucket = 3,
      partitionCols = Seq("kind"))
    assert(oneShot == Dedup.indexHammingDedup(batch, full).collect().toSet)
    assert(oneShot.count(_.getAs[String]("verdict") == "near_dup") >= 10,
      "fixture must plant enough ledger near-dups to be meaningful")
    val batchKeys = batch.select(explode(full.probeKeys(col("sig"))))
      .collect().map(_.getString(0)).toSet
    val dropped = full.dropped.collect().map(_.getString(0)).toSet
    val touched = dropped.intersect(batchKeys)
    assert(touched.size == 4, "s1's 4 over-cap bands are in the batch's reach")
    assert(dropped.size > touched.size, "s2's over-cap bands are not")
    assert(acc.value == touched.size.toLong)
    full.release()
  }
}
