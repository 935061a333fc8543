package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.operators.DriverGraph

/** Deduplication operators: exact (fingerprint groupBy), n-gram Jaccard
  * (rare-shingle candidate generation), MinHash+LSH (banded), and SimHash.
  *
  * Scale design: nothing here is all-pairs. Exact dedup is one hash groupBy;
  * Jaccard and MinHash generate candidates through *bucket joins* (shared
  * rare shingle / shared LSH band), so the join fan-out is bounded by bucket
  * size, not corpus size — the only shape that survives 100 TB. Signatures
  * (minhash/simhash) are computed with higher-order array functions inside
  * one narrow projection: no explode, no shuffle, codegen-friendly.
  */
object Dedup {

  /** 61-bit-safe prime field for minhash permutations. */
  val P = 1000000007L

  /** Deterministic 60-bit token hash both engines can compute:
    * first 15 hex chars of md5. */
  def hash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Distinct word w-shingles of a document (space-joined token windows).
    *
    * Implementation note: the windows are built by zipping w shifted slices
    * of the token array at *argument* level. Referencing the token
    * expression inside the transform lambda (e.g. `element_at(toks, i+o)`)
    * would re-evaluate the whole regexp tokenization per element — O(n²)
    * regex work per document (measured 20x slower at sf0.1). Short docs
    * (< w tokens) explicitly yield an empty set: Spark's `sequence(0, -1)`
    * counts down rather than producing nothing. */
  def shingles(text: Column, w: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), w)

  /** Same, over an already-materialized token array column (preferred in
    * pipelines: tokenization happens once in its own projection instead of
    * 2w+1 times at argument level). */
  def shinglesFromTokens(toks: Column, w: Int = 3): Column = {
    val n = size(toks) - (w - 1)
    val z = arrays_zip((0 until w).map(o => slice(toks, lit(o + 1), n)): _*)
    val gen = transform(z, s =>
      concat_ws(" ", (0 until w).map(o => s.getField(o.toString)): _*))
    when(size(toks) < w, array().cast("array<string>"))
      .otherwise(array_distinct(gen))
  }

  /** (doc_id, hs): 60-bit md5 hashes of the distinct word w-shingles in
    * first-occurrence order; docs with fewer than w tokens dropped.
    *
    * Tokenization stays the declarative builtin (identical to the DuckDB
    * oracle's `regexp_extract_all(lower(text), ...)`), but window assembly
    * and hashing run as a tight per-partition loop: the higher-order-function
    * formulation (`arrays_zip`/`transform`/`concat_ws` + `conv(md5(...))`
    * per element) falls out of whole-stage codegen and dominated the dedup
    * pipelines' runtime. Values are bit-identical to
    * `hash60(shinglesFromTokens(...))` (DedupSpec asserts agreement). */
  def hashedShingleDf(docs: DataFrame, w: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      // NULL text tokenizes to a NULL array (size -1): drop it here like the
      // declarative path's size guard did, instead of NPE-ing in the loop
      .where(size(col("toks")) > 0)
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, toks) =>
          val hs = shingleHashes(md, toks.toArray, w)
          if (hs.isEmpty) None else Some((id, hs))
        }
      }.toDF("doc_id", "hs")
  }

  /** Distinct `w`-token shingle hashes of one document's tokens, in
    * first-occurrence order: `md5Top60` of each space-joined window. Empty
    * when there are fewer than `w` tokens. The per-row kernel of
    * [[hashedShingleDf]], shared with streaming near-dup admission. */
  private[graft] def shingleHashes(md: java.security.MessageDigest,
                                   toks: Array[String], w: Int): Array[Long] = {
    val n = toks.length - (w - 1)
    if (n <= 0) Array.emptyLongArray
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i < n) {
        val sb = new java.lang.StringBuilder(toks(i))
        var o = 1
        while (o < w) { sb.append(' ').append(toks(i + o)); o += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val arr = new Array[Long](seen.size())
      val itr = seen.iterator()
      var j = 0
      while (itr.hasNext) { arr(j) = md5Top60(md, itr.next()); j += 1 }
      arr
    }
  }

  /** (doc_a, doc_b, inter, union_size, jaccard_pct): the candidate pairs
    * whose exact shingle Jaccard reaches `thresholdPct`, with
    * `jaccard_pct = floor(100 * inter / union_size)` — the one
    * verification step of every Jaccard pair operator and of near-dup
    * admission. `doc_a` ids resolve against `hdfA`, `doc_b` ids against
    * `hdfB` (the self-join pair operators pass the same relation twice;
    * admission passes batch and ledger).
    *
    * The per-pair set intersection of the two docs' hashed shingle arrays
    * is a primitive loop — the alternative (exploding both sides and
    * re-joining on the shingle key) fans out to |pairs| x |shingles| rows.
    * The pair->array joins are plain equi-joins: AQE broadcasts the
    * compact array side when it fits; at fleet scale they degrade
    * gracefully to shuffle joins keyed by the bounded candidate set.
    * Intersection counts DISTINCT common hash values (mirrors DuckDB
    * `list_intersect` in the oracle). A pair of two empty shingle sets
    * (0/0 Jaccard) is a non-pair, not a division. */
  private def jaccardPairs(cand: DataFrame, hdfA: DataFrame,
                           hdfB: DataFrame, thresholdPct: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    cand.join(hdfA.toDF("doc_a", "hs_a"), "doc_a")
      .join(hdfB.toDF("doc_b", "hs_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hs_a"), col("hs_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        val set = new java.util.HashSet[java.lang.Long]()
        it.map { case (a, b, ha, hb) =>
          set.clear()
          var i = 0
          while (i < ha.length) { set.add(ha(i)); i += 1 }
          var inter = 0L
          var j = 0
          while (j < hb.length) { if (set.remove(hb(j))) inter += 1; j += 1 }
          (a, b, inter, ha.length.toLong + hb.length - inter)
        }
      }.toDF("doc_a", "doc_b", "inter", "union_size")
      .where(col("union_size") > 0 &&
        col("inter") * 100 >= col("union_size") * thresholdPct)
      .withColumn("jaccard_pct",
        floor(col("inter") * 100 / col("union_size")).cast("long"))
  }

  /** Dropped-bucket observability for the LSH cap sites: the `bkey`
    * bucket relation is capped by an imperative filter that counts every
    * over-cap bucket (and its member rows) into named `LongAccumulator`s
    * (`graft.<site>.dropped_buckets` / `graft.<site>.dropped_docs`,
    * visible in the Spark UI) before dropping it. Both are created here,
    * the only place that makes them; a caller's `droppedBuckets`
    * accumulator replaces the first. A degenerate hash family that collapses
    * the corpus into a handful of giant buckets — the round-4 SRP incident,
    * which passed its shared-constants oracle gate with zero pairs — now
    * shows up as a non-zero drop count on any run.
    *
    * Deliberately an accumulator, not `Dataset.observe`: AQE's
    * empty-relation propagation replaces the downstream join with an empty
    * scan when *no* bucket survives, pruning a `CollectMetrics` node out of
    * the final plan — the all-dropped case, the one this metric exists for,
    * was exactly the case the observed metric vanished in. Accumulator
    * updates are reported at task completion of the bucket stage (which
    * always runs), so they survive any downstream re-plan. Counts can
    * over-report under task retries/speculation or when the plan executes
    * the bucket stage more than once; they are observability, not a
    * correctness output. The filter is a typed row predicate (one
    * deserialization per *bucket*, a relation orders of magnitude smaller
    * than the corpus). */
  private def capBuckets(buckets: DataFrame, maxBucket: Int, site: String,
                         droppedBuckets: Option[LongAccumulator],
                         minSize: Int = 2)
      : DataFrame = {
    val sc = buckets.sparkSession.sparkContext
    val dropAcc = droppedBuckets.getOrElse(
      sc.longAccumulator(s"graft.$site.dropped_buckets"))
    val dropDocsAcc = sc.longAccumulator(s"graft.$site.dropped_docs")
    buckets.filter { (r: org.apache.spark.sql.Row) =>
      val n = r.getSeq[Any](r.fieldIndex("ids")).size
      if (n > maxBucket) {
        dropAcc.add(1L); dropDocsAcc.add(n.toLong); false
      } else n >= minSize
    }
  }

  /** Exact dedup: keep-first per normalized-content fingerprint. */
  def exact(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    val w = Window.partitionBy("fingerprint")
    fp.withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
  }

  /** Incremental (snapshot) dedup: admit each batch document unless its
    * normalized fingerprint already exists in the `ledger` (the fingerprint
    * set of everything previously ingested) or earlier in the batch itself.
    * This is the streaming-corpus shape — a crawl refresh deduped against
    * the standing corpus without re-clustering it — and the batch twin of
    * [[graft.streaming.StreamingDedup]]'s keyed state.
    *
    * Every batch row comes back with a verdict: `admitted`, `ledger_dup`,
    * or `batch_dup` (first-in-batch wins by min doc_id, matching
    * [[exact]]). Scale shape: one window over the batch's fingerprints
    * plus one left join against the ledger, both hash-partitioned on the
    * fingerprint — the ledger is the 100 TB side and never moves more
    * than once; nothing is collected or broadcast. */
  def incremental(batch: DataFrame, ledger: DataFrame): DataFrame =
    incrementalVerdicts(batchFingerprints(batch), ledger)

  /** Bloom-pruned incremental dedup — bit-identical output to
    * [[incremental]], built for the asymmetric production shape: a crawl
    * batch of millions against a standing ledger of 100 TB. [[incremental]]
    * hash-joins the FULL ledger fingerprint set against the batch — at
    * fleet scale that shuffles (the distinct of) the ledger to compare
    * against a relation five orders of magnitude smaller.
    *
    * This variant sketches the SMALL side instead: a native
    * `graft_bloom_agg` ([[graft.functions.LongBloomAgg]]) over the batch's
    * fingerprint hashes collapses map-side to one `numBits/8`-byte blob on
    * the driver (bounded by construction, not by data — the one acceptable
    * collect shape), which then rides into the ledger scan as a literal so
    * `graft_might_contain` prunes ledger rows INSIDE the scan's codegen
    * span, before any exchange. Only possible matches — true overlaps plus
    * the filter's false positives — reach the verdict join, and since the
    * join re-checks exact fingerprints, false positives cost a few spurious
    * join rows, never a wrong verdict. No false negatives exist, so every
    * real ledger duplicate still arrives. Default 4 Mi bits / 5 hashes ≈
    * 0.9% false positives at 500k batch keys; size `numBits` ~8-10 bits per
    * batch key. */
  def incrementalBloom(batch: DataFrame, ledger: DataFrame,
                       numBits: Int = 1 << 22, numHashes: Int = 5): DataFrame = {
    val spark = batch.sparkSession
    require(spark.catalog.functionExists("graft_bloom_agg"),
      "graft_bloom_agg not registered — set spark.sql.extensions=" +
        "graft.functions.GraftExtensions, or use Dedup.incremental")
    // fp feeds both the sketch job and the verdict join; persist so the
    // fingerprint pass over the batch runs once (caller owns the cache —
    // clearCache between pipeline stages, as Bench does per query)
    val fp = batchFingerprints(batch).persist()
    val blob = fp.agg(call_function("graft_bloom_agg",
        hash60(col("fingerprint")), lit(numBits), lit(numHashes)).as("bloom"))
      .head().getAs[Array[Byte]](0)
    val pruned = ledger.where(call_function("graft_might_contain",
      lit(blob), hash60(col("fingerprint"))))
    incrementalVerdicts(fp, pruned)
  }

  private def batchFingerprints(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  private def incrementalVerdicts(fp: DataFrame, ledger: DataFrame): DataFrame = {
    val w = Window.partitionBy("fingerprint")
    fp.withColumn("first_in_batch", min("doc_id").over(w))
      .join(ledger.select(col("fingerprint"), lit(true).as("in_ledger"))
        .distinct(), Seq("fingerprint"), "left")
      .select(col("doc_id"), col("fingerprint"),
        when(col("in_ledger"), "ledger_dup")
          .when(col("doc_id") =!= col("first_in_batch"), "batch_dup")
          .otherwise("admitted").as("verdict"))
  }

  /** N-gram Jaccard near-dup pairs. Candidates = documents sharing a *rare*
    * shingle (appearing in at most `maxDf` docs) — the bucket-join guard
    * that keeps fan-out bounded at scale. Pairs with
    * 100*|A∩B| >= threshold*|A∪B| survive. */
  def ngramJaccardPairs(docs: DataFrame, w: Int = 3, maxDf: Int = 10,
                        thresholdPct: Int = 30): DataFrame = {
    // the hashed-shingle relation feeds every downstream join — materialize
    // the compact per-doc arrays once; consumers (sizes, two explode sides,
    // the rare-shingle filter) re-derive from it with cheap narrow ops.
    // Shingles enter the joins as 60-bit md5 hashes: candidate and
    // intersection joins run on BIGINT keys instead of multi-word strings —
    // far less shuffle volume and cheaper probes. The DuckDB oracle hashes
    // identically, so even md5 collisions (~2^-60) agree across engines.
    //
    // Widened (util.Par scaladoc): the shingle build plus the downstream
    // full-corpus shingle EXPLODE (the df pass and both candidate arms
    // read this cache with narrow ops) is the heaviest narrow CPU in the
    // dedup family, and a compact single-row-group corpus file scans as
    // ONE real task — measured 3.4 s single-threaded of the sf0.1 wall,
    // ~0.9 s once spread. The other hashedShingleDf callers stay unwidened
    // on purpose: their per-call shingle work is small and the extra
    // exchange + 32-task stages measurably LOSE on batch-sized inputs
    // (dedup_index_refresh 2.0 -> 4.5 s in the same A/B that won here).
    // EAGER cache fill, not a lazy persist: the downstream consumers are
    // independent map stages of one AQE job (the df aggregate, both
    // candidate arms, both jaccardPairs sides) and they LAUNCH concurrently
    // — racing a lazy cache means several of them recompute the whole
    // tokenize+md5 shingle build before the blocks land (measured at 100x:
    // two concurrent 61 task-s builds of identical work). The count()
    // materializes the COLUMNAR cache up front, so every consumer reads
    // blocks. (An eager localCheckpoint was measured instead and rejected:
    // it stores row-based blocks — several times the columnar cache's
    // footprint for these array rows — and regressed the 100x run 6 -> 22 s
    // under the resulting memory pressure.)
    // Cache lifetime: the returned lazy DataFrame reads this cache, so it
    // cannot be unpersisted here — the caller owns it (consume the result,
    // then `spark.catalog.clearCache()` between pipeline stages, as Bench
    // does per query; otherwise LRU eviction reclaims it).
    val hdf = hashedShingleDf(graft.util.Par.widen(docs), w).persist()
    hdf.count()
    val ex = hdf.select(col("doc_id"), explode(col("hs")).as("s"))
    val rare = ex.groupBy("s").agg(count(lit(1)).as("df")).where(col("df") <= maxDf)
    val rareEx = ex.join(rare.select("s"), "s")
    val cand = rareEx.toDF("s", "doc_a")
      .join(rareEx.toDF("s", "doc_b"), "s")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    jaccardPairs(cand, hdf, hdf, thresholdPct)
  }

  /** Sorted-neighborhood near-dup pairs — the third classic blocking
    * family beside hash-banding (MinHash-LSH) and symmetric deletion
    * (the fuzzy join): sort the corpus by a normalized key, compare each
    * record only to its `window - 1` successors in that order. Catches
    * the "same document, tiny head edit" class with a candidate set of
    * |corpus| x (window - 1) — independent of how hot any one shingle
    * is, which is exactly where df-capped shingle blocking drops pairs.
    *
    * Scalable shape: the sort runs per BUCKET (a short prefix of the
    * key), so ranking is a per-bucket window, not a single-task global
    * sort; neighbor pairing is an equi-join on (bucket, rank + d) built
    * by exploding the d = 1..window-1 offsets. The standard cross-bucket
    * blind spot (neighbors straddling a prefix boundary, e.g. a HEAD
    * edit that lands the near-dup in a different bucket) is closed the
    * way the literature prescribes — multi-pass SNM with rotated keys:
    * pass 2 keys on the REVERSED normalized text, so tail-identical/
    * head-edited docs sort adjacent there, and pass 3 on the
    * MID-ROTATION (`nt[mid:] || nt[:mid]`, mid = floor(len/2)) — the
    * completeness step for docs edited at BOTH ends, which neither the
    * head- nor the tail-anchored key sees (the 2-pass form's spec-pinned
    * blind spot). All candidate sets union before the single
    * verification pass. `passes = 3` is the default; 2 and 1 keep the
    * cheaper forms (their blind spots are spec-pinned). Verification is
    * the shared exact-Jaccard primitive over hashed shingles. */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 4,
      prefixLen: Int = 2, thresholdPct: Int = 30,
      passes: Int = 3): DataFrame = {
    require(window >= 2, s"window >= 2, got $window")
    require(passes >= 1 && passes <= 3, s"passes in {1, 2, 3}, got $passes")
    import org.apache.spark.sql.expressions.Window
    // every pass's key derives from the SAME normalized projection — one
    // corpus scan + one regex pass feed all three key derivations (the
    // 3-pass form would otherwise re-read the text column and re-run the
    // whitespace regex per pass; measured ~25% of the sf0.1 wall).
    // All caches below are RELEASED before returning: the verified pairs
    // are eagerly materialized (localCheckpoint), so repeated calls do
    // not accumulate corpus-sized cache entries.
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val ntDf = docs
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("nt"))
      .persist()
    caches += ntDf
    val nt = col("nt")
    // one pass: rank within prefix buckets of the given key, pair each
    // row with its window-1 successors
    def passCandidates(skExpr: Column): DataFrame = {
      val keyed = ntDf.select(col("doc_id"), skExpr.as("sk"))
        .where(length(col("sk")) > 0)
        .withColumn("bucket", substring(col("sk"), 1, prefixLen))
      // persisted: both sides of the neighbor join read the ranked
      // relation; without the cache each arm re-runs the scan + rank
      // window (seen in the r8 plan audit)
      val ranked = keyed.withColumn("rn", row_number().over(
          Window.partitionBy("bucket").orderBy(col("sk"), col("doc_id"))))
        .persist()
      caches += ranked
      val left = ranked.select(col("bucket"), col("doc_id").as("id_l"),
          explode(sequence(col("rn") + 1, col("rn") + (window - 1)))
            .as("rn_match"))
      left.join(
          ranked.select(col("bucket"), col("rn").as("rn_match"),
            col("doc_id").as("id_r")),
          Seq("bucket", "rn_match"))
        .select(least(col("id_l"), col("id_r")).as("doc_a"),
          greatest(col("id_l"), col("id_r")).as("doc_b"))
    }
    val cand0 = passCandidates(substring(nt, 1, 32))
    // pass-3 key: first 32 chars of the mid-rotated text. floor-half via
    // double division + int cast (non-negative lengths), the same value
    // DuckDB's `length(nt) // 2` floors to — the oracle re-derives the key
    val half = (length(nt) / 2).cast("int")
    val rotated = concat(
      nt.substr(half + lit(1), length(nt)), nt.substr(lit(1), half))
    val cand = (if (passes == 1) cand0
      else if (passes == 2)
        cand0.union(passCandidates(substring(reverse(nt), 1, 32)))
      else
        cand0.union(passCandidates(substring(reverse(nt), 1, 32)))
          .union(passCandidates(substring(rotated, 1, 32))))
      .distinct()
    val hdf = hashedShingleDf(docs).persist()
    caches += hdf
    val out = jaccardPairs(cand, hdf, hdf, thresholdPct)
      .localCheckpoint(true) // pairs-sized; cuts lineage to the caches
    caches.foreach(_.unpersist(false))
    out
  }

  /** Deterministic permutation constants from the shared 31-bit LCG. */
  private def lcg(x: Long): Long = (1103515245L * x + 12345L) % 2147483648L
  def permA(j: Int): Long = 1 + lcg(j * 2L + 1) % (P - 1)
  def permB(j: Int): Long = lcg(j * 2L + 2) % P

  /** MinHash signature (numPerms mins over the shingle-hash set) computed
    * in a *single* aggregate pass over the shingle array — one traversal
    * updates all permutation minima at once (numPerms separate array_min
    * scans would materialize numPerms intermediate arrays per row). */
  def minhashSignature(sh: Column, numPerms: Int): Column = {
    val ab = array((0 until numPerms).map(j =>
      struct(lit(permA(j)).as("a"), lit(permB(j)).as("b"))): _*)
    val init = transform(ab, _ => lit(Long.MaxValue))
    val hs = transform(sh, s => hash60(s) % P)
    aggregate(hs, init, (acc, h) =>
      zip_with(acc, ab, (m, c) =>
        least(m, (c.getField("a") * h + c.getField("b")) % P)))
  }

  /** MinHash minima of one shingle-hash array: slot `j` is the minimum of
    * `(as(j) * (h % P) + bs(j)) % P` over `hs` (`Long.MaxValue` when `hs` is
    * empty). The per-row kernel under [[minhashBandKeys]]. */
  private def minhashMins(hs: Array[Long], as: Array[Long],
                          bs: Array[Long]): Array[Long] = {
    val numPerms = as.length
    val mins = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i) % P
      var j = 0
      while (j < numPerms) {
        val v = (as(j) * h + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  /** The MinHash-LSH band keyer: maps one shingle-hash array to its
    * `bands` fused bucket keys `"<band>:<k1>_<k2>_…"`, band `b` joining
    * the `r = numPerms / bands` [[minhashMins]] from slot `b * r`. The
    * only spelling of a MinHash bucket key: [[minhashLshPairs]] and the
    * [[NearDupIndex]] build, refresh and probe (batch or streaming) all
    * key through it. It closes over the permutation constants only, so it
    * ships to executors and runs inside their row loops. */
  private[graft] def minhashBandKeys(numPerms: Int, bands: Int)
      : Array[Long] => Array[String] = {
    val as = Array.tabulate(numPerms)(permA)
    val bs = Array.tabulate(numPerms)(permB)
    val r = numPerms / bands
    hs => {
      val mins = minhashMins(hs, as, bs)
      Array.tabulate(bands)(b =>
        s"$b:${mins.slice(b * r, b * r + r).mkString("_")}")
    }
  }

  /** (doc_id, bkey): one row per LSH band of each document of a
    * hashed-shingle relation `(doc_id, hs)`, keyed by [[minhashBandKeys]]
    * in a tight primitive loop per partition (one traversal updates all
    * permutation minima; identical values to [[minhashSignature]], ~10x
    * faster than interpreted HOF evaluation). */
  private def minhashBandDf(hdf: DataFrame, numPerms: Int,
                            bands: Int): DataFrame = {
    val spark = hdf.sparkSession
    import spark.implicits._
    val keys = minhashBandKeys(numPerms, bands)
    hdf.as[(Long, Array[Long])]
      .flatMap { case (docId, hs) => keys(hs).map(k => (docId, k)) }
      .toDF("doc_id", "bkey")
  }

  /** MinHash+LSH near-dup candidate pairs with exact-Jaccard verification.
    * bands x rowsPerBand = signature length; a pair collides when any band
    * matches exactly. `maxBucket` caps degenerate buckets (boilerplate
    * shingle sets) so the within-bucket pair join stays bounded. */
  def minhashLshPairs(docs: DataFrame, numPerms: Int = 32, bands: Int = 8,
                      maxBucket: Int = 64, thresholdPct: Int = 30,
                      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    // caller-owned cache lifetime — see the note in ngramJaccardPairs
    val hdf = hashedShingleDf(docs).persist()
    val buckets = capBuckets(
      minhashBandDf(hdf, numPerms, bands)
        .groupBy("bkey").agg(collect_list("doc_id").as("ids")),
      maxBucket, "minhash_lsh", droppedBuckets)
    val cand = buckets
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .distinct()
    jaccardPairs(cand, hdf, hdf, thresholdPct)
      .select("doc_a", "doc_b", "jaccard_pct")
  }

  /** The posting core both banded tiers ([[NearDupIndex]],
    * [[HammingIndex]]) are built through: `(bkey, item...)` rows, one per
    * band of each ledger item, grouped into `bkey -> ids` postings
    * (`ids = collect_list(item)`). A bucket over `maxBucket` is dropped
    * whole into the `graft.<site>.*` accumulators ([[capBuckets]]) and its
    * key kept as a TOMBSTONE in `dropped`, so [[mergePostings]] decides it
    * exactly as a from-scratch rebuild would (a merged bucket is a
    * superset of one that already exceeded the cap).
    *
    * `probe` (any relation with a `bkey` column) first semi-joins the rows
    * against its distinct keys, broadcast, before any wide exchange: a
    * one-shot admission builds only the buckets its batch touches, and the
    * accumulators count exactly the over-cap ones among them. The prune
    * selects whole buckets, so caps are prune-invariant and a pruned build
    * probes the same as the full one. A standing (unpruned) index's
    * relations are persisted and materialized before returning. */
  private def postings(rows: DataFrame, item: Column, maxBucket: Int,
                       site: String, droppedBuckets: Option[LongAccumulator],
                       probe: Option[DataFrame]): (DataFrame, DataFrame) = {
    val kept = probe.fold(rows)(p =>
      rows.join(broadcast(p.select("bkey").distinct()), "bkey"))
    val grouped = kept.groupBy("bkey").agg(collect_list(item).as("ids"))
    val buckets = capBuckets(grouped, maxBucket, site, droppedBuckets,
      minSize = 1)
    val dropped = grouped.where(size(col("ids")) > maxBucket).select("bkey")
    // a pruned one-shot index is read once, by its own probe: left lazy, it
    // plans into that probe's job instead of adding materialization jobs
    if (probe.isEmpty) {
      grouped.persist(); buckets.persist(); dropped.persist()
      buckets.count(); dropped.count()
      grouped.unpersist(false)
    }
    (buckets, dropped)
  }

  /** Merge a batch's `(bkey, item...)` rows into standing [[postings]]
    * with rebuild-exact caps (`merge(build(L), B) == build(L ∪ B)`): rows
    * under a tombstoned key stay dropped, and a kept bucket the merge
    * pushes over `maxBucket` is dropped whole and tombstoned. Only the
    * batch's side exchanges; the full outer join reuses the standing
    * buckets' `bkey` partitioning. The new (buckets, dropped) are
    * materialized before returning, so the caller can release the old
    * ones immediately. */
  private def mergePostings(buckets: DataFrame, dropped: DataFrame,
                            rows: DataFrame, item: Column,
                            maxBucket: Int): (DataFrame, DataFrame) = {
    val emptyIds = array().cast(buckets.schema("ids").dataType)
    val newPosts = rows.groupBy("bkey").agg(collect_list(item).as("new_ids"))
      .join(dropped, Seq("bkey"), "left_anti")
    val merged = buckets.join(newPosts, Seq("bkey"), "full_outer")
      .select(col("bkey"), concat(coalesce(col("ids"), emptyIds),
        coalesce(col("new_ids"), emptyIds)).as("ids"))
      .persist()
    val buckets2 = merged.where(size(col("ids")) <= maxBucket).persist()
    val dropped2 = dropped
      .union(merged.where(size(col("ids")) > maxBucket).select("bkey"))
      .persist()
    buckets2.count(); dropped2.count()
    merged.unpersist(false)
    (buckets2, dropped2)
  }

  /** Write one generation of a banded index under `dir`, the
    * [[Ivf.saveIndex]] discipline: a generation OUTLIVES the process that
    * built it; its relations are written concurrently and one atomic
    * [[IndexGen.publish]] pointer rename publishes them together.
    * `buckets/` and `dropped/` (the tombstones — losing
    * them would resurrect capped-out buckets on the next refresh) are
    * range-clustered on `bkey`, so a probe batch's bucket lookup prunes;
    * `meta/` is one row of build hyperparameters; each `extra`
    * `(name, relation, key)` is a tier relation clustered on `key`. */
  private def savePostings(dir: String, nFiles: Int, buckets: DataFrame,
                           dropped: DataFrame, meta: DataFrame,
                           extra: (String, DataFrame, String)*): Unit = {
    def clustered(name: String, df: DataFrame, key: String, n: Int)(gen: String): Unit =
      df.repartitionByRange(n, col(key)).sortWithinPartitions(key)
        .write.mode("overwrite").parquet(s"$gen/$name")
    IndexGen.publish(buckets.sparkSession, dir)(Seq[String => Unit](
      clustered("buckets", buckets, "bkey", nFiles),
      clustered("dropped", dropped, "bkey", math.max(1, nFiles / 4)),
      gen => meta.coalesce(1).write.mode("overwrite").parquet(s"$gen/meta")) ++
      extra.map { case (name, df, key) => clustered(name, df, key, nFiles) _ }: _*)
  }

  /** Read the generation [[savePostings]] last published under `dir`:
    * its path (for the tier's own relations), its meta row, and the
    * persisted `buckets` and `dropped` relations. ONE generation serves
    * the whole load. */
  private def loadPostings(spark: SparkSession, dir: String)
      : (String, Row, DataFrame, DataFrame) = {
    val cur = IndexGen.resolve(dir)
    (cur, spark.read.parquet(s"$cur/meta").head(),
      spark.read.parquet(s"$cur/buckets").select("bkey", "ids").persist(),
      spark.read.parquet(s"$cur/dropped").select("bkey").persist())
  }

  /** Incremental near-dup admission: each BATCH document checked for
    * MinHash-LSH near-duplicates against a standing LEDGER corpus — the
    * ingest-time question ("is this new document a near-copy of anything
    * the corpus already holds?"), the near-dup twin of [[incremental]]'s
    * exact-fingerprint admission. One row per batch doc:
    * `(doc_id, verdict admitted|near_dup, near_dup_of, jaccard_pct)` with
    * the best match = highest exact Jaccard, ties to the smallest ledger
    * id. Within-batch near-dups are [[minhashLshPairs]]'s job — compose
    * both for full ingest hygiene.
    *
    * A one-shot [[NearDupIndex]]: the ledger's index, pruned to the
    * batch's own band keys ([[postings]]), is probed as [[indexNearDup]]
    * probes a standing index, then released. The [[incrementalBloom]]
    * asymmetry, banded: the ledger never moves whole, and its work tracks
    * the buckets the batch touches, not the 100 TB corpus. Over-cap
    * buckets the batch touches (boilerplate shingle sets) are dropped
    * whole into the `graft.incr_neardup.*` accumulators; the verdicts equal
    * probing the unpruned index. Exact-Jaccard verification removes every
    * LSH false positive (precision exact; recall = banding recall). The
    * batch is shingled once, and the batch-sized verdicts are
    * materialized before the caches are released. */
  def incrementalNearDup(batch: DataFrame, ledger: DataFrame,
                         numPerms: Int = 32, bands: Int = 8,
                         maxBucket: Int = 64, thresholdPct: Int = 30,
                         droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val bh = hashedShingleDf(batch).persist()
    val bKeys = minhashBandDf(bh, numPerms, bands)
    val index = nearDupIndex(ledger, numPerms, bands, maxBucket, thresholdPct,
      "incr_neardup", droppedBuckets, Some(bKeys))
    val out = probeNearDup(batch, bh, bKeys, index)
    index.release(); bh.unpersist()
    out
  }

  /** Verdicts of `batch` (shingles `bh`, band keys `bKeys`) against
    * `index` — the probe of [[incrementalNearDup]] and [[indexNearDup]]:
    * candidates from one equi-join on `bkey`, exact-Jaccard verification,
    * best match = highest Jaccard with ties to the smallest ledger id. The
    * batch-sized result is materialized so callers can release the shingle
    * caches and the index deterministically. */
  private def probeNearDup(batch: DataFrame, bh: DataFrame, bKeys: DataFrame,
                           index: NearDupIndex): DataFrame = {
    val cand = bKeys.join(index.buckets, "bkey")
      .select(col("doc_id").as("doc_a"), explode(col("ids")).as("doc_b"))
      .distinct()
    val best = jaccardPairs(cand, bh, index.shingles, index.thresholdPct)
      .groupBy(col("doc_a").as("doc_id"))
      // lexicographic struct max: highest jaccard, then min ledger id
      .agg(max(struct(col("jaccard_pct"), (-col("doc_b")).as("neg_id"))).as("m"))
      .select(col("doc_id"), (-col("m.neg_id")).as("near_dup_of"),
        col("m.jaccard_pct").as("jaccard_pct"))
    admissionVerdicts(batch, best, Nil, "jaccard_pct").localCheckpoint(true)
  }

  /** One verdict row per `batch` row (keyed by `partitionCols` and
    * `doc_id`): `near_dup` with its best match's `near_dup_of` and `score`
    * column where `best` has one, else `admitted` with NULLs. */
  private def admissionVerdicts(batch: DataFrame, best: DataFrame,
                                partitionCols: Seq[String],
                                score: String): DataFrame = {
    val keys = partitionCols :+ "doc_id"
    batch.select(keys.map(col): _*)
      .join(best, keys, "left")
      .select(keys.map(col) ++ Seq(
        when(col("near_dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("admitted")).as("verdict"),
        col("near_dup_of"), col(score)): _*)
  }

  /** Prebuilt MinHash-LSH ledger index for repeated near-dup admission:
    * `buckets` = capped `(bkey, ids)` postings and `dropped` = the `bkey`
    * tombstones of capped-out buckets ([[postings]]), keyed by the one
    * fused spelling `"<band>:<k1>_<k2>_…"` of [[minhashBandKeys]], so a
    * probe is a single-column equi-join;
    * `shingles` = `(doc_id, hs)` for exact-Jaccard verification. The
    * relations are persisted at build time (they are reused per admission
    * batch / micro-batch); call [[release]] when done. At fleet scale this
    * is the materialize-once artifact a 100 TB corpus maintains next to
    * itself — admission cost then tracks the batch, never the corpus. */
  final case class NearDupIndex(buckets: DataFrame, shingles: DataFrame,
                                numPerms: Int, bands: Int, thresholdPct: Int,
                                maxBucket: Int, dropped: DataFrame) {
    def release(): Unit = {
      buckets.unpersist(); shingles.unpersist(); dropped.unpersist()
    }
  }

  /** The [[NearDupIndex]] of `ledger`, pruned to `probe`'s keys when one
    * is given ([[postings]]): the build behind [[buildNearDupIndex]] and
    * the one-shot [[incrementalNearDup]]. */
  private def nearDupIndex(ledger: DataFrame, numPerms: Int, bands: Int,
      maxBucket: Int, thresholdPct: Int, site: String,
      droppedBuckets: Option[LongAccumulator],
      probe: Option[DataFrame]): NearDupIndex = {
    val lh = hashedShingleDf(ledger).persist()
    val (buckets, dropped) = postings(minhashBandDf(lh, numPerms, bands),
      col("doc_id"), maxBucket, site, droppedBuckets, probe)
    NearDupIndex(buckets, lh, numPerms, bands, thresholdPct, maxBucket,
      dropped)
  }

  /** Build a [[NearDupIndex]] from a ledger corpus: caps are applied and
    * capped-out keys tombstoned at build time ([[postings]]). */
  def buildNearDupIndex(ledger: DataFrame, numPerms: Int = 32, bands: Int = 8,
                        maxBucket: Int = 64, thresholdPct: Int = 30,
                        droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : NearDupIndex =
    nearDupIndex(ledger, numPerms, bands, maxBucket, thresholdPct,
      "neardup_index", droppedBuckets, None)

  /** Incremental maintenance of a standing [[NearDupIndex]]: append an
    * admitted batch's shingles and band postings WITHOUT rebuilding from
    * the corpus — `refreshNearDupIndex(build(L), B) == build(L ∪ B)`
    * relation-for-relation (DedupSpec pins it, dropped-bucket transitions
    * included; the `dedup_index_refresh` oracle gate exercises this path
    * end-to-end against a from-scratch DuckDB rederivation). Postings
    * merge by [[mergePostings]]; the 100 TB corpus never re-shingles. The
    * new relations are materialized, so the caller can `release()` the old
    * index immediately. Long refresh chains should still rebuild
    * periodically (compaction): each refresh adds one union to the
    * shingle/tombstone lineage. */
  def refreshNearDupIndex(index: NearDupIndex, admitted: DataFrame)
      : NearDupIndex = {
    val bh = hashedShingleDf(admitted).persist()
    val (buckets, dropped) = mergePostings(index.buckets, index.dropped,
      minhashBandDf(bh, index.numPerms, index.bands), col("doc_id"),
      index.maxBucket)
    val shingles = index.shingles.union(bh).persist()
    shingles.count()
    bh.unpersist(false)
    index.copy(buckets = buckets, shingles = shingles, dropped = dropped)
  }

  /** Persist a standing [[NearDupIndex]] under `dir` as one
    * [[savePostings]] generation: `buckets/` and `dropped/` keyed on
    * `bkey`, `meta/` (num_perms, bands, threshold_pct, max_bucket), plus
    * `shingles/` (the exact-Jaccard verification side, doc_id-clustered). */
  def saveNearDupIndex(index: NearDupIndex, dir: String,
                       nFiles: Int = 16): Unit = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    val meta = Seq((index.numPerms, index.bands, index.thresholdPct,
        index.maxBucket))
      .toDF("num_perms", "bands", "threshold_pct", "max_bucket")
    savePostings(dir, nFiles, index.buckets, index.dropped, meta,
      ("shingles", index.shingles, "doc_id"))
  }

  /** Load a [[saveNearDupIndex]] directory into a servable standing
    * index: `loadNearDupIndex(save(idx)) == idx` relation-for-relation
    * and hyperparameter-for-hyperparameter (DedupSpec pins buckets,
    * shingles, AND tombstones through the round-trip; the
    * `dedup_index_persisted` oracle gate refreshes + admits on TOP of a
    * loaded index against the in-memory chain's DuckDB rederivation, so
    * a round-trip that loses a posting, a shingle row, or a tombstone
    * fails the hash). Relations are persisted (they are the hot working
    * set, reused per admission batch); release() as usual. */
  def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): NearDupIndex = {
    val (cur, meta, buckets, dropped) = loadPostings(spark, dir)
    val shingles = spark.read.parquet(s"$cur/shingles")
      .select("doc_id", "hs").persist()
    NearDupIndex(buckets, shingles,
      meta.getAs[Int]("num_perms"), meta.getAs[Int]("bands"),
      meta.getAs[Int]("threshold_pct"), meta.getAs[Int]("max_bucket"),
      dropped)
  }

  /** Near-dup admission against a standing [[NearDupIndex]], emitting
    * [[incrementalNearDup]]-shaped verdicts; streaming admission
    * ([[graft.streaming.StreamingNearDup]]) runs it on every micro-batch.
    * Candidates come from the index's pre-capped postings (one equi-join
    * on `bkey`), verification from its shingle relation; admission cost
    * tracks the batch, never the corpus. */
  def indexNearDup(batch: DataFrame, index: NearDupIndex): DataFrame = {
    val bh = hashedShingleDf(batch).persist()
    val out = probeNearDup(batch, bh,
      minhashBandDf(bh, index.numPerms, index.bands), index)
    bh.unpersist()
    out
  }

  /** 60-bit SimHash per document (docs with at least one token): per bit,
    * majority vote of token-hash bits, computed entirely with array
    * higher-order functions — one narrow projection, no explode. Bit
    * extraction uses a powers-of-two literal array + bitwiseAND (column
    * shift amounts are not supported by shiftright). */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, toks) =>
          val counts = new Array[Int](60)
          toks.foreach { t =>
            val h = md5Top60(md, t)
            var b = 0
            while (b < 60) {
              if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
              b += 1
            }
          }
          var sim = 0L
          var b = 0
          while (b < 60) { if (counts(b) >= 0) sim |= 1L << b; b += 1 }
          (docId, sim)
        }
      }.toDF("doc_id", "simhash")
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming.
    *
    * Candidate generation bands the 60-bit signature into `bands` chunks of
    * `bandBits` bits; by pigeonhole, any pair within hamming distance
    * `bands - 1` shares at least one identical band, so with the defaults
    * (4 x 15 bits, maxHamming 3) banding itself loses nothing. Recall is
    * exact *up to the `maxBucket` cap*: a bucket larger than `maxBucket`
    * (a degenerate near-identical cluster) is dropped whole to bound the
    * pairing fan-out, sacrificing that cluster's pairs — the same
    * deliberate guard as the MinHash path; raise `maxBucket` for exact
    * recall on clustered corpora. Verification is the codegen'd
    * `bit_count(xor)` builtin — no UDF. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bands: Int = 4,
                   bandBits: Int = 15, maxBucket: Int = 64,
                   droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    bandedHammingPairs(simhash(docs).withColumnRenamed("simhash", "sig"),
      maxHamming, bands, bandBits, maxBucket, Nil, droppedBuckets)

  /** Banded hamming-distance pairing over precomputed bit signatures —
    * the candidate-generation core shared by [[simhashPairs]] (60-bit
    * text simhash) and the perceptual-hash media pairs (64-bit
    * dHash/waveform hash, `Multimodal.perceptualHashes`).
    *
    * `sigs` is `(partitionCols..., doc_id, sig)`; buckets group on the
    * fused [[HammingIndex]] key ([[fusedBandKeys]]), so pairs are
    * generated only within equal `partitionCols` values (e.g. media kind
    * — an image dHash and an audio waveform hash are different modalities
    * and must never pair, even on a bit collision); the partition columns
    * ride along the grouping so the pairs keep them. By pigeonhole, any
    * pair within hamming distance `bands - 1` shares at least one
    * identical band, so banding itself loses nothing at
    * `maxHamming <= bands - 1`; recall is exact up to the `maxBucket`
    * cap (degenerate buckets dropped whole, counted in the
    * `graft.hamming.*` accumulators — the same guard as the MinHash
    * path). Verification is the codegen'd `bit_count(xor)` builtin — no
    * UDF. */
  def bandedHammingPairs(sigs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, bandBits: Int = 16, maxBucket: Int = 64,
      partitionCols: Seq[String] = Nil,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val pcols = partitionCols.map(col)
    val buckets = capBuckets(
      hammingKeyed(sigs, partitionCols, bands, bandBits)
        .groupBy(pcols :+ col("bkey"): _*)
        .agg(collect_list(sigItem).as("ids")),
      maxBucket, "hamming", droppedBuckets)
    hammingMatches(buckets
        .select(pcols ++ Seq(explode(col("ids")).as("a"), col("ids")): _*)
        .select(pcols ++ Seq(col("a.doc_id").as("doc_a"),
          col("a.sig").as("sig_a"), col("ids")): _*),
        pcols, maxHamming, col("doc_a") < col("doc_b"))
      .select(pcols ++ Seq(col("doc_a"), col("doc_b"), col("hamming")): _*)
  }

  /** `(pcols..., doc_a, sig_a, doc_b, sig_b, hamming)`: each
    * `(pcols..., doc_a, sig_a, ids)` row paired with every posting in its
    * `ids` that passes `pairFilter`, distinct, then verified by the
    * codegen'd `bit_count(xor)` builtin to within `maxHamming`. */
  private def hammingMatches(rows: DataFrame, pcols: Seq[Column],
                             maxHamming: Int, pairFilter: Column): DataFrame =
    rows
      .select(pcols ++ Seq(col("doc_a"), col("sig_a"),
        explode(col("ids")).as("b")): _*)
      .select(pcols ++ Seq(col("doc_a"), col("sig_a"),
        col("b.doc_id").as("doc_b"), col("b.sig").as("sig_b")): _*)
      .where(pairFilter)
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)

  /** Incremental hamming admission over precomputed bit signatures:
    * each BATCH row checked for ledger signatures within `maxHamming`
    * — the signature-space twin of [[incrementalNearDup]]'s
    * MinHash admission, used by the perceptual-hash media path (a
    * re-crawl admitted only if no standing media is perceptually
    * near-identical) and equally applicable to simhash.
    *
    * The [[incrementalNearDup]] composition: a one-shot [[HammingIndex]]
    * of the ledger, pruned to the batch's own fused keys ([[postings]]),
    * is probed as [[indexHammingDedup]] probes a standing index, then
    * released, so ledger work tracks the buckets the batch touches — not
    * the standing corpus. Over-cap buckets the batch touches are dropped
    * whole into the `graft.incr_hamming.*` accumulators. Verdict per batch
    * row: best match = minimum hamming, ties to the smallest ledger id;
    * rows with no in-distance match are `admitted`. The batch-sized
    * verdicts are materialized before the index is released. */
  def incrementalHammingDedup(batch: DataFrame, ledger: DataFrame,
      maxHamming: Int = 3, bands: Int = 4, bandBits: Int = 16,
      maxBucket: Int = 64, partitionCols: Seq[String] = Nil,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val probe = hammingKeyed(batch, partitionCols, bands, bandBits)
    val index = hammingIndex(ledger, maxHamming, bands, bandBits, maxBucket,
      partitionCols, "incr_hamming", droppedBuckets, Some(probe))
    val out = probeHamming(batch, probe, index).localCheckpoint(true)
    index.release()
    out
  }

  /** A hamming posting's item: the signature travels with its id. */
  private def sigItem: Column = struct(col("doc_id"), col("sig"))

  /** `(partitionCols..., doc_id, sig, bkey)`: one row per band of each
    * signature in `sigs`, keyed by [[fusedBandKeys]] — the rows every
    * hamming build, refresh, probe and pairing groups or joins on. */
  private def hammingKeyed(sigs: DataFrame, partitionCols: Seq[String],
                           bands: Int, bandBits: Int): DataFrame =
    sigs.select(partitionCols.map(col) ++ Seq(col("doc_id"), col("sig"),
      explode(fusedBandKeys(partitionCols, bands, bandBits, col("sig")))
        .as("bkey")): _*)

  /** Verdicts of `batch` (its [[hammingKeyed]] rows `probe`) against
    * `index` — the probe of [[incrementalHammingDedup]] and
    * [[indexHammingDedup]]: candidates from one equi-join on `bkey`, best
    * match = lowest hamming within `maxHamming`, ties to the smallest
    * ledger id. */
  private def probeHamming(batch: DataFrame, probe: DataFrame,
                           index: HammingIndex): DataFrame = {
    val partitionCols = index.partitionCols
    val pcols = partitionCols.map(col)
    val best = hammingMatches(probe.join(index.buckets, "bkey")
        .select(pcols ++ Seq(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("ids")): _*),
        pcols, index.maxHamming, lit(true))
      .groupBy(pcols :+ col("doc_a").as("doc_id"): _*)
      // lexicographic struct min: lowest hamming, then smallest ledger id
      .agg(min(struct(col("hamming"), col("doc_b"))).as("m"))
      .select(pcols ++ Seq(col("doc_id"), col("m.doc_b").as("near_dup_of"),
        col("m.hamming").as("hamming")): _*)
    admissionVerdicts(batch, best, partitionCols, "hamming")
  }

  /** Prebuilt banded hamming ledger index for repeated signature
    * admission — the [[NearDupIndex]] analogue for bit signatures
    * ([[incrementalHammingDedup]]'s standing side, and the index
    * `streaming.StreamingMediaDedup` serves). `buckets` holds capped
    * `(bkey, ids: [(doc_id, sig)])` postings and `dropped` the `bkey`
    * tombstones ([[postings]]), with the partition columns and band index
    * FUSED into one string key (`kind:band:key`), so a probe is a
    * single-column equi-join. `partitionCols` records the columns fused
    * into the key at build time, and [[fusedBandKeys]] (exposed as
    * [[HammingIndex.probeKeys]]) is the one place that fuses it: a probe
    * keyed on different columns would silently match zero postings and
    * admit everything. Persisted at build (reused per admission batch);
    * call [[release]] when done. */
  final case class HammingIndex(buckets: DataFrame, maxHamming: Int,
                                bands: Int, bandBits: Int,
                                partitionCols: Seq[String],
                                maxBucket: Int, dropped: DataFrame) {
    /** The `bkey`s of signature `sig`, one per band: the
      * [[fusedBandKeys]] that build, refresh and every batch probe key
      * on, under this index's own parameters, so a stream probe cannot
      * drift from them. */
    def probeKeys(sig: Column): Column =
      fusedBandKeys(partitionCols, bands, bandBits, sig)
    def release(): Unit = { buckets.unpersist(); dropped.unpersist() }
  }

  /** The fused `partitionCols...:band:key` strings of `sig` — the only
    * spelling of a [[HammingIndex]] posting key. Band `b`'s key is the
    * `bandBits` bits from bit `b * bandBits` up; `shiftright` is
    * arithmetic, so the mask also strips the sign extension a negative
    * 64-bit signature would smear. */
  private def fusedBandKeys(partitionCols: Seq[String], bands: Int,
                            bandBits: Int, sig: Column): Column =
    array((0 until bands).map { b =>
      concat_ws(":", partitionCols.map(col) ++ Seq(lit(b),
        shiftright(sig, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))): _*)
    }: _*)

  /** The [[HammingIndex]] of ledger signatures, pruned to `probe`'s keys
    * when one is given ([[postings]]): the build behind
    * [[buildHammingIndex]] and the one-shot [[incrementalHammingDedup]]. */
  private def hammingIndex(ledger: DataFrame, maxHamming: Int, bands: Int,
      bandBits: Int, maxBucket: Int, partitionCols: Seq[String], site: String,
      droppedBuckets: Option[LongAccumulator],
      probe: Option[DataFrame]): HammingIndex = {
    val (buckets, dropped) = postings(
      hammingKeyed(ledger, partitionCols, bands, bandBits), sigItem,
      maxBucket, site, droppedBuckets, probe)
    HammingIndex(buckets, maxHamming, bands, bandBits, partitionCols,
      maxBucket, dropped)
  }

  /** Build a [[HammingIndex]] from ledger signatures
    * `(partitionCols..., doc_id, sig)`. Caps are applied at build time and
    * capped-out keys tombstoned — the [[buildNearDupIndex]] argument. */
  def buildHammingIndex(ledger: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, bandBits: Int = 16, maxBucket: Int = 64,
      partitionCols: Seq[String] = Nil,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : HammingIndex =
    hammingIndex(ledger, maxHamming, bands, bandBits, maxBucket,
      partitionCols, "hamming_index", droppedBuckets, None)

  /** Incremental maintenance of a standing [[HammingIndex]] — the bit-
    * signature twin of [[refreshNearDupIndex]] through the same
    * [[mergePostings]]: `refreshHammingIndex(build(L), B) == build(L ∪ B)`
    * (DedupSpec pins it). `admitted` is `(partitionCols..., doc_id, sig)`
    * like the build input. */
  def refreshHammingIndex(index: HammingIndex, admitted: DataFrame)
      : HammingIndex = {
    val (buckets, dropped) = mergePostings(index.buckets, index.dropped,
      hammingKeyed(admitted, index.partitionCols, index.bands, index.bandBits),
      sigItem, index.maxBucket)
    index.copy(buckets = buckets, dropped = dropped)
  }

  /** Persist a standing [[HammingIndex]] under `dir` as one
    * [[savePostings]] generation: `buckets/` and `dropped/` keyed on
    * `bkey`, and `meta/` (maxHamming/bands/bandBits/maxBucket plus the
    * FUSED partition columns — a loaded index must derive probe keys from
    * the same columns it was built with, or every probe silently
    * misses). */
  def saveHammingIndex(index: HammingIndex, dir: String,
                       nFiles: Int = 16): Unit = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    val meta = Seq((index.maxHamming, index.bands, index.bandBits,
        index.maxBucket, index.partitionCols))
      .toDF("max_hamming", "bands", "band_bits", "max_bucket",
        "partition_cols")
    savePostings(dir, nFiles, index.buckets, index.dropped, meta)
  }

  /** Load a [[saveHammingIndex]] directory:
    * `loadHammingIndex(save(idx)) == idx` relation-for-relation and
    * hyperparameter-for-hyperparameter (MultimodalSpec pins buckets,
    * tombstones, and the recorded partition columns through the
    * round-trip; the `multimodal_phash_index_persisted` oracle gate
    * refreshes + probes on TOP of a loaded index against the in-memory
    * chain's DuckDB rederivation). */
  def loadHammingIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): HammingIndex = {
    val (_, meta, buckets, dropped) = loadPostings(spark, dir)
    HammingIndex(buckets, meta.getAs[Int]("max_hamming"),
      meta.getAs[Int]("bands"), meta.getAs[Int]("band_bits"),
      meta.getAs[scala.collection.Seq[String]]("partition_cols").toSeq,
      meta.getAs[Int]("max_bucket"), dropped)
  }

  /** Hamming admission against a standing [[HammingIndex]], emitting
    * [[incrementalHammingDedup]]-shaped verdicts; streaming media
    * admission ([[graft.streaming.StreamingMediaDedup.admit]]) runs it on
    * the decodable rows of every micro-batch. `batch` is
    * `(partitionCols..., doc_id, sig)`; probe keys are fused
    * from the index's recorded partition columns, so a mismatched probe
    * shape fails at analysis instead of silently admitting everything. */
  def indexHammingDedup(batch: DataFrame, index: HammingIndex): DataFrame =
    probeHamming(batch,
      hammingKeyed(batch, index.partitionCols, index.bands, index.bandBits),
      index)

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word w-shingles with *any* benchmark document —
    * the standard test-set-leakage check a training pipeline runs before
    * shipping a corpus.
    *
    * Scale shape: the benchmark side is the small one by nature (eval sets
    * are thousands of documents, the corpus is the 100 TB side). Its
    * distinct shingle set broadcasts; the corpus explodes its shingles in a
    * narrow flatMap and the broadcast join filters immediately, so the only
    * shuffle is the per-doc count of *matching* rows — proportional to the
    * contamination overlap, not the corpus. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, w: Int = 3,
                    minShared: Int = 3,
                    maxBenchmarkShingles: Long = 5000000L): DataFrame = {
    val benchSh = hashedShingleDf(benchmark, w)
      .select(explode(col("hs")).as("h")).distinct()
      .persist()
    val nBench = benchSh.count()
    require(nBench <= maxBenchmarkShingles,
      s"contamination broadcasts the benchmark shingle set: $nBench " +
        s"distinct shingles > maxBenchmarkShingles=$maxBenchmarkShingles; " +
        "split the benchmark into batches or raise the bound explicitly")
    val result = hashedShingleDf(corpus, w)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(benchSh), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      // materialize now (the contaminated set is small — proportional to
      // the leakage, not the corpus) so the benchmark shingle cache can be
      // released before returning: a long-lived session running repeated
      // decontamination passes must not accumulate cached relations
      .localCheckpoint(eager = true)
    benchSh.unpersist(blocking = false)
    result
  }

  /** Near-dup *cluster resolution*: connected components over pair edges,
    * labeling every document with the smallest doc_id of its component —
    * the canonical-representative step that turns pair lists (from
    * [[minhashLshPairs]] / [[simhashPairs]] / [[ngramJaccardPairs]]) into a
    * keep-one-per-cluster dedup decision. The (doc_a, doc_b) projection is
    * persisted and counted first; the count picks one of two paths.
    *
    * Driver path: at or under `driverMaxEdges` pairs (default
    * [[graft.operators.DriverGraph.MaxEdges]]) with integral ids, the pairs
    * are collected by [[graft.operators.DriverGraph.collect]] (count and
    * pack in one job) and resolved by one union-by-min union-find on the
    * driver; the result is a [[graft.operators.DriverGraph.relation]] of
    * its arrays, so it holds no executor blocks and needs no checkpoint in
    * either mode (see [[graft.operators.DriverGraph]]). It is decided
    * before `checkpointDir` is touched — a reliable-mode call that takes it
    * writes no files and leaves the session's checkpoint dir as it was.
    *
    * Star path: above the bound (or for other id types), alternating
    * large-star / small-star contraction over the same cache (see
    * `starContract`; Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — O(log² n) rounds on any graph, whatever its
    * diameter or id layout. Each round's relation is checkpointed:
    * persist() alone caches *data* but keeps the logical plan, and every
    * round references the previous one several times, so the plan tree
    * would grow with every round. Checkpointing truncates the lineage so
    * every round plans against a materialized relation. Two modes:
    * `checkpointDir = None` (default) uses `localCheckpoint` — fastest, but
    * local checkpoint blocks die with their executor, so an executor loss
    * mid-iteration fails the job; passing a reliable `checkpointDir` (an
    * HDFS/object-store path on a real cluster) switches to fault-tolerant
    * `checkpoint()`, the right mode for long fleet-scale runs.
    *
    * Reliable-mode retention: snapshots are written under a unique
    * `graft-cc-<uuid>` subdirectory of `checkpointDir`, each round's file
    * is DELETED as soon as the relation that replaces it has materialized
    * (Spark itself only cleans checkpoints with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, and then only
    * at GC time), and the session's previously-configured checkpoint dir is
    * restored on exit — so a run holds at most 3 snapshots of the shrinking
    * edge relation at any instant instead of one per round, and unrelated
    * checkpoints in the same session are unaffected. The one file backing
    * the RETURNED relation is kept; callers may remove the run
    * subdirectory once they are done with the result. A job that dies
    * mid-run leaves its run subdirectory behind (crash-time cleanup cannot
    * be both safe and automatic) — the uuid namespacing makes those safe
    * to sweep by age.
    *
    * Both paths return the same rows and schema, including the
    * (NULL, NULL) row a NULL endpoint gets. One INFO line per call names
    * the path, the pair count and, for the star path, its round count.
    *
    * @param driverMaxEdges pair-count ceiling for the driver path; 0 forces
    *        the star path (test hook — the equivalence spec pins both paths)
    *
    * Returns (doc_id, cluster_id) for every document that appears in at
    * least one pair; unpaired documents are their own singleton clusters by
    * definition and are left to the caller (they need no join to decide). */
  def resolveClusters(pairs: DataFrame, checkpointDir: Option[String] = None,
                      driverMaxEdges: Long = DriverGraph.MaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // the one scan of the (possibly expensive) pair relation both paths
    // read; the collect job fills the cache (its own stage under AQE)
    val proj = pairs.select("doc_a", "doc_b").persist()
    try {
      // the result's schema on both paths: both columns take the
      // endpoints' common type and nullability
      val schema = docIds(proj)
        .select(col("doc_id"), col("doc_id").as("cluster_id")).schema
      val (nPairs, collected) =
        DriverGraph.collect(proj, schema("doc_id").dataType, driverMaxEdges)
      if (collected.isDefined) {
        val out = driverClusters(spark, collected.get, schema)
        log.info("resolveClusters path=driver edges={}", nPairs)
        out
      } else {
        val prevCkptDir = sc.getCheckpointDir
        val runDir = checkpointDir.map(base =>
          s"$base/graft-cc-${java.util.UUID.randomUUID()}")
        runDir.foreach(sc.setCheckpointDir)
        try {
          val (out, rounds) = starContract(proj, checkpointDir.isDefined)
          log.info("resolveClusters path=star edges={} rounds={}", nPairs, rounds)
          out
        } finally {
          // leave the session's checkpoint configuration the way we found
          // it (setCheckpointDir mutates SparkContext-global state); if none
          // was set before, ours stays but points at a uuid-fresh subdir
          // that this run has already emptied of everything but the
          // result's file
          if (runDir.isDefined) prevCkptDir.foreach(sc.setCheckpointDir)
        }
      }
    } finally proj.unpersist()
  }

  /** Every endpoint of a (doc_a, doc_b) relation as one `doc_id` column of
    * the endpoints' common type (NULL endpoints included), from ONE scan:
    * Spark shares no subplans across branches, so a union of two
    * projections would read the pairs twice. */
  private def docIds(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))

  /** The [[resolveClusters]] driver path: union-find over the collected
    * pairs, and the result relation built from its arrays with `schema`. */
  private def driverClusters(spark: SparkSession, edges: DriverGraph.Edges,
                             schema: StructType): DataFrame = {
    val (ids, root) = unionFindMin(edges.packed)
    // the star path gives a NULL endpoint one (NULL, NULL) row: NULL
    // never equi-joins, so its label is never set
    DriverGraph.relation(spark, schema,
      Seq(ids, Array.tabulate(ids.length)(i => ids(root(i)))), nullRow = edges.sawNull)
  }

  /** Connected components of packed `(a, b)` pairs (`packed(2k)`,
    * `packed(2k+1)`): the sorted distinct endpoints `ids` and, per index,
    * the index of its component minimum. Union by min — the smaller root
    * always wins, so a root is its component's smallest id — with path
    * halving; `parent(i) <= i` throughout, so one ascending pass finishes
    * every path. */
  private def unionFindMin(packed: Array[Long]): (Array[Long], Array[Int]) = {
    val ids = DriverGraph.sortedDistinct(packed)
    val n = ids.length
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var i = x
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var k = 0
    while (k < packed.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, packed(k)))
      val rb = find(java.util.Arrays.binarySearch(ids, packed(k + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      k += 2
    }
    var i = 0
    while (i < n) { parent(i) = parent(parent(i)); i += 1 }
    (ids, parent)
  }

  /** Round limit of [[starContract]]. Rounds grow about logarithmically in
    * practice: a scattered-id chain takes 11 rounds at 2,000 nodes and 13
    * at 20,000, LSH-shaped graphs of small cliques take 2. Reaching the
    * limit throws rather than ship partial labels. */
  private val StarMaxRounds = 40

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log² n) rounds on ANY graph shape,
    * including high-diameter components with scattered ids. Each round is
    * two grouped passes over a (shrinking) edge list:
    *   large-star: every node links its strictly-larger neighbors to the
    *   minimum of its closed neighborhood;
    *   small-star: every node links its not-larger neighbors (and itself)
    *   to that minimum.
    * Termination is EXACT set equality of the canonical edge relation
    * (anti-join emptiness, not a hash probe — a hash-sum collision would
    * silently ship wrong clusters). Returns (doc_id, cluster_id = component
    * minimum) for every node appearing in `pairs`, and the round count.
    *
    * Every round's relations are checkpointed (`checkpoint()` when
    * `reliable`, else `localCheckpoint`), and so is the result, so it no
    * longer references `pairs` or any internal round. In reliable mode
    * every superseded relation's checkpoint file is deleted as soon as its
    * replacement lands (the [[resolveClusters]] retention contract). */
  private def starContract(pairs: DataFrame, reliable: Boolean): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // The checkpointed frame is rebuilt from its RDD (two narrow conversion
    // maps over the relation) to DROP the inherited `originStats`:
    // Catalyst's size-only estimator gives a join the PRODUCT of its
    // children's sizeInBytes, and Dataset.checkpoint carries that BigInt
    // forward — so the self-joins of every round (each star step joins the
    // edges with their own per-node minima) would compound sizeInBytes
    // round after round. That multiplies the BigInt's digit count per
    // round, and by round ~20 the driver spends tens of seconds per round
    // inside BigInteger.multiply (Karatsuba/ToomCook) during planning.
    // Diagnosed via jstack on a minimal repro: an iterated checkpointed
    // self-join blows up (118 s/iter by iter 25) while the stripped version
    // stays flat. Fresh LogicalRDDs reset to the default size estimate,
    // which AQE replaces with real runtime sizes anyway.
    // reliable mode tracks each materialized relation's backing checkpoint
    // file (found by walking the short post-checkpoint lineage) so retired
    // rounds can be deleted eagerly instead of accumulating one snapshot
    // per round for the life of the session
    val ckptFiles = new java.util.IdentityHashMap[DataFrame, String]()
    def backingFile(rdd: org.apache.spark.rdd.RDD[_], depth: Int): Option[String] =
      if (depth > 8) None
      else rdd.getCheckpointFile.orElse(
        rdd.dependencies.view.flatMap(d => backingFile(d.rdd, depth + 1)).headOption)
    def ckpt(df0: DataFrame): DataFrame = {
      val ck = if (reliable) df0.checkpoint(eager = true)
               else df0.localCheckpoint(eager = true)
      val rdd = ck.rdd
      val out = spark.createDataFrame(rdd, ck.schema)
      if (reliable) backingFile(rdd, 0).foreach(p => ckptFiles.put(out, p))
      out
    }
    // delete a retired relation's checkpoint file NOW — only ever called
    // once everything derived from `df` has itself been materialized
    def retire(df: DataFrame): Unit = {
      val p = ckptFiles.remove(df)
      if (p != null) {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
    }
    // canonical undirected storage: (a < b), distinct
    def canon(df: DataFrame): DataFrame =
      df.where(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
    def bidirect(e: DataFrame): DataFrame =
      e.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("x"))
        .select(col("x.u").as("u"), col("x.v").as("v"))
    // large-star: per node u, m = min(N(u) ∪ {u}); emit (v, m) for v > u
    def largeStar(e: DataFrame): DataFrame = {
      val b = bidirect(e)
      val m = b.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      canon(b.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: per node u over neighbors v <= u, m = min(N ∪ {u});
    // emit (v, m) for every such v != m plus (u, m)
    def smallStar(e: DataFrame): DataFrame = {
      // orient each canonical edge large -> small: node b sees neighbor a
      val m = e.groupBy(col("b").as("n")).agg(min(col("a")).as("m"))
      val linkSmall = e.join(m, e("b") === m("n"))
        .select(col("a").as("u"), col("m").as("v"))
      val linkSelf = m.select(col("n").as("u"), col("m").as("v"))
      canon(linkSmall.union(linkSelf))
    }
    var e = ckpt(canon(pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))))
    var round = 0
    var stable = false
    while (!stable && round < StarMaxRounds) {
      // the large-star intermediate is checkpointed too: small-star
      // references its input three times, and Spark shares no subplans
      val ls = ckpt(largeStar(e))
      val next = ckpt(smallStar(ls))
      retire(ls)
      // exact fixpoint: same canonical edge set (both are distinct sets,
      // so equal counts + empty one-sided difference suffice)
      stable = next.count() == e.count() &&
        next.exceptAll(e).isEmpty
      retire(e)
      e = next
      round += 1
    }
    if (!stable)
      throw new IllegalStateException(
        s"starContract did not reach a star fixpoint in $StarMaxRounds rounds")
    // terminal stars: every node's label = min of its closed neighborhood;
    // nodes that contracted out of the edge set are roots of nothing —
    // they appear on the left of some surviving edge or not at all, so
    // recover labels for ALL original nodes via left join + self default.
    // A NULL endpoint never equi-joins, so it gets one (NULL, NULL) row.
    val b = bidirect(e)
    val starLabels = b.groupBy(col("u").as("doc_id"))
      .agg(least(min(col("v")), col("doc_id")).as("cluster_id"))
    val out = ckpt(
      docIds(pairs).distinct()
        .join(starLabels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")))
    retire(e)
    (out, round)
  }

  /** Top 60 bits of md5 — bit-identical to `hash60` (first 15 hex chars
    * parsed base 16), computed without string round-trips. Public: the
    * rolling-hash chunker reuses it. */
  def md5Top60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }
}
