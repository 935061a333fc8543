package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

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

  /** (doc_id, sh) relation with single-pass tokenization. */
  private def shingleDf(docs: DataFrame, w: Int = 3): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), w).as("sh"))
      .where(size(col("sh")) > 0)

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
        it.flatMap { case (id, toksSeq) =>
          val toks = toksSeq.toArray
          val n = toks.length - (w - 1)
          if (n <= 0) None
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
            Some((id, arr))
          }
        }
      }.toDF("doc_id", "hs")
  }

  /** (doc_a, doc_b, inter, union_size): per-candidate-pair set intersection
    * of the two docs' hashed shingle arrays, computed as a primitive loop —
    * the alternative (exploding both sides and re-joining on the shingle
    * key) fans out to |pairs| x |shingles| rows. The pair->array joins are
    * plain equi-joins: AQE broadcasts the compact array side when it fits;
    * at fleet scale they degrade gracefully to shuffle joins keyed by the
    * bounded candidate set. Intersection counts DISTINCT common hash values
    * (mirrors DuckDB `list_intersect` in the oracle). */
  private def pairOverlap(cand: DataFrame, hdf: DataFrame): DataFrame =
    pairOverlap(cand, hdf, hdf)

  /** Two-relation form: `doc_a` ids resolve against `hdfA`, `doc_b` ids
    * against `hdfB` (the incremental batch-vs-ledger shape; the self-join
    * pair operators pass the same relation twice). */
  private def pairOverlap(cand: DataFrame, hdfA: DataFrame,
                          hdfB: DataFrame): DataFrame = {
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
  }

  /** Dropped-bucket observability for the LSH cap sites: the `(band, key)`
    * bucket relation is capped by an imperative filter that counts every
    * over-cap bucket (and its member rows) into named `LongAccumulator`s
    * (`<name>.dropped_buckets` / `<name>.dropped_docs`, visible in the
    * Spark UI) before dropping it. A degenerate hash family that collapses
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
  private def capBuckets(buckets: DataFrame, maxBucket: Int,
                         droppedBuckets: org.apache.spark.util.LongAccumulator,
                         droppedDocs: org.apache.spark.util.LongAccumulator,
                         minSize: Int = 2)
      : DataFrame =
    buckets.filter { (r: org.apache.spark.sql.Row) =>
      val n = r.getSeq[Any](r.fieldIndex("ids")).size
      if (n > maxBucket) {
        droppedBuckets.add(1L); droppedDocs.add(n.toLong); false
      } else n >= minSize
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
    // candidate arms, both pairOverlap sides) and they LAUNCH concurrently
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
    pairOverlap(cand, hdf)
      .where(col("inter") * 100 >= col("union_size") * thresholdPct)
      .withColumn("jaccard_pct", floor(col("inter") * 100 / col("union_size")).cast("long"))
      .select("doc_a", "doc_b", "inter", "union_size", "jaccard_pct")
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
    // union_size > 0: unlike shingle-co-occurrence candidates, a sorted
    // neighbor can be a sub-3-token doc with an EMPTY shingle set —
    // 0/0 Jaccard is a non-pair, not a division
    val out = pairOverlap(cand, hdf)
      .where(col("union_size") > 0 &&
        col("inter") * 100 >= col("union_size") * thresholdPct)
      .withColumn("jaccard_pct",
        floor(col("inter") * 100 / col("union_size")).cast("long"))
      .select("doc_a", "doc_b", "inter", "union_size", "jaccard_pct")
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

  /** (doc_id, sig): numPerms-permutation MinHash signature per document
    * over the hashed-shingle relation — a tight primitive loop per
    * partition (one traversal updates all permutation minima; identical
    * values to [[minhashSignature]], ~10x faster than interpreted HOF
    * evaluation). */
  private def minhashSigDf(hdf: DataFrame, numPerms: Int): DataFrame = {
    val spark = hdf.sparkSession
    import spark.implicits._
    val as = (0 until numPerms).map(permA).toArray
    val bs = (0 until numPerms).map(permB).toArray
    hdf.as[(Long, Array[Long])].mapPartitions { it =>
      it.map { case (docId, hs) =>
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
        (docId, mins.toSeq)
      }
    }.toDF("doc_id", "sig")
  }

  /** (doc_id, band, key): the LSH band keys of a signature relation —
    * `bands` keys per doc, each joining `r` consecutive signature slots. */
  private def bandedKeysDf(sig: DataFrame, bands: Int, r: Int): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", slice(col("sig"), b * r + 1, r)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** MinHash+LSH near-dup candidate pairs with exact-Jaccard verification.
    * bands x rowsPerBand = signature length; a pair collides when any band
    * matches exactly. `maxBucket` caps degenerate buckets (boilerplate
    * shingle sets) so the within-bucket pair join stays bounded. */
  def minhashLshPairs(docs: DataFrame, numPerms: Int = 32, bands: Int = 8,
                      maxBucket: Int = 64, thresholdPct: Int = 30,
                      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dropAcc = droppedBuckets.getOrElse(
      spark.sparkContext.longAccumulator("graft.minhash_lsh.dropped_buckets"))
    val dropDocsAcc =
      spark.sparkContext.longAccumulator("graft.minhash_lsh.dropped_docs")
    val r = numPerms / bands
    // caller-owned cache lifetime — see the note in ngramJaccardPairs
    val hdf = hashedShingleDf(docs).persist()
    val banded = bandedKeysDf(minhashSigDf(hdf, numPerms), bands, r)
    val buckets = capBuckets(
      banded.groupBy("band", "key").agg(collect_list("doc_id").as("ids")),
      maxBucket, dropAcc, dropDocsAcc)
    val cand = buckets
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .distinct()
    pairOverlap(cand, hdf)
      .where(col("inter") * 100 >= col("union_size") * thresholdPct)
      .withColumn("jaccard_pct", floor(col("inter") * 100 / col("union_size")).cast("long"))
      .select("doc_a", "doc_b", "jaccard_pct")
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
    * Scale shape (the [[incrementalBloom]] asymmetry, banded): the ledger
    * never moves whole. Its banded key relation is semi-joined against the
    * BATCH's distinct band keys (workload-sized, broadcast) before any
    * wide exchange, so ledger work is proportional to the buckets the
    * batch actually touches — not to the 100 TB corpus. Pruned ledger
    * buckets over `maxBucket` (boilerplate shingle sets) are dropped whole
    * into the accumulators, bounding pairing fan-out; the cap is
    * equivalent pre- and post-prune because the prune selects whole
    * buckets. Exact-Jaccard verification removes every LSH false positive
    * (precision exact; recall = banding recall). The batch-sized verdict
    * relation is materialized eagerly so both shingle caches release
    * deterministically. */
  def incrementalNearDup(batch: DataFrame, ledger: DataFrame,
                         numPerms: Int = 32, bands: Int = 8,
                         maxBucket: Int = 64, thresholdPct: Int = 30,
                         droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = batch.sparkSession
    val dropAcc = droppedBuckets.getOrElse(
      spark.sparkContext.longAccumulator("graft.incr_neardup.dropped_buckets"))
    val dropDocsAcc =
      spark.sparkContext.longAccumulator("graft.incr_neardup.dropped_docs")
    val r = numPerms / bands
    val bh = hashedShingleDf(batch).persist()
    val lh = hashedShingleDf(ledger).persist()
    val bBanded = bandedKeysDf(minhashSigDf(bh, numPerms), bands, r)
    val lBanded = bandedKeysDf(minhashSigDf(lh, numPerms), bands, r)
    val lBuckets = capBuckets(
      lBanded
        .join(broadcast(bBanded.select("band", "key").distinct()), Seq("band", "key"))
        .groupBy("band", "key").agg(collect_list("doc_id").as("ids")),
      maxBucket, dropAcc, dropDocsAcc, minSize = 1)
    val cand = bBanded.join(lBuckets, Seq("band", "key"))
      .select(col("doc_id").as("doc_a"), explode(col("ids")).as("doc_b"))
      .distinct()
    val out = nearDupVerdicts(batch, cand, bh, lh, thresholdPct)
    bh.unpersist(); lh.unpersist()
    out
  }

  /** Shared verdict epilogue of [[incrementalNearDup]] and
    * [[indexNearDup]]: exact-Jaccard verification of the candidate pairs
    * (batch ids resolve against `bh`, ledger ids against `lh`), best
    * match = highest Jaccard with ties to the smallest ledger id, then
    * the batch left join that surfaces no-match rows as `admitted`. The
    * batch-sized result is materialized eagerly so callers can release
    * their shingle caches deterministically. */
  private def nearDupVerdicts(batch: DataFrame, cand: DataFrame,
      bh: DataFrame, lh: DataFrame, thresholdPct: Int): DataFrame = {
    val best = pairOverlap(cand, bh, lh)
      .where(col("inter") * 100 >= col("union_size") * thresholdPct)
      .withColumn("jaccard_pct",
        floor(col("inter") * 100 / col("union_size")).cast("long"))
      .groupBy(col("doc_a").as("doc_id"))
      // lexicographic struct max: highest jaccard, then min ledger id
      .agg(max(struct(col("jaccard_pct"), (-col("doc_b")).as("neg_id"))).as("m"))
      .select(col("doc_id"), (-col("m.neg_id")).as("near_dup_of"),
        col("m.jaccard_pct").as("jaccard_pct"))
    batch.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("near_dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("admitted")).as("verdict"),
        col("near_dup_of"), col("jaccard_pct"))
      .localCheckpoint(true)
  }

  /** Prebuilt MinHash-LSH ledger index for repeated near-dup admission:
    * `buckets` = capped `(band, key) -> ids` postings, `shingles` =
    * `(doc_id, hs)` for exact-Jaccard verification. Both relations are
    * persisted at build time (they are reused per admission batch /
    * micro-batch); call [[release]] when done. At fleet scale this is the
    * materialize-once artifact a 100 TB corpus maintains next to itself —
    * admission cost then tracks the batch, never the corpus. */
  final case class NearDupIndex(buckets: DataFrame, shingles: DataFrame,
                                numPerms: Int, bands: Int, thresholdPct: Int,
                                maxBucket: Int, dropped: DataFrame) {
    def release(): Unit = {
      buckets.unpersist(); shingles.unpersist(); dropped.unpersist()
    }
  }

  /** Build a [[NearDupIndex]] from a ledger corpus. The bucket cap is
    * applied at build time (equivalent to per-batch capping: pruning by a
    * batch's keys selects whole buckets, so bucket sizes are
    * prune-invariant). Capped-out keys are kept as TOMBSTONES in
    * `dropped`, so [[refreshNearDupIndex]] can keep deciding them exactly
    * as a from-scratch rebuild would (a merged bucket is a superset of
    * one that already exceeded the cap). */
  def buildNearDupIndex(ledger: DataFrame, numPerms: Int = 32, bands: Int = 8,
                        maxBucket: Int = 64, thresholdPct: Int = 30,
                        droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : NearDupIndex = {
    val spark = ledger.sparkSession
    val dropAcc = droppedBuckets.getOrElse(
      spark.sparkContext.longAccumulator("graft.neardup_index.dropped_buckets"))
    val dropDocsAcc =
      spark.sparkContext.longAccumulator("graft.neardup_index.dropped_docs")
    val lh = hashedShingleDf(ledger).persist()
    val grouped = bandedKeysDf(minhashSigDf(lh, numPerms), bands, numPerms / bands)
      .groupBy("band", "key").agg(collect_list("doc_id").as("ids"))
      .persist()
    val buckets = capBuckets(grouped, maxBucket, dropAcc, dropDocsAcc,
      minSize = 1).persist()
    val dropped = grouped.where(size(col("ids")) > maxBucket)
      .select("band", "key").persist()
    buckets.count(); dropped.count()
    grouped.unpersist(false)
    NearDupIndex(buckets, lh, numPerms, bands, thresholdPct, maxBucket, dropped)
  }

  /** Incremental maintenance of a standing [[NearDupIndex]]: append an
    * admitted batch's shingles and band postings WITHOUT rebuilding from
    * the corpus — `refreshNearDupIndex(build(L), B) == build(L ∪ B)`
    * relation-for-relation (DedupSpec pins it, dropped-bucket transitions
    * included; the `dedup_index_refresh` oracle gate exercises this path
    * end-to-end against a from-scratch DuckDB rederivation).
    *
    * Cap semantics match a rebuild exactly: a batch posting under a
    * tombstoned key stays dropped (the merged bucket is a superset of one
    * that already exceeded the cap), and a kept bucket pushed over
    * `maxBucket` by the merge is dropped whole and tombstoned.
    *
    * Scale shape: everything batch-sized except the merge join itself,
    * which reuses the standing buckets' (band, key) hash partitioning —
    * only the batch-sized posting side exchanges; the 100 TB corpus never
    * re-shingles. The new relations are materialized before returning, so
    * the caller can `release()` the old index immediately. Long refresh
    * chains should still rebuild periodically (compaction): each refresh
    * adds one union to the shingle/tombstone lineage. */
  def refreshNearDupIndex(index: NearDupIndex, admitted: DataFrame)
      : NearDupIndex = {
    val bh = hashedShingleDf(admitted).persist()
    val emptyIds = array().cast("array<bigint>")
    val newPosts =
      bandedKeysDf(minhashSigDf(bh, index.numPerms), index.bands,
          index.numPerms / index.bands)
        .groupBy("band", "key").agg(collect_list("doc_id").as("new_ids"))
        .join(index.dropped, Seq("band", "key"), "left_anti")
    val merged = index.buckets
      .join(newPosts, Seq("band", "key"), "full_outer")
      .select(col("band"), col("key"),
        concat(coalesce(col("ids"), emptyIds),
          coalesce(col("new_ids"), emptyIds)).as("ids"))
      .persist()
    val buckets2 = merged.where(size(col("ids")) <= index.maxBucket).persist()
    val dropped2 = index.dropped
      .union(merged.where(size(col("ids")) > index.maxBucket)
        .select("band", "key"))
      .persist()
    val shingles2 = index.shingles.union(bh).persist()
    buckets2.count(); dropped2.count(); shingles2.count()
    merged.unpersist(false); bh.unpersist(false)
    index.copy(buckets = buckets2, shingles = shingles2, dropped = dropped2)
  }

  /** Persist a standing [[NearDupIndex]] under `dir` — the
    * [[Ivf.saveIndex]] discipline for the lexical near-dup tier: an index
    * generation lives in storage and OUTLIVES the process that built it.
    * Four relations: `buckets/` (capped (band, key) postings, clustered
    * on the join key so an admission batch's bucket lookup prunes),
    * `shingles/` (the exact-Jaccard verification side, doc_id-clustered),
    * `dropped/` (the cap tombstones — losing these would silently
    * resurrect capped-out buckets on the next refresh), `meta/` (1 row:
    * the build hyperparameters, so a loaded index refreshes and probes
    * with exactly the banding it was built with). */
  def saveNearDupIndex(index: NearDupIndex, dir: String,
                       nFiles: Int = 16): Unit = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    // generation-versioned ([[IndexGen]]): one atomic pointer rename
    // publishes all four relations together
    val (gen, genPath) = IndexGen.newGen(dir)
    index.buckets
      .repartitionByRange(nFiles, col("band"), col("key"))
      .sortWithinPartitions("band", "key")
      .write.mode("overwrite").parquet(s"$genPath/buckets")
    index.shingles
      .repartitionByRange(nFiles, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$genPath/shingles")
    index.dropped
      .repartitionByRange(math.max(1, nFiles / 4), col("band"), col("key"))
      .sortWithinPartitions("band", "key")
      .write.mode("overwrite").parquet(s"$genPath/dropped")
    Seq((index.numPerms, index.bands, index.thresholdPct, index.maxBucket))
      .toDF("num_perms", "bands", "threshold_pct", "max_bucket")
      .coalesce(1).write.mode("overwrite").parquet(s"$genPath/meta")
    IndexGen.flip(dir, gen)
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
    val cur = IndexGen.resolve(dir) // ONE generation serves this load
    val meta = spark.read.parquet(s"$cur/meta").head()
    val buckets = spark.read.parquet(s"$cur/buckets")
      .select("band", "key", "ids").persist()
    val shingles = spark.read.parquet(s"$cur/shingles")
      .select("doc_id", "hs").persist()
    val dropped = spark.read.parquet(s"$cur/dropped")
      .select("band", "key").persist()
    NearDupIndex(buckets, shingles,
      meta.getAs[Int]("num_perms"), meta.getAs[Int]("bands"),
      meta.getAs[Int]("threshold_pct"), meta.getAs[Int]("max_bucket"),
      dropped)
  }

  /** Batch near-dup admission against a standing [[NearDupIndex]] — the
    * batch twin of [[graft.streaming.StreamingNearDup.verdicts]], emitting
    * [[incrementalNearDup]]-shaped verdicts. Candidates come from the
    * index's pre-capped postings (one equi-join), verification from its
    * shingle relation; admission cost tracks the batch, never the corpus. */
  def indexNearDup(batch: DataFrame, index: NearDupIndex): DataFrame = {
    val bh = hashedShingleDf(batch).persist()
    val bBanded = bandedKeysDf(minhashSigDf(bh, index.numPerms), index.bands,
      index.numPerms / index.bands)
    val cand = bBanded.join(index.buckets, Seq("band", "key"))
      .select(col("doc_id").as("doc_a"), explode(col("ids")).as("doc_b"))
      .distinct()
    val out = nearDupVerdicts(batch, cand, bh, index.shingles,
      index.thresholdPct)
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
      : DataFrame = {
    val sc = docs.sparkSession.sparkContext
    val dropAcc = droppedBuckets.getOrElse(
      sc.longAccumulator("graft.simhash.dropped_buckets"))
    bandedHammingPairs(simhash(docs).withColumnRenamed("simhash", "sig"),
      maxHamming, bands, bandBits, maxBucket, Nil, Some(dropAcc))
  }

  /** Banded hamming-distance pairing over precomputed bit signatures —
    * the candidate-generation core shared by [[simhashPairs]] (60-bit
    * text simhash) and the perceptual-hash media pairs (64-bit
    * dHash/waveform hash, `Multimodal.perceptualHashes`).
    *
    * `sigs` is `(partitionCols..., doc_id, sig)`; pairs are generated
    * only within equal `partitionCols` values (e.g. media kind — an
    * image dHash and an audio waveform hash are different modalities
    * and must never pair, even on a bit collision). By pigeonhole, any
    * pair within hamming distance `bands - 1` shares at least one
    * identical band, so banding itself loses nothing at
    * `maxHamming <= bands - 1`; recall is exact up to the `maxBucket`
    * cap (degenerate buckets dropped whole, counted in the
    * accumulators — the same guard as the MinHash path). Verification
    * is the codegen'd `bit_count(xor)` builtin — no UDF. */
  def bandedHammingPairs(sigs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, bandBits: Int = 16, maxBucket: Int = 64,
      partitionCols: Seq[String] = Nil,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val sc = sigs.sparkSession.sparkContext
    val dropAcc = droppedBuckets.getOrElse(
      sc.longAccumulator("graft.hamming.dropped_buckets"))
    val dropDocsAcc = sc.longAccumulator("graft.hamming.dropped_docs")
    val pcols = partitionCols.map(col)
    val buckets = capBuckets(
      bandRows(sigs, pcols, bands, bandBits)
        .groupBy((partitionCols ++ Seq("band", "key")).map(col): _*)
        .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ids")),
      maxBucket, dropAcc, dropDocsAcc)
    val cand = buckets
      .select(pcols ++ Seq(explode(col("ids")).as("a"), col("ids")): _*)
      .select(pcols ++ Seq(col("a.doc_id").as("doc_a"),
        col("a.sig").as("sig_a"), explode(col("ids")).as("b")): _*)
      .select(pcols ++ Seq(col("doc_a"), col("sig_a"),
        col("b.doc_id").as("doc_b"), col("b.sig").as("sig_b")): _*)
      .where(col("doc_a") < col("doc_b"))
      .distinct()
    cand
      .select(pcols ++ Seq(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
          .as("hamming")): _*)
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental hamming admission over precomputed bit signatures:
    * each BATCH row checked for ledger signatures within `maxHamming`
    * — the signature-space twin of [[incrementalNearDup]]'s
    * MinHash admission, used by the perceptual-hash media path (a
    * re-crawl admitted only if no standing media is perceptually
    * near-identical) and equally applicable to simhash.
    *
    * Scale shape (the same inversion as every incremental operator
    * here): the LEDGER never moves whole. Its banded keys semi-join
    * the batch's distinct `(partitionCols, band, key)` set (broadcast,
    * workload-sized) before any wide exchange, so ledger work tracks
    * the buckets the batch touches — not the standing corpus. Bucket
    * caps drop degenerate buckets whole into the accumulators
    * (prune-invariant, the [[incrementalNearDup]] argument). Verdict
    * per batch row: best match = minimum hamming, ties to the
    * smallest ledger id; rows with no in-distance match are
    * `admitted`. */
  def incrementalHammingDedup(batch: DataFrame, ledger: DataFrame,
      maxHamming: Int = 3, bands: Int = 4, bandBits: Int = 16,
      maxBucket: Int = 64, partitionCols: Seq[String] = Nil,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = batch.sparkSession
    val dropAcc = droppedBuckets.getOrElse(
      spark.sparkContext.longAccumulator("graft.incr_hamming.dropped_buckets"))
    val dropDocsAcc =
      spark.sparkContext.longAccumulator("graft.incr_hamming.dropped_docs")
    val pcols = partitionCols.map(col)
    val keyCols = partitionCols ++ Seq("band", "key")
    val bBanded = bandRows(batch, pcols, bands, bandBits)
    val lBuckets = capBuckets(
      bandRows(ledger, pcols, bands, bandBits)
        .join(broadcast(bBanded.select(keyCols.map(col): _*).distinct()),
          keyCols)
        .groupBy(keyCols.map(col): _*)
        .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ids")),
      maxBucket, dropAcc, dropDocsAcc, minSize = 1)
    hammingVerdicts(batch, bBanded.join(lBuckets, keyCols), partitionCols,
      maxHamming)
  }

  /** One `(partitionCols..., doc_id, sig, band, key)` row per band of each
    * signature in `sigs` — the unfused banding of [[bandedHammingPairs]]
    * and [[incrementalHammingDedup]]. */
  private def bandRows(sigs: DataFrame, pcols: Seq[Column], bands: Int,
                       bandBits: Int): DataFrame =
    sigs.select(pcols ++ Seq(col("doc_id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), bandKey(col("sig"), b, bandBits).as("key"))
      }: _*)).as("bk")): _*)
      .select(pcols ++ Seq(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key")): _*)

  /** Band `b` of a bit signature: the `bandBits` bits from bit
    * `b * bandBits` up. `shiftright` is arithmetic, so the mask also
    * strips the sign extension a negative 64-bit signature would smear. */
  private def bandKey(sig: Column, b: Int, bandBits: Int): Column =
    shiftright(sig, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))

  /** Shared verdict epilogue of [[incrementalHammingDedup]] and
    * [[indexHammingDedup]]: `probed` pairs each batch band row
    * `(partitionCols..., doc_id, sig)` with the `ids` postings of the
    * ledger bucket it hit. Best match = lowest hamming within
    * `maxHamming`, ties to the smallest ledger id, then the batch left
    * join that surfaces no-match rows as `admitted`. */
  private def hammingVerdicts(batch: DataFrame, probed: DataFrame,
      partitionCols: Seq[String], maxHamming: Int): DataFrame = {
    val pcols = partitionCols.map(col)
    val cand = probed
      .select(pcols ++ Seq(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        explode(col("ids")).as("b")): _*)
      .select(pcols ++ Seq(col("doc_a"), col("sig_a"),
        col("b.doc_id").as("doc_b"), col("b.sig").as("sig_b")): _*)
      .distinct()
    val best = cand
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .groupBy(pcols :+ col("doc_a").as("doc_id"): _*)
      // lexicographic struct min: lowest hamming, then smallest ledger id
      .agg(min(struct(col("hamming"), col("doc_b"))).as("m"))
      .select(pcols ++ Seq(col("doc_id"), col("m.doc_b").as("near_dup_of"),
        col("m.hamming").as("hamming")): _*)
    batch.select(pcols :+ col("doc_id"): _*)
      .join(best, partitionCols :+ "doc_id", "left")
      .select(pcols ++ Seq(col("doc_id"),
        when(col("near_dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("admitted")).as("verdict"),
        col("near_dup_of"), col("hamming")): _*)
  }

  /** Prebuilt banded hamming ledger index for repeated signature
    * admission — the [[NearDupIndex]] analogue for bit signatures
    * ([[incrementalHammingDedup]]'s standing side, and the static
    * relation `streaming.StreamingMediaDedup` joins every
    * micro-batch). `buckets` holds capped
    * `bkey -> [(doc_id, sig)]` postings with the partition columns and
    * band index FUSED into one string key (`kind:band:key`), so the
    * stream-static join is a single-column equi-join. `partitionCols`
    * records the columns fused into the key at build time, and
    * [[HammingIndex.probeKeys]] is the one place that fuses it: a probe
    * keyed on different columns would silently match zero postings and
    * admit everything. Persisted
    * at build (reused per admission batch); call [[release]] when done. */
  final case class HammingIndex(buckets: DataFrame, maxHamming: Int,
                                bands: Int, bandBits: Int,
                                partitionCols: Seq[String],
                                maxBucket: Int, dropped: DataFrame) {
    /** The `bkey`s of signature `sig`, one per band: build, refresh and
      * every probe side derive their keys here, so they cannot drift. */
    def probeKeys(sig: Column): Column =
      fusedBandKeys(partitionCols, bands, bandBits, sig)
    def release(): Unit = { buckets.unpersist(); dropped.unpersist() }
  }

  /** The fused `partitionCols...:band:key` strings of `sig` — the only
    * spelling of a [[HammingIndex]] posting key. */
  private def fusedBandKeys(partitionCols: Seq[String], bands: Int,
                            bandBits: Int, sig: Column): Column =
    array((0 until bands).map { b =>
      concat_ws(":", partitionCols.map(col) ++
        Seq(lit(b), bandKey(sig, b, bandBits)): _*)
    }: _*)

  /** Build a [[HammingIndex]] from ledger signatures
    * `(partitionCols..., doc_id, sig)`. Caps are applied at build time —
    * equivalent to per-batch capping, because pruning by a batch's keys
    * selects whole buckets (the [[buildNearDupIndex]] argument). */
  def buildHammingIndex(ledger: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, bandBits: Int = 16, maxBucket: Int = 64,
      partitionCols: Seq[String] = Nil,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : HammingIndex = {
    val spark = ledger.sparkSession
    val dropAcc = droppedBuckets.getOrElse(
      spark.sparkContext.longAccumulator("graft.hamming_index.dropped_buckets"))
    val dropDocsAcc =
      spark.sparkContext.longAccumulator("graft.hamming_index.dropped_docs")
    val grouped = ledger.select(col("doc_id"), col("sig"),
        explode(fusedBandKeys(partitionCols, bands, bandBits, col("sig")))
          .as("bkey"))
      .groupBy("bkey")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ids"))
      .persist()
    val buckets = capBuckets(grouped, maxBucket, dropAcc, dropDocsAcc,
      minSize = 1).persist()
    // capped-out keys tombstoned for rebuild-equivalent refresh
    // (the buildNearDupIndex argument)
    val dropped = grouped.where(size(col("ids")) > maxBucket)
      .select("bkey").persist()
    buckets.count(); dropped.count()
    grouped.unpersist(false)
    HammingIndex(buckets, maxHamming, bands, bandBits, partitionCols,
      maxBucket, dropped)
  }

  /** Incremental maintenance of a standing [[HammingIndex]] — the bit-
    * signature twin of [[refreshNearDupIndex]], with the same contract:
    * `refreshHammingIndex(build(L), B) == build(L ∪ B)` (DedupSpec pins
    * it), batch postings under tombstoned keys stay dropped, merged
    * buckets over `maxBucket` drop whole and tombstone, the merge join
    * reuses the standing side's bkey partitioning, and the new relations
    * are materialized before returning. `admitted` is
    * `(partitionCols..., doc_id, sig)` like the build input. */
  def refreshHammingIndex(index: HammingIndex, admitted: DataFrame)
      : HammingIndex = {
    val emptyIds = array().cast("array<struct<doc_id:bigint,sig:bigint>>")
    val newPosts = admitted.select(col("doc_id"), col("sig"),
        explode(index.probeKeys(col("sig"))).as("bkey"))
      .groupBy("bkey")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("new_ids"))
      .join(index.dropped, Seq("bkey"), "left_anti")
    val merged = index.buckets
      .join(newPosts, Seq("bkey"), "full_outer")
      .select(col("bkey"),
        concat(coalesce(col("ids"), emptyIds),
          coalesce(col("new_ids"), emptyIds)).as("ids"))
      .persist()
    val buckets2 = merged.where(size(col("ids")) <= index.maxBucket).persist()
    val dropped2 = index.dropped
      .union(merged.where(size(col("ids")) > index.maxBucket).select("bkey"))
      .persist()
    buckets2.count(); dropped2.count()
    merged.unpersist(false)
    index.copy(buckets = buckets2, dropped = dropped2)
  }

  /** Persist a standing [[HammingIndex]] under `dir` — the
    * [[saveNearDupIndex]] arc for the bit-signature tier. Three
    * relations: `buckets/` (capped bkey postings, bkey-clustered so a
    * probe batch's bucket lookup prunes), `dropped/` (cap tombstones),
    * `meta/` (1 row: maxHamming/bands/bandBits/maxBucket plus the FUSED
    * partition columns — a loaded index must derive probe keys from the
    * same columns it was built with, or every probe silently misses). */
  def saveHammingIndex(index: HammingIndex, dir: String,
                       nFiles: Int = 16): Unit = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    // generation-versioned ([[IndexGen]]): one atomic pointer rename
    // publishes buckets/dropped/meta together
    val (gen, genPath) = IndexGen.newGen(dir)
    index.buckets
      .repartitionByRange(nFiles, col("bkey"))
      .sortWithinPartitions("bkey")
      .write.mode("overwrite").parquet(s"$genPath/buckets")
    index.dropped
      .repartitionByRange(math.max(1, nFiles / 4), col("bkey"))
      .sortWithinPartitions("bkey")
      .write.mode("overwrite").parquet(s"$genPath/dropped")
    Seq((index.maxHamming, index.bands, index.bandBits, index.maxBucket,
        index.partitionCols))
      .toDF("max_hamming", "bands", "band_bits", "max_bucket",
        "partition_cols")
      .coalesce(1).write.mode("overwrite").parquet(s"$genPath/meta")
    IndexGen.flip(dir, gen)
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
    val cur = IndexGen.resolve(dir) // ONE generation serves this load
    val meta = spark.read.parquet(s"$cur/meta").head()
    val buckets = spark.read.parquet(s"$cur/buckets")
      .select("bkey", "ids").persist()
    val dropped = spark.read.parquet(s"$cur/dropped")
      .select("bkey").persist()
    HammingIndex(buckets, meta.getAs[Int]("max_hamming"),
      meta.getAs[Int]("bands"), meta.getAs[Int]("band_bits"),
      meta.getAs[scala.collection.Seq[String]]("partition_cols").toSeq,
      meta.getAs[Int]("max_bucket"), dropped)
  }

  /** Batch hamming admission against a standing [[HammingIndex]] — the
    * batch twin of [[graft.streaming.StreamingMediaDedup.verdicts]]'s
    * dedup arm, emitting [[incrementalHammingDedup]]-shaped verdicts.
    * `batch` is `(partitionCols..., doc_id, sig)`; probe keys are fused
    * from the index's recorded partition columns, so a mismatched probe
    * shape fails at analysis instead of silently admitting everything. */
  def indexHammingDedup(batch: DataFrame, index: HammingIndex): DataFrame = {
    val bBanded = batch.select(index.partitionCols.map(col) ++
      Seq(col("doc_id"), col("sig"),
        explode(index.probeKeys(col("sig"))).as("bkey")): _*)
    hammingVerdicts(batch, bBanded.join(index.buckets, Seq("bkey")),
      index.partitionCols, index.maxHamming)
  }

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

  /** Pair-count ceiling for the [[resolveClusters]] driver path: 2^20
    * pairs are 16 MB packed on the driver (see the scaladoc there). */
  val DriverMaxEdges: Long = 1L << 20

  /** Near-dup *cluster resolution*: connected components over pair edges,
    * labeling every document with the smallest doc_id of its component —
    * the canonical-representative step that turns pair lists (from
    * [[minhashLshPairs]] / [[simhashPairs]] / [[ngramJaccardPairs]]) into a
    * keep-one-per-cluster dedup decision.
    *
    * Algorithm: distributed min-label propagation with *pointer jumping*.
    * Each round (a) joins the (bidirectional) edge list with current labels
    * and takes the per-node minimum — one shuffle, all relational, no
    * driver-side graph — then (b) shortcuts `label(u) := label(label(u))`
    * with a self-join of the label relation. The shortcut is what makes
    * high-diameter components converge: plain propagation needs
    * diameter-many rounds (a 1000-long chain would blow any round budget —
    * the failure mode star-contraction variants exist for, Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), while
    * propagate+jump halves the remaining pointer depth per round, so
    * `maxRounds = 25` covers diameters past 2^24. LSH near-dup components
    * are near-cliques that close in 2-4 rounds either way; the jump costs
    * one extra small self-join of the (|V|-row) label relation per round.
    *
    * Convergence is detected *exactly*: the monotone per-round label sum is
    * aggregated as DECIMAL(38,0), not BIGINT — at billions of documents a
    * Long sum wraps, and a wrapped "unchanged" sum would falsely converge
    * and silently ship wrong clusters.
    *
    * Each round's labels are checkpointed: persist() alone caches *data*
    * but keeps the logical plan, and since every round references the
    * previous labels twice the plan tree doubles per round — exponential
    * analysis memory by round ~20. Checkpointing truncates the lineage so
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
    * restored on exit — so a 20-round job holds at most ~3 snapshots of the
    * small label relation at any instant instead of 20+, and unrelated
    * checkpoints in the same session are unaffected. The one file backing
    * the RETURNED relation is kept; callers may remove the run
    * subdirectory once they are done with the result. A job that dies
    * mid-run leaves its run subdirectory behind (crash-time cleanup cannot
    * be both safe and automatic) — the uuid namespacing makes those safe
    * to sweep by age.
    *
    * Small-graph driver path: the (doc_a, doc_b) projection is persisted
    * and counted first; the counting pass already packs every partition
    * within an even share of the bound, so a small input is counted and
    * collected in one job. At or under `driverMaxEdges` pairs (default
    * [[DriverMaxEdges]]) with integral ids, the pairs are collected as
    * packed longs and resolved by one union-by-min union-find on the driver
    * instead of the rounds above — each round is four small jobs (two
    * rounds minimum even for near-cliques), so on the ~1k-pair inputs the
    * pipelines produce the rounds are almost all scheduling and checkpoint
    * overhead. The bound is sized for driver memory, not for any input:
    * at 2^20 pairs the packed edges are 16 MB and the working set (edges,
    * sorted distinct ids, int parents) stays under ~40 MB. The returned
    * relation is built from driver-held arrays, so it holds no executor
    * blocks: an executor loss recomputes it from the driver, which is why
    * this path needs no checkpoint in either mode. It is decided before
    * `checkpointDir` is touched — a reliable-mode call that takes it writes
    * no files and leaves the session's checkpoint dir as it was. Above the
    * bound, the rounds (and their fallback) run over the same cache.
    * Both paths return the same rows and schema, including the
    * (NULL, NULL) row a NULL endpoint gets. One INFO line per call names
    * the path, the pair count and, for the rounds, rounds-to-converge and
    * whether star contraction ran.
    *
    * @param driverMaxEdges pair-count ceiling for the driver path; 0 forces
    *        the rounds (test hook — the equivalence spec pins both paths)
    *
    * Returns (doc_id, cluster_id) for every document that appears in at
    * least one pair; unpaired documents are their own singleton clusters by
    * definition and are left to the caller (they need no join to decide). */
  def resolveClusters(pairs: DataFrame, maxRounds: Int = 25,
                      checkpointDir: Option[String] = None,
                      jumpsPerRound: Int = 2,
                      driverMaxEdges: Long = DriverMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // the one scan of the (possibly expensive) pair relation both paths
    // read; `proj.rdd` fills the cache (its own stage under AQE)
    val proj = pairs.select("doc_a", "doc_b").persist()
    try {
      // labels before the first round: its schema is the result's schema
      // on both paths (no round changes a type or a nullability)
      val labels0 = edges0(proj).select(col("u").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id"))
      val idType = labels0.schema("doc_id").dataType
      val driverOk = driverMaxEdges > 0 &&
        (idType == LongType || idType == IntegerType)
      val rows = proj.rdd
      // one job counts every partition and already packs each one within
      // an even share of the bound: a small input is counted and collected
      // in one pass, and no input ships more than the bound to the driver
      val share =
        if (driverOk) driverMaxEdges / math.max(1, rows.getNumPartitions) else 0L
      val parts = sc.runJob(rows, packPairs(share) _)
      val nPairs = parts.map(_.rows).sum
      if (driverOk && nPairs <= driverMaxEdges) {
        val out = driverClusters(proj, parts, labels0.schema)
        log.info("resolveClusters path=driver edges={}", nPairs)
        out
      } else {
        val prevCkptDir = sc.getCheckpointDir
        val runDir = checkpointDir.map(base =>
          s"$base/graft-cc-${java.util.UUID.randomUUID()}")
        runDir.foreach(sc.setCheckpointDir)
        try {
          val (out, rounds, star) = resolveClustersImpl(proj, labels0,
            maxRounds, checkpointDir.isDefined, jumpsPerRound)
          log.info("resolveClusters path=rounds edges={} rounds={} starContraction={}",
            nPairs, rounds, star)
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

  /** One partition of a (doc_a, doc_b) relation: its row count and, if
    * that is at most `cap`, its pairs packed as longs — both endpoints of
    * every pair with no NULL, `(x, x)` for the non-NULL endpoint of a
    * half-NULL pair (still a node of its own) — and whether any endpoint
    * was NULL. `packed` is null when the partition was over `cap`. */
  private final case class PackedPairs(rows: Long, packed: Array[Long],
                                       sawNull: Boolean)

  private def packPairs(cap: Long)(it: Iterator[Row]): PackedPairs = {
    val b = Array.newBuilder[Long]
    var n = 0L
    var sawNull = false
    it.foreach { r =>
      n += 1
      if (n <= cap) {
        val na = r.isNullAt(0)
        val nb = r.isNullAt(1)
        if (na || nb) sawNull = true
        if (!na || !nb) {
          b += (if (na) r.get(1) else r.get(0)).asInstanceOf[Number].longValue
          b += (if (nb) r.get(0) else r.get(1)).asInstanceOf[Number].longValue
        }
      }
    }
    if (n <= cap) PackedPairs(n, b.result(), sawNull) else PackedPairs(n, null, false)
  }

  /** The [[resolveClusters]] driver path: the packed partitions (packing
    * the ones the counting pass withheld now that the total is known to
    * fit), union-find on the driver, and a result relation parallelized
    * from driver arrays with `schema`. */
  private def driverClusters(proj: DataFrame, counted: Array[PackedPairs],
                             schema: StructType): DataFrame = {
    val sc = proj.sparkSession.sparkContext
    val withheld = counted.indices.filter(counted(_).packed == null)
    val parts = counted.filter(_.packed != null) ++ (
      if (withheld.isEmpty) Array.empty[PackedPairs]
      else sc.runJob(proj.rdd, packPairs(Long.MaxValue) _, withheld))
    val (ids, root) = unionFindMin(Array.concat(parts.map(_.packed).toSeq: _*))
    // the rounds give a NULL endpoint one (NULL, NULL) row: NULL never
    // equi-joins, so its label is never set
    val nullRow = parts.exists(_.sawNull)
    val isInt = schema("doc_id").dataType == IntegerType
    val n = ids.length
    // interleaved (doc_id, cluster_id) per slice
    val slices = math.min(math.max(n, 1), sc.defaultParallelism)
    val chunks = (0 until slices).map { s =>
      val (lo, hi) = ((n.toLong * s / slices).toInt, (n.toLong * (s + 1) / slices).toInt)
      val c = new Array[Long](2 * (hi - lo))
      var i = lo
      while (i < hi) { c(2 * (i - lo)) = ids(i); c(2 * (i - lo) + 1) = ids(root(i)); i += 1 }
      (c, nullRow && s == 0)
    }
    val labeled = sc.parallelize(chunks, slices).flatMap { cw =>
      val (c, withNull) = cw
      val it = Iterator.range(0, c.length, 2).map(j =>
        if (isInt) Row(c(j).toInt, c(j + 1).toInt) else Row(c(j), c(j + 1)))
      if (withNull) it ++ Iterator.single(Row(null, null)) else it
    }
    proj.sparkSession.createDataFrame(labeled, schema)
  }

  /** Connected components of packed `(a, b)` pairs (`packed(2k)`,
    * `packed(2k+1)`): the sorted distinct endpoints `ids` and, per index,
    * the index of its component minimum. Union by min — the smaller root
    * always wins, so a root is its component's smallest id — with path
    * halving; `parent(i) <= i` throughout, so one ascending pass finishes
    * every path. */
  private def unionFindMin(packed: Array[Long]): (Array[Long], Array[Int]) = {
    val sorted = packed.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var k = 0
    while (k < sorted.length) {
      if (n == 0 || sorted(n - 1) != sorted(k)) { sorted(n) = sorted(k); n += 1 }
      k += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var i = x
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    k = 0
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

  private def resolveClustersImpl(proj: DataFrame, labels0: DataFrame,
                                  maxRounds: Int, reliable: Boolean,
                                  jumpsPerRound: Int): (DataFrame, Int, Boolean) = {
    val spark = proj.sparkSession
    // The checkpointed frame is rebuilt from its RDD (two narrow conversion
    // maps over the small label relation) to DROP the inherited
    // `originStats`: Catalyst's size-only estimator gives a join the
    // PRODUCT of its children's sizeInBytes, and Dataset.checkpoint carries
    // that BigInt forward — so the pointer-jump SELF-join would SQUARE
    // sizeInBytes every round. Squaring doubles the BigInt's digit count
    // per round, and by round ~20 the driver spends tens of seconds per
    // round inside BigInteger.multiply (Karatsuba/ToomCook) during
    // planning. Diagnosed via jstack on a minimal repro: an iterated
    // checkpointed self-join blows up (118 s/iter by iter 25) while the
    // stripped version stays flat. Fresh LogicalRDDs reset to the default
    // size estimate, which AQE replaces with real runtime sizes anyway.
    // reliable mode tracks each materialized relation's backing checkpoint
    // file (found by walking the short post-checkpoint lineage) so retired
    // rounds can be deleted eagerly instead of accumulating one snapshot
    // per round for the life of the session
    val ckptFiles = new java.util.IdentityHashMap[DataFrame, String]()
    def backingFile(rdd: org.apache.spark.rdd.RDD[_], depth: Int): Option[String] =
      if (depth > 8) None
      else rdd.getCheckpointFile.orElse(
        rdd.dependencies.view.flatMap(d => backingFile(d.rdd, depth + 1)).headOption)
    val ckpt: DataFrame => DataFrame = { df0 =>
      val ck = if (reliable) df0.checkpoint(eager = true)
               else df0.localCheckpoint(eager = true)
      val rdd = ck.rdd
      val out = spark.createDataFrame(rdd, ck.schema)
      if (reliable) backingFile(rdd, 0).foreach(p => ckptFiles.put(out, p))
      out
    }
    // delete a retired relation's checkpoint file NOW — only ever called
    // once everything derived from `df` has itself been materialized
    val retire: DataFrame => Unit = { df =>
      val p = ckptFiles.remove(df)
      if (p != null) {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
    }
    // both edge directions from ONE scan of the cached pair projection — a
    // union of two projections would read it twice, since Spark shares no
    // subplans across DataFrame branches
    val edges = edges0(proj)
    var labels = ckpt(labels0)
    // exact scalar convergence check; coalesce: an empty pair relation must
    // yield an empty result, not a NULL-sum crash
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
        .head().getDecimal(0)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val roundT0 = System.nanoTime()
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "v"), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min("cluster_id").as("nbr_min"))
      val tProp0 = System.nanoTime()
      val prop = ckpt(labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id")))
      // round k-1's snapshot is dead once `prop` is materialized
      retire(labels)
      val tProp = (System.nanoTime() - tProp0) / 1000000L
      // pointer jump: follow the label one hop (label(label(u))). Labels
      // only decrease and label(v) <= v, so the jumped label never needs a
      // `least` with the old one; left join + coalesce keeps roots (their
      // label is themselves) intact. `prop` is checkpointed first — Spark
      // shares no subplans, so an unmaterialized self-join would run the
      // propagation twice.
      val tJump0 = System.nanoTime()
      // each jump squares the compressed pointer reach; a couple of these
      // cheap |V|-row self-joins per round cuts the round count (and with
      // it the number of expensive edge-list shuffles) on components whose
      // min-id sits far from most members
      var next = prop
      var j = 0
      while (j < math.max(1, jumpsPerRound)) {
        val jumped = ckpt(next
          .join(next.select(col("doc_id").as("cluster_id"),
            col("cluster_id").as("jumped")), Seq("cluster_id"), "left")
          .select(col("doc_id"),
            coalesce(col("jumped"), col("cluster_id")).as("cluster_id")))
        retire(next)
        next = jumped
        j += 1
      }
      val tJump = (System.nanoTime() - tJump0) / 1000000L
      val tSum0 = System.nanoTime()
      val nextSum = labelSum(next)
      val tSum = (System.nanoTime() - tSum0) / 1000000L
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      round += 1
      // rounds-to-converge is THE health metric of this operator at scale
      // (a growing round count means the input stopped being near-clique)
      log.info("resolveClusters round {} took {} ms (prop={} jump={} sum={} converged={})",
        round, (System.nanoTime() - roundT0) / 1000000L, tProp, tJump, tSum, converged)
    }
    val result =
      if (converged) labels
      else {
        // High-diameter fallback: min-label propagation is diameter-bound
        // when node ids are scattered (pointer jumping only doubles reach
        // when pointer targets are nearer the minimum — true for ordered-id
        // chains, false for e.g. stride-shifted ids). Rather than throwing,
        // contract the QUOTIENT graph — edges mapped through the
        // part-propagated labels, self-loops dropped — with alternating
        // large-star/small-star (O(log² n) rounds regardless of diameter or
        // id layout), then compose the two labelings. The quotient is
        // small: only the unconverged structure survives the mapping.
        log.info("resolveClusters falling back to star contraction after {} rounds", round)
        val quotient = ckpt(edges
          .join(labels.withColumnRenamed("doc_id", "u")
            .withColumnRenamed("cluster_id", "lu"), "u")
          .join(labels.withColumnRenamed("doc_id", "v")
            .withColumnRenamed("cluster_id", "lv"), "v")
          .select(col("lu").as("doc_a"), col("lv").as("doc_b"))
          .where(col("doc_a") =!= col("doc_b"))
          .distinct())
        val l2 = starContract(quotient, ckpt, retire = retire)
        // starContract materializes its result, so the quotient edges are
        // already dead here; labels and l2 die once the composition lands
        retire(quotient)
        // materialized (via ckpt) BEFORE the caller unpersists the pairs
        val composed = ckpt(labels
          .join(l2.select(col("doc_id").as("cluster_id"),
            col("cluster_id").as("root")), Seq("cluster_id"), "left")
          .select(col("doc_id"),
            coalesce(col("root"), col("cluster_id")).as("cluster_id")))
        retire(l2)
        retire(labels)
        composed
      }
    (result, round, !converged)
  }

  /** Bidirectional edge view of a (doc_a, doc_b) pair relation from ONE
    * scan (Spark shares no subplans across branches). */
  private def edges0(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log² n) rounds on ANY graph shape —
    * the guarantee min-label propagation lacks for high-diameter
    * components with scattered ids. Each round is two grouped passes over
    * a (shrinking) edge list:
    *   large-star: every node links its strictly-larger neighbors to the
    *   minimum of its closed neighborhood;
    *   small-star: every node links its not-larger neighbors (and itself)
    *   to that minimum.
    * Termination is EXACT set equality of the canonical edge relation
    * (anti-join emptiness, not a hash probe — a hash-sum collision would
    * silently ship wrong clusters). Returns (doc_id, cluster_id = component
    * minimum) for every node appearing in `pairs`.
    *
    * Used as the [[resolveClusters]] fallback; also correct standalone
    * (PropertySpec cross-checks it against union-find on random graphs).
    *
    * The result is materialized through `ckpt` before returning (so it no
    * longer references `pairs` or any internal round), and every
    * superseded internal round is handed to `retire` as soon as its
    * replacement lands — in resolveClusters' reliable mode that deletes
    * the round's checkpoint file immediately. */
  def starContract(pairs: DataFrame, ckpt: DataFrame => DataFrame,
                   maxRounds: Int = 40,
                   retire: DataFrame => Unit = _ => ()): DataFrame = {
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
    while (!stable && round < maxRounds) {
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
        s"starContract did not reach a star fixpoint in $maxRounds rounds")
    // terminal stars: every node's label = min of its closed neighborhood;
    // nodes that contracted out of the edge set are roots of nothing —
    // they appear on the left of some surviving edge or not at all, so
    // recover labels for ALL original nodes via left join + self default
    val b = bidirect(e)
    val starLabels = b.groupBy(col("u").as("doc_id"))
      .agg(least(min(col("v")), col("doc_id")).as("cluster_id"))
    val out = ckpt(
      pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
        .join(starLabels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")))
    retire(e)
    out
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
