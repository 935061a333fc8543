package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Tokenize
import graft.operators.{CandidateFilters, PageRank, Placement, Triangles, Verification}
import graft.pipeline.{Dedup, IndexGen, Ivf, Search, Similarity, TextAnalysis}
import graft.plans.{ClusterSnapshot, PlacementRequest, PolicyEngine}

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
                val workDir: String, val failures: ArrayBuffer[String]) {
  val parts: Int = spark.sparkContext.defaultParallelism
  /** Set once the timed loop starts; parts keep per-call samples only then. */
  var timing = false
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

/** What one run of a part produced: a digest of its outputs, which must not
  * change between runs, and the check work inside it (`untimedNs`) that the
  * job's latency leaves out. */
final case class Out(digest: String, untimedNs: Long)

/** One group of layer calls inside a workload's job, with its own inputs,
  * output checks and trace-mode extras. */
trait Part {
  def inputSize: String
  /** Span names the part records; a traced job must record every one. */
  def spans: Seq[String]
  /** Spans whose spill is reported: the ones that sort or aggregate most. */
  def spilling: Seq[String] = Nil
  /** Trace-mode extras (name -> unit) that `layerExtras` fills in. */
  def extras: Seq[(String, String)] = Nil
  /** Generate the inputs and build the standing state. */
  def setup(ctx: Ctx): Unit
  /** Digest of every generated relation (same seed => same digest). */
  def inputDigest(ctx: Ctx): String
  /** Digest of the generators' first rows for `seed`, computed on the
    * driver (a different seed must give different inputs). */
  def sampleDigest(seed: Long): Int
  def run(ctx: Ctx): Out
  /** Full output checks on the outputs of the run that just finished. */
  def checkOutputs(ctx: Ctx): Unit
  /** Direct single-thread kernel timings and counts, after the timed loop. */
  def layerExtras(ctx: Ctx, spans: Map[String, SpanAgg]): Map[String, Double] = Map.empty
  /** Figures printed in the table beside the gated ones:
    * (name, value, unit, samples). */
  def report(): Seq[(String, Double, String, Int)] = Nil
}

/** A workload: its parts run in order as one job, the unit that is timed,
  * digested and (in trace mode) traced or not as a whole. `items` is the
  * job's input size in `itemUnit`s, the numerator of `items_per_s`;
  * `minJobs` is the fewest untraced jobs a run times. */
final class Workload(val name: String, val itemUnit: String, val items: Long,
                     val minJobs: Int, val parts: Seq[Part]) {
  def inputSize: String = parts.map(_.inputSize).mkString("; ")
  def spans: Seq[String] = parts.flatMap(_.spans)
  def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def inputDigest(ctx: Ctx): String = parts.map(_.inputDigest(ctx)).mkString("|")
  def sampleDigest(seed: Long): Int = parts.map(_.sampleDigest(seed)).hashCode
  def job(ctx: Ctx): Out = {
    val outs = parts.map(_.run(ctx))
    Out(outs.map(_.digest).mkString("|"), outs.map(_.untimedNs).sum)
  }
  def checkOutputs(ctx: Ctx): Unit = parts.foreach(_.checkOutputs(ctx))
  /** Untimed, before every job: drop the previous job's cached outputs (and
    * whatever the program left cached). Inputs and standing indexes are
    * local checkpoints, which this leaves alone. */
  def reset(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "fleet_graph" =>
      val nBlocks = 8000L
      // two timed jobs: at ~6 s one job's scheduling jitter is a larger
      // share than at corpus_serve's ~10 s
      new Workload(name, "blocks", nBlocks, minJobs = 2,
        Seq(new FleetAudit(nNodes = 1008, nBlocks), new CopurchaseGraph(nOrders = 20000L, nParts = 2000)))
    case "corpus_serve" =>
      val build = new CorpusBuild(nDocs = 2000L, medianTokens = 110)
      new Workload(name, "docs", build.nDocs, minJobs = 1,
        Seq(build, new IndexServe(build, nVec = 3000L)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("fleet_graph", "corpus_serve")
  /** Every workload's parts, for the metric names; constructing a
    * workload does no work. */
  lazy val all: Seq[Workload] = names.map(apply)

  /** Force full evaluation into the cache; later steps and the digest read
    * the cached rows. Cleared at the start of the next job. */
  def materialize(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** Generated inputs and standing indexes live as local checkpoints,
    * outside the SQL cache, so clearing the cache between jobs never drops
    * them. */
  def input(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Order-independent content digest: row count and the sum of row hashes. */
  def digest(df: DataFrame): String = {
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*),
      lit(2147483647L))
    val r = df.agg(count(lit(1)), sum(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** Run check work inside a job; returns its result and duration so the
    * job's latency can leave it out. */
  def untimed[T](f: => T): (T, Long) = {
    val a = System.nanoTime()
    val r = f
    (r, System.nanoTime() - a)
  }

  /** Median per-call time of `pass` (which reports its call count),
    * repeated until `minS` passed. */
  def directUs(minS: Double)(pass: () => Int): Double = {
    val samples = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (samples.size < 3 || (System.nanoTime() - t0) / 1e9 < minS) {
      val a = System.nanoTime()
      val n = pass()
      samples += (System.nanoTime() - a) / 1e3 / math.max(1, n)
    }
    Stats.median(samples.toSeq)
  }
}

import Workloads._

// ===================================================================

/** The paper's three placement queries at fleet scale: snapshot the fleet,
  * verify every block's placement and roll up the hierarchy, delete excess
  * replicas of over-replicated blocks, and re-replicate the blocks the audit
  * finds short (avoiding the degraded rack). */
final class FleetAudit(nNodes: Int, nBlocks: Long) extends Part {
  def inputSize = s"$nBlocks blocks, $nNodes nodes x 12 storages, 3 AZs"
  val spans = Seq(
    "operators.placement.snapshot",
    "operators.verification.verify_balanced_optimal",
    "operators.verification.hierarchy_stats",
    "operators.placement.choose_placements",
    "operators.placement.choose_deletions")
  override val spilling = Seq("operators.verification.verify_balanced_optimal")
  override val extras = Seq(
    "plans.policy_engine.choose_target_us" -> "us",
    "plans.policy_engine.choose_replicas_to_delete_us" -> "us")
  private var fleet: Fleet = _
  private var topology, datanodes, storages, blocks, replicas, live: DataFrame = _
  private var snap: ClusterSnapshot = _
  private var verdicts, hier, requests, candidates, removals, picks: DataFrame = _
  private var nRequests = 0L

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    fleet = Fleet(ctx.seed, nNodes, nBlocks)
    topology = input(fleet.topology(spark))
    datanodes = input(fleet.datanodes(spark))
    storages = input(fleet.storages(spark))
    blocks = input(fleet.blocks(spark, ctx.parts))
    replicas = input(fleet.replicas(spark, ctx.parts))
    val d = datanodes
    val healthy = d.where(CandidateFilters.nodeHealthy(d("registered"),
      d("decommission_in_progress"), d("decommissioned"), d("disallowed"),
      d("last_heartbeat_ms"), fleet.AsOfMs, fleet.StaleMs)).select("datanode_uuid")
    // the audit's view: replicas on degraded nodes count as lost
    live = input(replicas.join(broadcast(healthy), "datanode_uuid"))
  }

  def inputDigest(ctx: Ctx): String =
    Seq(topology, datanodes, storages, blocks, replicas).map(digest).mkString("|")

  def sampleDigest(seed: Long): Int = {
    val f = Fleet(seed, nNodes, nBlocks)
    (0L until 500L).map(f.block).hashCode ^ f.degradedRack
  }

  def run(ctx: Ctx): Out = {
    val spark = ctx.spark
    val t = ctx.tracer
    snap = t.span("operators.placement.snapshot") {
      Placement.snapshot(storages, datanodes, topology, fleet.AsOfMs, fleet.StaleMs)
    }
    verdicts = t.span("operators.verification.verify_balanced_optimal") {
      materialize(Verification.verifyBalancedOptimal(live, topology, blocks))
    }
    hier = t.span("operators.verification.hierarchy_stats") {
      materialize(Verification.hierarchyStats(live, topology))
    }
    // audit: short blocks get a re-replication request for the missing
    // replicas; blocks with more live replicas than required are
    // deletion candidates
    val roots = hier.where(col("parent") === "").select(col("block_id"), col("leaf").as("n_live"))
    requests = materialize(verdicts.where(col("reason_code") === "not_enough")
      .select("block_id").join(blocks, "block_id").join(roots, Seq("block_id"), "left")
      .select(col("block_id").as("request_id"),
        (col("require_replica") - coalesce(col("n_live"), lit(0L))).cast("int").as("additional"),
        lit(null).cast("string").as("writer_uuid"),
        array(lit(fleet.rackPath(fleet.degradedRack))).as("excludes"),
        lit(fleet.BlockSize).as("block_size")))
    candidates = materialize(roots.join(blocks, "block_id")
      .where(col("n_live") > col("require_replica"))
      .join(live, "block_id")
      .select("block_id", "require_replica", "storage_id"))
    removals = t.span("operators.placement.choose_deletions") {
      materialize(Placement.chooseDeletions(spark, snap, candidates))
    }
    picks = t.span("operators.placement.choose_placements") {
      materialize(Placement.choosePlacements(spark, snap, requests))
    }
    val (d, ns) = untimed {
      nRequests = requests.count()
      s"${snap.nodes.size}/${snap.storages.size}|" +
        Seq(verdicts, hier, requests, candidates, removals, picks).map(digest).mkString("|")
    }
    Out(d, ns)
  }

  def checkOutputs(ctx: Ctx): Unit = {
    val verdict = verdicts.select("block_id", "reason_code").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    var checked = 0
    var wrong = 0
    (0L until nBlocks).foreach { id =>
      val b = fleet.block(id)
      Shape.expected.get(b.shape).foreach { want =>
        checked += 1
        if (verdict.get(id).flatten != want) {
          wrong += 1
          if (wrong <= 5) ctx.failures += s"block $id (${Shape.names(b.shape)}) " +
            s"verdict ${verdict.get(id)} != expected $want"
        }
      }
    }
    ctx.check(checked > 0 && wrong == 0, s"$wrong of $checked injected blocks misjudged")
    ctx.check(verdict.size == nBlocks, s"${verdict.size} verdicts for $nBlocks blocks")

    // picks: no exclusion, health or storage leak; distinct nodes per request
    val excluded = fleet.rackPath(fleet.degradedRack)
    val want = requests.select("request_id", "additional").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = picks.select("request_id", "storage_id", "datanode_uuid").collect()
      .groupBy(_.getLong(0))
    var leaks = 0
    got.foreach { case (rid, rows) =>
      val nodes = rows.map(r => snap.nodeByUuid(r.getString(2)))
      val sts = rows.map(r => snap.storageById(r.getString(1)))
      leaks += nodes.count(n => !n.healthy || n.path.startsWith(excluded))
      leaks += sts.count(s => s.state != "NORMAL" || s.tpe != "DISK" || s.remaining < fleet.BlockSize)
      if (nodes.map(_.uuid).distinct.length != nodes.length) leaks += 1
      if (rows.length > want.getOrElse(rid, 0)) leaks += 1
    }
    ctx.check(leaks == 0, s"$leaks exclusion/health/storage/duplicate leaks in picks")
    ctx.check(got.size > nRequests / 2, s"only ${got.size} of $nRequests requests got picks")

    // removals: distinct, drawn from the block's candidates, exactly the excess
    val cands = candidates.collect().groupBy(_.getLong(0))
      .map { case (b, rs) => b -> (rs.head.getLong(1), rs.map(_.getString(2)).toSet) }
    val rem = removals.select("block_id", "storage_id").collect().groupBy(_.getLong(0))
    var bad = 0
    cands.foreach { case (b, (req, ids)) =>
      val r = rem.getOrElse(b, Array.empty).map(_.getString(1))
      if (r.distinct.length != r.length || !r.forall(ids.contains) ||
        r.length != ids.size - req) bad += 1
    }
    ctx.check(bad == 0 && rem.keySet.subsetOf(cands.keySet),
      s"$bad over-replicated blocks with wrong removals")
    val over = (0L until nBlocks).count(id => fleet.block(id).shape == Shape.OverReplicated)
    ctx.check(cands.size >= over, s"${cands.size} deletion candidates < $over injected")
  }

  private def requestSample(ctx: Ctx): Seq[PlacementRequest] =
    requests.limit(4000).collect().toSeq.map { r =>
      val add = r.getAs[Int]("additional")
      PlacementRequest(r.getAs[Long]("request_id"), add, None, chosen = Nil,
        returnChosen = false, excludes = r.getAs[scala.collection.Seq[String]]("excludes").toSeq,
        blockSize = r.getAs[Long]("block_size"), policy = Map("DISK" -> add.toLong))
    }

  override def layerExtras(ctx: Ctx, spans: Map[String, SpanAgg]): Map[String, Double] = {
    val reqs = requestSample(ctx)
    val sets = candidates.collect().groupBy(_.getLong(0)).values.toSeq
      .map(rs => (rs.map(_.getString(2)).toSeq, rs.head.getLong(1).toInt))
    Map(
      "plans.policy_engine.choose_target_us" -> directUs(0.5) { () =>
        reqs.foreach(q => PolicyEngine.chooseTarget(snap, q, new Random(q.requestId)))
        reqs.size
      },
      "plans.policy_engine.choose_replicas_to_delete_us" -> directUs(0.5) { () =>
        sets.foreach { case (ids, rr) => PolicyEngine.chooseReplicasToDelete(snap, ids, rr) }
        sets.size
      })
  }

  override def report(): Seq[(String, Double, String, Int)] =
    Seq(("re_replication_share", nRequests.toDouble / nBlocks, "ratio", 1))
}

// ===================================================================

/** Triangles and PageRank over a seeded power-law co-purchase graph. */
final class CopurchaseGraph(nOrders: Long, nParts: Int) extends Part {
  def inputSize = s"$nEdges co-purchase edges from $nOrders orders over $nParts parts"
  val spans = Seq("operators.triangles.per_node", "operators.page_rank.ranks_undirected")
  override val spilling = Seq("operators.triangles.per_node")
  override val extras = Seq("operators.triangles.per_node.shuffle_records_per_triangle" -> "ratio")
  private var orders: Orders = _
  private var edges, tri, ranks: DataFrame = _
  private var nEdges = 0L
  private var triangles = 0L

  def setup(ctx: Ctx): Unit = {
    orders = Orders(ctx.seed, nOrders, nParts, zipfS = 0.9)
    edges = input(orders.edges(ctx.spark, ctx.parts))
    nEdges = edges.count()
  }

  def inputDigest(ctx: Ctx): String = digest(edges)

  def sampleDigest(seed: Long): Int =
    (0L until 500L).map(Orders(seed, nOrders, nParts, 0.9).basket(_).toSeq).hashCode

  def run(ctx: Ctx): Out = {
    val t = ctx.tracer
    tri = t.span("operators.triangles.per_node") {
      materialize(Triangles.perNode(edges, "u", "v"))
    }
    ranks = t.span("operators.page_rank.ranks_undirected") {
      materialize(PageRank.ranksUndirected(edges, "u", "v"))
    }
    val (d, ns) = untimed(digest(tri) + "|" + digest(ranks))
    Out(d, ns)
  }

  /** Triangle total from a driver-side count over the collected edge list
    * (degree-ordered adjacency, sorted-merge intersections), independent
    * of the operator and of Spark. */
  private def independentTriangles(): Long = {
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    es.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
    def before(a: Long, b: Long) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = es.map { case (u, v) => if (before(u, v)) (u, v) else (v, u) }
      .groupBy(_._1).map { case (s, ds) => s -> ds.map(_._2).sorted }
    var total = 0L
    out.foreach { case (_, ns) =>
      ns.foreach { v =>
        val a = ns; val b = out.getOrElse(v, Array.empty[Long])
        var i = 0; var j = 0
        while (i < a.length && j < b.length) {
          if (a(i) < b(j)) i += 1 else if (a(i) > b(j)) j += 1
          else { total += 1; i += 1; j += 1 }
        }
      }
    }
    total
  }

  def checkOutputs(ctx: Ctx): Unit = {
    val perNodeSum = tri.agg(sum("n_triangles")).head().getLong(0)
    triangles = independentTriangles()
    ctx.check(triangles > 0 && perNodeSum == 3 * triangles,
      s"per-node triangle sum $perNodeSum != 3 x independent count $triangles")
    val nodes = edges.select(col("u").as("n")).union(edges.select(col("v"))).distinct().count()
    ctx.check(ranks.count() == nodes, s"${ranks.count()} ranks for $nodes nodes")
    ctx.check(ranks.where(col("rank_micros") <= 0).isEmpty, "non-positive PageRank")
  }

  override def layerExtras(ctx: Ctx, spans: Map[String, SpanAgg]): Map[String, Double] = Map(
    "operators.triangles.per_node.shuffle_records_per_triangle" ->
      spans.get("operators.triangles.per_node").map(_.shuffleWriteRecords / triangles).getOrElse(0.0))
}

// ===================================================================

/** The training-data pipeline over a seeded corpus: quality statistics,
  * exact dedup, MinHash-LSH near-dup pairs and their clusters,
  * decontamination against an eval set, and the BM25 index bulk-built over
  * the survivors. */
final class CorpusBuild(val nDocs: Long, medianTokens: Int) extends Part {
  def inputSize = s"$nDocs docs, lognormal lengths (median $medianTokens tokens)"
  val spans = Seq(
    "pipeline.text_analysis.text_stats",
    "pipeline.dedup.exact",
    "pipeline.dedup.minhash_lsh_pairs",
    "pipeline.dedup.resolve_clusters",
    "pipeline.dedup.contamination",
    "pipeline.search.build_index")
  override val spilling = Seq("pipeline.dedup.minhash_lsh_pairs",
    "pipeline.dedup.resolve_clusters", "pipeline.search.build_index")
  override val extras = Seq(
    "functions.tokenize.token_count_mb_per_s" -> "MB/s",
    "pipeline.dedup.minhash_lsh_pairs.dropped_buckets" -> "count",
    "pipeline.dedup.minhash_lsh_pairs.pairs_per_doc" -> "ratio")
  private var corpus: Corpus = _
  private var docs, bench: DataFrame = _
  private var stats, exact, pairs, clusters, contaminated: DataFrame = _
  /** The documents the index is built over; read by the serving part. */
  var survivors: DataFrame = _
  private var dropped: org.apache.spark.util.LongAccumulator = _
  private var droppedPerCall = 0L
  def indexDir(ctx: Ctx) = s"${ctx.workDir}/corpus_index"
  def indexFiles(ctx: Ctx): Int = 2 * ctx.parts

  def setup(ctx: Ctx): Unit = {
    corpus = Corpus(ctx.seed, nDocs, medianTokens, nBench = 200, inject = true)
    docs = input(corpus.docs(ctx.spark, ctx.parts))
    bench = input(corpus.benchmark(ctx.spark))
    dropped = ctx.spark.sparkContext.longAccumulator("perfbench.minhash.dropped_buckets")
    IndexGen.deleteRec(new java.io.File(indexDir(ctx)))
  }

  def inputDigest(ctx: Ctx): String = digest(docs) + "|" + digest(bench)

  def sampleDigest(seed: Long): Int = {
    val c = Corpus(seed, nDocs, medianTokens, 200, inject = true)
    ((0L until 100L) ++ (nDocs - 100 until nDocs)).map(c.text).hashCode
  }

  def run(ctx: Ctx): Out = {
    val t = ctx.tracer
    stats = t.span("pipeline.text_analysis.text_stats") {
      materialize(TextAnalysis.textStats(docs))
    }
    exact = t.span("pipeline.dedup.exact") { materialize(Dedup.exact(docs)) }
    dropped.reset()
    pairs = t.span("pipeline.dedup.minhash_lsh_pairs") {
      materialize(Dedup.minhashLshPairs(docs, droppedBuckets = Some(dropped)))
    }
    droppedPerCall = dropped.value
    clusters = t.span("pipeline.dedup.resolve_clusters") {
      materialize(Dedup.resolveClusters(pairs))
    }
    contaminated = t.span("pipeline.dedup.contamination") {
      materialize(Dedup.contamination(docs, bench))
    }
    survivors = materialize(docs
      .join(stats.where(col("quality_ok")).select("doc_id"), Seq("doc_id"), "left_semi")
      .join(exact.where(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .join(clusters.where(col("doc_id") =!= col("cluster_id")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti"))
    t.span("pipeline.search.build_index") {
      Search.buildIndex(survivors, "doc_id", "text", indexDir(ctx), nFiles = indexFiles(ctx))
    }
    val (d, ns) = untimed {
      val idx = IndexGen.resolve(indexDir(ctx))
      Seq(stats, exact, pairs, clusters, contaminated, survivors,
        ctx.spark.read.parquet(s"$idx/stats"), ctx.spark.read.parquet(s"$idx/termdf"))
        .map(digest).mkString("|")
    }
    Out(d, ns)
  }

  /** Survivors and the freshly built index; the serving part runs after
    * this one, so the index checked here is the one it later refreshed. */
  def checkOutputs(ctx: Ctx): Unit = {
    val kept = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    val mustGo = (0L until nDocs).filter { id =>
      val k = corpus.kind(id)
      k == DocKind.ExactDup || k == DocKind.Contaminated
    }
    val leaked = mustGo.filter(kept.contains)
    ctx.check(mustGo.nonEmpty && leaked.isEmpty,
      s"${leaked.size} of ${mustGo.size} injected duplicates/contaminated docs survived " +
        s"(first: ${leaked.take(5).mkString(",")})")
    ctx.check(kept.size > nDocs / 4, s"only ${kept.size} of $nDocs docs survived")
  }

  override def layerExtras(ctx: Ctx, spans: Map[String, SpanAgg]): Map[String, Double] = {
    val texts = docs.select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val mb = texts.map(_.numBytes().toLong).sum / (1024.0 * 1024.0)
    val us = directUs(0.5) { () => texts.foreach(Tokenize.tokenCount); 1 }
    Map(
      "functions.tokenize.token_count_mb_per_s" -> mb / (us / 1e6),
      "pipeline.dedup.minhash_lsh_pairs.dropped_buckets" -> droppedPerCall.toDouble,
      "pipeline.dedup.minhash_lsh_pairs.pairs_per_doc" -> pairs.count().toDouble / nDocs)
  }
}

// ===================================================================

/** Serving the index the build just wrote, beside a standing IVF index
  * over seeded clustered embeddings (built at set-up): a refresh of
  * `fresh` new documents and vectors, one BM25 top-k batch (Zipf terms)
  * against the refreshed index, its postings files not yet compacted, and
  * one IVF top-k batch against the refreshed IVF index, then a BM25
  * compaction, which must leave the BM25 answers unchanged. */
final class IndexServe(build: CorpusBuild, nVec: Long, fresh: Int = 100,
                       q: Int = 4, k: Int = 10) extends Part {
  def inputSize = s"$nVec vectors (dim 32) in an IVF index; +$fresh docs and vectors per refresh"
  val spans = Seq(
    "pipeline.search.bm25_topk_indexed",
    "pipeline.search.refresh_index",
    "pipeline.search.compact_index",
    "pipeline.ivf.search_index_topk",
    "pipeline.ivf.refresh_index")
  override val extras = Seq(
    "pipeline.search.postings_files" -> "count",
    "pipeline.search.bm25_topk_indexed.input_mb" -> "MB",
    "pipeline.ivf.recall_at_10" -> "ratio")
  /** Lowest IVF top-10 recall against brute force that passes the check:
    * the index probes 4 of ~55 centroids over 48 seeded clusters. */
  private val MinRecall = 0.9
  private var freshDocs: Corpus = _
  private var emb: Embeddings = _
  private var embs: DataFrame = _
  private var ivf: Ivf.IvfIndex = _
  private var recall = 0.0
  private var postingsFiles = 0
  private val bm25Ms, ivfMs, refreshS = ArrayBuffer.empty[Double]

  def setup(ctx: Ctx): Unit = {
    // fresh documents take ids after the corpus's, from a generator
    // without injected kinds
    freshDocs = Corpus(ctx.seed, Long.MaxValue / 4, 90, 0, inject = false)
    emb = Embeddings(ctx.seed, dim = 32, nClusters = 48)
    embs = input(emb.frame(ctx.spark, 0, nVec, ctx.parts))
    val built = Ivf.buildIndex(embs)
    ivf = built.copy(inv = input(built.inv))
    built.release()
  }

  def inputDigest(ctx: Ctx): String = digest(embs)

  def sampleDigest(seed: Long): Int = {
    val cp = Corpus(seed, Long.MaxValue / 4, 90, 0, inject = false)
    val e = Embeddings(seed, 32, 48)
    ((0L until 100L).map(cp.text), (0L until 20L).map(e.vec(_).toSeq)).hashCode
  }

  /** Zipf-popular English terms, 1-3 per query; seeded by the round. */
  private def queries(seed: Long, round: Int): Seq[(Long, Seq[String])] = {
    val r = Rng(seed, 51, round)
    (0 until q).map { j =>
      (j.toLong, Seq.fill(1 + r.nextInt(3))(Lang.vocab(Lang.English)(Lang.zipf.sample(r))).distinct)
    }
  }

  /** rank 1..n per query, n <= k, scores non-increasing */
  private def wellFormed(rows: Seq[(Long, Int, Long)]): Boolean =
    rows.groupBy(_._1).values.forall { rs =>
      val s = rs.sortBy(_._2)
      s.size <= k && s.map(_._2) == (1 to s.size) &&
        s.map(_._3).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))
    }

  private def postingFileCount(ctx: Ctx): Int =
    Option(new java.io.File(s"${IndexGen.resolve(build.indexDir(ctx))}/postings").list())
      .map(_.count(_.endsWith(".parquet"))).getOrElse(0)

  private def bm25(ctx: Ctx, qs: Seq[(Long, Seq[String])]): Seq[(Long, Int, Long, Long)] =
    Search.bm25TopKIndexed(ctx.spark, build.indexDir(ctx), qs, k)
      .select("query_id", "rk", "doc_id", "score_micros").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))

  /** Runs `f`, keeping its latency in `ms` once the timed loop runs. */
  private def timedCall[T](ctx: Ctx, ms: ArrayBuffer[Double])(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (ctx.timing) ms += (System.nanoTime() - t0) / 1e6
    r
  }

  def run(ctx: Ctx): Out = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = build.indexDir(ctx)
    val t0 = System.nanoTime()
    t.span("pipeline.search.refresh_index") {
      Search.refreshIndex(spark, dir,
        freshDocs.docs(spark, ctx.parts, build.nDocs, build.nDocs + fresh), "doc_id", "text")
    }
    val refreshed = t.span("pipeline.ivf.refresh_index") {
      Ivf.refreshIndex(ivf, emb.frame(spark, nVec, nVec + fresh, ctx.parts))
    }
    if (ctx.timing) refreshS += (System.nanoTime() - t0) / 1e9
    postingsFiles = postingFileCount(ctx)

    val qs = queries(ctx.seed, 0)
    val b = timedCall(ctx, bm25Ms) { t.span("pipeline.search.bm25_topk_indexed") { bm25(ctx, qs) } }
    ctx.check(b.nonEmpty && wellFormed(b.map(x => (x._1, x._2, x._4))) &&
      b.forall(x => x._3 >= 0 && x._3 < build.nDocs + fresh), "malformed BM25 result")
    val rng = Rng(ctx.seed, 52, 0)
    val ids = Seq.fill(q)(rng.nextInt((nVec + fresh).toInt).toLong).distinct
    val v = timedCall(ctx, ivfMs) {
      t.span("pipeline.ivf.search_index_topk") {
        Ivf.searchIndexTopK(refreshed, col("vec_id").isin(ids: _*), k = k).collect().toSeq
      }
    }.map(x => (x.getAs[Long]("query_id"), x.getAs[Int]("rank"),
      x.getAs[Long]("cos_micros"), x.getAs[Long]("neighbor_id")))
    ctx.check(v.nonEmpty && wellFormed(v.map(x => (x._1, x._2, x._3))) &&
      v.forall(x => x._4 >= 0 && x._4 < nVec + fresh && x._4 != x._1), "malformed IVF result")
    refreshed.release()

    t.span("pipeline.search.compact_index") {
      Search.compactIndex(spark, dir, nFiles = build.indexFiles(ctx))
    }
    // compaction is a pure re-layout: the BM25 answers stand
    val (after, ns) = untimed(bm25(ctx, qs))
    ctx.check(after == b, "compaction changed a BM25 answer")
    val rows = (b ++ v).map(_.toString)
    Out(s"${rows.size}:${MurmurHash3.seqHash(rows.sorted)}", ns)
  }

  /** After the refresh and compaction, indexed BM25 equals BM25 over the
    * same documents from scratch; IVF top-10 recall against exact brute
    * force on a seeded query sample stays above `MinRecall`. */
  def checkOutputs(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val all = build.survivors.select("doc_id", "text")
      .union(freshDocs.docs(spark, ctx.parts, build.nDocs, build.nDocs + fresh))
    val probe = queries(ctx.seed + 11, 0) ++ queries(ctx.seed + 13, 0).map { case (j, ts) => (j + q, ts) }
    val want = Search.bm25TopK(all, "doc_id", "text", probe, k)
      .select("query_id", "rk", "doc_id", "score_micros").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).sortBy(r => (r._1, r._2))
    ctx.check(want.nonEmpty && want == bm25(ctx, probe),
      "indexed BM25 differs from BM25 over the same documents after refresh and compaction")

    val r = Rng(ctx.seed, 53, 0)
    val ids = Seq.fill(40)(r.nextInt(nVec.toInt).toLong).distinct
    val pred = col("vec_id").isin(ids: _*)
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    val exact = topk(Similarity.bruteTopK(embs, pred, k = 10))
    val approx = topk(Ivf.searchIndexTopK(ivf, pred, k = 10))
    val hit = exact.map { case (qid, s) => (s & approx.getOrElse(qid, Set.empty)).size }.sum
    recall = hit.toDouble / math.max(1, exact.values.map(_.size).sum)
    ctx.check(exact.size == ids.size, s"brute-force top-k answered ${exact.size} of ${ids.size}")
    ctx.check(recall >= MinRecall, f"IVF recall@10 $recall%.3f below $MinRecall")
  }

  override def layerExtras(ctx: Ctx, spans: Map[String, SpanAgg]): Map[String, Double] = Map(
    "pipeline.search.postings_files" -> postingsFiles.toDouble,
    "pipeline.search.bm25_topk_indexed.input_mb" ->
      spans.get("pipeline.search.bm25_topk_indexed").map(_.inputMb).getOrElse(0.0),
    "pipeline.ivf.recall_at_10" -> recall)

  override def report(): Seq[(String, Double, String, Int)] = {
    val all = (bm25Ms ++ ivfMs).toSeq
    Seq(
      ("query_ms_p50", Stats.median(all), "ms", all.size),
      ("query_ms_p90", Stats.pct(all, 0.9), "ms", all.size),
      ("bm25_ms_p50", Stats.median(bm25Ms.toSeq), "ms", bm25Ms.size),
      ("ivf_ms_p50", Stats.median(ivfMs.toSeq), "ms", ivfMs.size),
      ("refresh_s_p50", Stats.median(refreshS.toSeq), "s", refreshS.size),
      ("ann_recall_at_10", recall, "ratio", 40))
  }
}
