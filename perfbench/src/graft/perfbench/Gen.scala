package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SplitMix64: a counter-based generator, so every generated row is a pure
  * function of (seed, stream, row id) — the same on the driver (ground
  * truth) and in any executor partition (the relations themselves). */
final class Rng(private var s: Long) {
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def gaussian(): Double =
    math.sqrt(-2.0 * math.log(1.0 - nextDouble())) * math.cos(2 * math.Pi * nextDouble())
}

object Rng {
  def apply(seed: Long, stream: Long, id: Long): Rng = {
    val r = new Rng(seed * 0x632BE59BD9B4E019L + stream * 0x85157AF5L)
    val a = r.nextLong()
    new Rng(a ^ (id * 0xD1B54A32D192ED03L))
  }
}

/** Zipf(s) over 0 until n by inverse-CDF binary search. */
final class Zipf(n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

final case class DocRow(doc_id: Long, text: String)
final case class BlockRow(block_id: Long, require_replica: Long)
final case class ReplicaRow(block_id: Long, replica_index: Int,
                            datanode_uuid: String, storage_id: String)
final case class EmbRow(vec_id: Long, embedding: Array[Double])
final case class EdgeRow(u: Long, v: Long)

// ===================================================================
// fleet audit
// ===================================================================

/** Injected block shapes and the verdict class each must receive. */
object Shape {
  val Normal = 0; val SingleAz = 1; val SameNode = 2; val OverReplicated = 3
  val Degraded = 4
  val names = Vector("normal", "single_az", "same_node", "over_replicated", "degraded")
  /** expected reason_code (null = satisfied) per injected shape */
  val expected: Map[Int, Option[String]] = Map(
    SingleAz -> Some("not_optimal"), SameNode -> Some("not_optimal"),
    OverReplicated -> None, Degraded -> Some("not_enough"))
}

final case class BlockSpec(id: Long, shape: Int, require: Int,
                           replicas: Vector[(Int, Int)]) // (node, storage slot)

/** A seeded fleet: `nAz` AZs x `racksPerAz` racks, nodes dealt round-robin
  * over racks, 12 storages per node. Rack *load* is Zipf-skewed over a
  * seeded rack permutation; one rack (the ninth hottest) is degraded
  * (stale heartbeats) and ~2% of nodes are decommissioning. */
final case class Fleet(seed: Long, nNodes: Int, nBlocks: Long,
                       nAz: Int = 3, racksPerAz: Int = 12) {
  val nRacks: Int = nAz * racksPerAz
  val StoragesPerNode = 12
  val AsOfMs = 1700000000000L
  val StaleMs = 30000L
  val BlockSize = 134217728L
  private val GiB = 1073741824L

  def rackOf(node: Int): Int = node % nRacks
  def azOf(rack: Int): Int = rack / racksPerAz
  def rackPath(rack: Int): String = f"/az${azOf(rack)}/r$rack%02d"
  def nodeIp(node: Int): String = s"10.${azOf(rackOf(node))}.${node / 256}.${node % 256}"
  def nodePath(node: Int): String = s"${rackPath(rackOf(node))}/${nodeIp(node)}"
  def uuid(node: Int): String = s"dn-$node"
  def storageId(node: Int, slot: Int): String = f"st-$node-$slot%02d"

  /** rack index by load rank (0 = hottest) */
  val rackByLoad: Vector[Int] = {
    val r = Rng(seed, 11, 0)
    (0 until nRacks).toVector.map(i => (r.nextLong(), i)).sortBy(_._1).map(_._2)
  }
  private val rackLoad = new Zipf(nRacks, 1.1)
  val degradedRack: Int = rackByLoad(8)
  val decommissioning: Set[Int] = {
    val r = Rng(seed, 12, 0)
    (0 until nNodes).filter(_ => r.nextInt(50) == 0).toSet
  }
  def healthy(node: Int): Boolean =
    rackOf(node) != degradedRack && !decommissioning.contains(node)
  val nodesOfRack: Vector[Vector[Int]] =
    (0 until nRacks).toVector.map(r => (r until nNodes by nRacks).toVector)
  private val healthyOfRack = nodesOfRack.map(_.filter(healthy))
  private val degradedNodes: Vector[Int] = (0 until nNodes).filterNot(healthy).toVector

  def topology(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until nNodes).map { i =>
      val rk = rackOf(i)
      (i.toLong, uuid(i), nodeIp(i), s"host-$i", s"az${azOf(rk)}", f"r$rk%02d", nodePath(i))
    }.toDF("node_id", "datanode_uuid", "ip", "hostname", "dc", "rack", "path")
  }

  def datanodes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until nNodes).map { i =>
      val r = Rng(seed, 13, i)
      val hb = if (rackOf(i) == degradedRack) AsOfMs - 600000L else AsOfMs - r.nextInt(200) * 100L
      (uuid(i), true, decommissioning.contains(i), false, false, hb, r.nextInt(40))
    }.toDF("datanode_uuid", "registered", "decommission_in_progress",
      "decommissioned", "disallowed", "last_heartbeat_ms", "xceiver_count")
  }

  /** Slots 0-1 are always NORMAL DISK with room (replicas live there);
    * the rest mix types, READ_ONLY_SHARED / FAILED states and full disks,
    * so a storage-filter leak in the greedy would show in the picks. */
  def storages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val types = Vector("DISK", "DISK", "DISK", "DISK", "DISK", "DISK",
      "SSD", "SSD", "ARCHIVE", "ARCHIVE", "RAM_DISK", "RAM_DISK")
    (for (i <- 0 until nNodes; slot <- 0 until StoragesPerNode) yield {
      val r = Rng(seed, 14, i.toLong * StoragesPerNode + slot)
      val state =
        if (slot < 2) "NORMAL"
        else r.nextInt(20) match { case 0 => "FAILED"; case 1 => "READ_ONLY_SHARED"; case _ => "NORMAL" }
      val capacity = (64 + r.nextInt(4032)) * GiB
      val remaining =
        if (slot >= 2 && r.nextInt(15) == 0) BlockSize / 2
        else capacity - r.nextInt((capacity / GiB).toInt / 2) * GiB
      (storageId(i, slot), uuid(i), state, types(slot), capacity, capacity - remaining, remaining)
    }).toDF("storage_id", "datanode_uuid", "state", "type", "capacity", "used", "remaining")
  }

  private def healthyNodeIn(rack: Int, r: Rng): Int = {
    val ns = healthyOfRack(rack)
    ns(r.nextInt(ns.size))
  }
  /** `k` distinct non-degraded racks of one AZ */
  private def racksIn(az: Int, k: Int, r: Rng): Vector[Int] = {
    val all = (az * racksPerAz until (az + 1) * racksPerAz)
      .filter(rk => rk != degradedRack && healthyOfRack(rk).nonEmpty).toVector
    all.map(x => (r.nextLong(), x)).sortBy(_._1).take(k).map(_._2)
  }
  /** `c` replicas spread optimally: AZ round robin, distinct racks per AZ,
    * healthy nodes. */
  private def spread(c: Int, r: Rng): Vector[Int] = {
    val az0 = r.nextInt(nAz)
    val perAz = (0 until c).groupBy(k => (az0 + k) % nAz)
    perAz.toVector.sortBy(_._1).flatMap { case (az, ks) =>
      racksIn(az, ks.size, r).map(rk => healthyNodeIn(rk, r))
    }
  }

  def block(id: Long): BlockSpec = {
    val r = Rng(seed, 15, id)
    val u = r.nextInt(100)
    if (u < 4) {
      val req = 2 + r.nextInt(2)
      val az = r.nextInt(nAz)
      BlockSpec(id, Shape.SingleAz, req, racksIn(az, req, r).map(rk => (healthyNodeIn(rk, r), 0)))
    } else if (u < 7) {
      val req = 2 + r.nextInt(2)
      val rest = spread(req - 1, r)
      BlockSpec(id, Shape.SameNode, req, ((rest.head, 1) +: rest.map((_, 0))))
    } else if (u < 12) {
      val req = 1 + r.nextInt(3)
      val c = req + 1 + r.nextInt(2)
      BlockSpec(id, Shape.OverReplicated, req, spread(c, r).map((_, 0)))
    } else if (u < 15) {
      val req = 2 + r.nextInt(3)
      val nodes = spread(req - 1, r) :+ degradedNodes(r.nextInt(degradedNodes.size))
      BlockSpec(id, Shape.Degraded, req, nodes.map((_, 0)))
    } else {
      val req = Vector(1, 2, 3, 3, 3, 3, 4, 5)(r.nextInt(8))
      val c = if (r.nextInt(5) == 0) req - 1 else req
      val nodes = (0 until c).map { _ =>
        val rk = rackByLoad(rackLoad.sample(r))
        val ns = nodesOfRack(rk)
        ns(r.nextInt(ns.size))
      }
      BlockSpec(id, Shape.Normal, req, nodes.toVector.map((_, 0)))
    }
  }

  def blocks(spark: SparkSession, parts: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(0, nBlocks, 1, parts).as[Long].mapPartitions { it =>
      it.map { id => BlockRow(id, self.block(id).require.toLong) }
    }.toDF()
  }

  def replicas(spark: SparkSession, parts: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(0, nBlocks, 1, parts).as[Long].mapPartitions { it =>
      it.flatMap { id =>
        self.block(id).replicas.zipWithIndex.map { case ((n, slot), k) =>
          ReplicaRow(id, k, self.uuid(n), self.storageId(n, slot))
        }
      }
    }.toDF()
  }
}

// ===================================================================
// corpora
// ===================================================================

/** Synthetic languages: a fixed (seed-independent) syllable vocabulary per
  * language, Zipf word frequencies, the language's real stopwords mixed in
  * (the quality filter counts English stopwords), and sentence punctuation. */
object Lang {
  private val syllables = Vector(
    Vector("ta", "re", "mo", "ki", "lu", "sa", "ne", "po", "di", "ga", "vo", "mi"),
    Vector("sch", "ber", "ung", "ein", "hal", "te", "lich", "kra", "dor", "wen", "zu", "fel"),
    Vector("eau", "ran", "que", "lle", "mon", "ver", "tion", "pre", "sou", "chi", "bal", "gne"),
    Vector("ar", "che", "ido", "mas", "que", "rro", "bla", "ndo", "ci", "os", "pue", "ga"),
    Vector("qx", "zy", "vk", "jw", "xq", "yz", "kv", "wj", "qz", "xv", "jy", "kw")) // eval set
  val stop: Vector[Vector[String]] = Vector(
    Vector("the", "and", "of", "to", "a", "in", "is", "that"),
    Vector("der", "die", "und", "das", "nicht", "ist", "ein"),
    Vector("le", "la", "et", "les", "des", "une", "est"),
    Vector("el", "de", "que", "los", "una", "es", "y"),
    Vector("qj", "zx", "vq")) // eval stopwords share nothing with the corpus
  val VocabSize = 6000
  val vocab: Vector[Vector[String]] = syllables.map { syl =>
    val k = syl.size
    (0 until VocabSize).toVector.map { i =>
      val n = 1 + (i % 3)
      var x = i / 3
      val sb = new StringBuilder
      (0 to n).foreach { _ => sb.append(syl(x % k)); x /= k }
      sb.append(i % 97).toString
    }
  }
  val English = 0; val German = 1; val French = 2; val Spanish = 3; val Eval = 4
  val zipf = new Zipf(VocabSize, 1.05)

  /** `n` tokens of language `lang`, sentences of ~12 words. */
  def words(lang: Int, n: Int, r: Rng): Vector[String] =
    Vector.tabulate(n) { _ =>
      if (r.nextInt(4) == 0) stop(lang)(r.nextInt(stop(lang).size))
      else vocab(lang)(zipf.sample(r))
    }

  def render(ws: Vector[String], r: Rng): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < ws.size) {
      if (i > 0) sb.append(if (r.nextInt(12) == 0) ". " else " ")
      sb.append(ws(i)); i += 1
    }
    sb.append('.').toString
  }
}

/** Injected document kinds of the corpus build. */
object DocKind {
  val Normal = 0; val ExactDup = 1; val NearDup = 2; val Boilerplate = 3
  val Contaminated = 4; val Cjk = 5
}

/** A seeded training corpus: lognormal lengths (median ~`medianTokens`),
  * an en/de/fr/es/CJK mix, exact duplicates (case/whitespace variants of an
  * earlier document), near-duplicates (~3% token edits), boilerplate-heavy
  * pages that collapse into degenerate LSH buckets, and documents that quote
  * a passage of the eval set (`benchmark`, a disjoint vocabulary). */
final case class Corpus(seed: Long, nDocs: Long, medianTokens: Int,
                        nBench: Int, inject: Boolean) {
  private val boiler: Vector[String] =
    Lang.words(Lang.English, 60, Rng(seed, 21, 0))

  def kind(id: Long): Int =
    if (!inject || id < nDocs / 2) {
      if (Rng(seed, 22, id).nextInt(100) < 4) DocKind.Cjk else DocKind.Normal
    } else Rng(seed, 22, id).nextInt(100) match {
      case u if u < 6 => DocKind.ExactDup
      case u if u < 14 => DocKind.NearDup
      case u if u < 20 => DocKind.Boilerplate
      case u if u < 24 => DocKind.Contaminated
      case u if u < 28 => DocKind.Cjk
      case _ => DocKind.Normal
    }

  /** source document of a duplicate: a Normal document in the first half */
  def source(id: Long): Long = {
    val r = Rng(seed, 23, id)
    var s = r.nextInt((nDocs / 2).toInt).toLong
    while (kind(s) != DocKind.Normal) s = r.nextInt((nDocs / 2).toInt).toLong
    s
  }

  private def lengthOf(r: Rng): Int =
    math.max(8, math.min(2000, (medianTokens * math.exp(0.6 * r.gaussian())).toInt))

  private def baseWords(id: Long): Vector[String] = {
    val r = Rng(seed, 24, id)
    val u = r.nextInt(100)
    val lang = if (u < 62) Lang.English else if (u < 75) Lang.German
      else if (u < 88) Lang.French else Lang.Spanish
    Lang.words(lang, lengthOf(r), r)
  }

  private def benchWords(b: Int): Vector[String] = {
    val r = Rng(seed, 25, b)
    Lang.words(Lang.Eval, 40 + r.nextInt(80), r)
  }

  def benchText(b: Int): String = Lang.render(benchWords(b), Rng(seed, 27, b))

  def text(id: Long): String = {
    val r = Rng(seed, 26, id)
    kind(id) match {
      case DocKind.Normal => Lang.render(baseWords(id), r)
      case DocKind.ExactDup =>
        // same normalized fingerprint: case and whitespace runs change only
        val t = text(source(id))
        t.split(' ').map(w => if (r.nextInt(3) == 0) w.toUpperCase else w)
          .mkString(if (r.nextInt(2) == 0) "  " else " \t ")
      case DocKind.NearDup =>
        val ws = baseWords(source(id))
        Lang.render(ws.map(w => if (r.nextInt(33) == 0) Lang.vocab(0)(r.nextInt(50)) else w),
          Rng(seed, 26, source(id)))
      case DocKind.Boilerplate =>
        Lang.render(Lang.words(Lang.English, 8 + r.nextInt(16), r) ++ boiler, r)
      case DocKind.Contaminated =>
        val b = benchWords(r.nextInt(nBench))
        val at = r.nextInt(b.size - 24)
        val ws = baseWords(id)
        Lang.render(ws.take(ws.size / 2) ++ b.slice(at, at + 24) ++ ws.drop(ws.size / 2), r)
      case _ => // CJK: non-ASCII text with few [a-z0-9] runs
        val n = lengthOf(r)
        Seq.fill(n)(new String(Character.toChars(0x4E00 + r.nextInt(2000)))).mkString
    }
  }

  def docs(spark: SparkSession, parts: Int, from: Long = 0L, until: Long = -1L): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from, if (until < 0) nDocs else until, 1, parts).as[Long]
      .map(id => DocRow(id, self.text(id))).toDF()
  }

  def benchmark(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until nBench).map(b => DocRow(b.toLong, benchText(b))).toDF()
  }
}

/** Seeded clustered embeddings: `nClusters` Gaussian centres, unit-scale
  * noise around each. */
final case class Embeddings(seed: Long, dim: Int, nClusters: Int) {
  private val centres: Array[Array[Double]] = Array.tabulate(nClusters) { c =>
    val r = Rng(seed, 31, c)
    Array.fill(dim)(r.gaussian())
  }
  def vec(id: Long): Array[Double] = {
    val r = Rng(seed, 32, id)
    val c = centres(r.nextInt(nClusters))
    Array.tabulate(dim)(i => c(i) + 0.35 * r.gaussian())
  }
  def frame(spark: SparkSession, from: Long, until: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from, until, 1, parts).as[Long].map(id => EmbRow(id, self.vec(id))).toDF()
  }
}

/** Seeded co-purchase graph: orders with 1-7 parts drawn from a Zipf
  * popularity law; every within-basket pair is an edge, so node degrees
  * follow a power law and the wedge count grows with sum(deg^2). */
final case class Orders(seed: Long, nOrders: Long, nParts: Int, zipfS: Double) {
  private val pop = new Zipf(nParts, zipfS)
  /** seeded part-id permutation so popularity is not id-ordered */
  private val perm: Array[Int] = {
    val r = Rng(seed, 41, 0)
    Array.tabulate(nParts)(i => (r.nextLong(), i)).sortBy(_._1).map(_._2)
  }
  def basket(order: Long): Array[Long] = {
    val r = Rng(seed, 42, order)
    val size = 1 + math.min(6, (-math.log(1.0 - r.nextDouble()) * 2.2).toInt)
    Array.fill(size)(perm(pop.sample(r)).toLong).distinct
  }
  /** distinct undirected edges (u < v) */
  def edges(spark: SparkSession, parts: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(0, nOrders, 1, parts).as[Long].flatMap { o =>
      val b = self.basket(o)
      for (i <- b.indices; j <- b.indices if b(i) < b(j)) yield EdgeRow(b(i), b(j))
    }.distinct().toDF()
  }
}
