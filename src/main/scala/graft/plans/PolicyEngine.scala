package graft.plans

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** Compact datanode descriptor carried in the broadcast snapshot. */
final case class NodeMeta(uuid: String, path: String, healthy: Boolean, xceivers: Int)

/** Compact storage descriptor carried in the broadcast snapshot. */
final case class StorageMeta(id: String, nodeUuid: String, state: String,
                             tpe: String, remaining: Long)

/** Allocation request — the Spark-side shape of the reference's
  * `chooseTarget` signature (`CrossAZBlockPlacementPolicy.java:104-112`).
  * `favored` carries the favored-datanode overload the reference test
  * exercises (`TestCrossAZBlockPlacementPolicy.java:371-375`). */
final case class PlacementRequest(
    requestId: Long,
    additional: Int,
    writerUuid: Option[String],
    chosen: Seq[String],          // storage ids already holding replicas
    returnChosen: Boolean,
    excludes: Seq[String],        // node-path prefixes
    blockSize: Long,
    policy: Map[String, Long],    // preferred storage type -> count
    favored: Seq[String] = Nil)   // favored datanode uuids, in preference order

/** Immutable cluster-metadata snapshot, broadcast to executors.
  *
  * Cluster metadata is small by nature (even 10k nodes x 12 storages is a
  * few MB), while the *request/fact* dimension is what scales to 100 TB —
  * so the scalable shape is: broadcast the snapshot, run the per-request
  * greedy decision procedures data-parallel inside executors
  * (`Placement.choosePlacements` / `chooseDeletions`). A snapshot is
  * serialized once however many operators run over it: it owns one
  * broadcast of itself, created on first use and released by Spark's
  * cleaner once the snapshot is unreachable. */
final case class ClusterSnapshot(nodes: Vector[NodeMeta], storages: Vector[StorageMeta])
    extends Serializable {

  @transient private var shared: (SparkContext, Broadcast[ClusterSnapshot]) = _

  /** This snapshot's broadcast in `sc` (again in a later context). */
  def broadcast(sc: SparkContext): Broadcast[ClusterSnapshot] = synchronized {
    if (shared == null || (shared._1 ne sc)) shared = (sc, sc.broadcast(this))
    shared._2
  }

  @transient lazy val nodeByUuid: Map[String, NodeMeta] = nodes.map(n => n.uuid -> n).toMap
  @transient lazy val nodeByPath: Map[String, NodeMeta] = nodes.map(n => n.path -> n).toMap
  @transient lazy val storagesByNode: Map[String, Vector[StorageMeta]] =
    storages.groupBy(_.nodeUuid)
  @transient lazy val storageById: Map[String, StorageMeta] = storages.map(s => s.id -> s).toMap
  /** Topology tree as parent path -> sorted child paths ("" is root). */
  @transient lazy val childrenOf: Map[String, Vector[String]] = {
    val edges = nodes.flatMap { n =>
      PolicyEngine.ancestorEdges(n.path)
    }.distinct
    edges.groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).sorted }
  }
  @transient lazy val numDcs: Int = childrenOf.getOrElse("", Vector.empty).size
}

/** Mutable mini-topology: the Spark-free analog of the reference's
  * `new NetworkTopology()` used for `currently_had` (chooseTarget) and
  * `constructed` (chooseReplicasToDelete). Tracks, per inner path, which
  * children are occupied and how many leaves sit under each. */
final class MiniTopo {
  private val leaves = mutable.Set.empty[String]
  // parent path -> (child path -> leaf count under child)
  private val kids = mutable.Map.empty[String, mutable.SortedMap[String, Int]]

  def add(leafPath: String): Unit = if (leaves.add(leafPath)) {
    PolicyEngine.ancestorEdges(leafPath).foreach { case (p, c) =>
      val m = kids.getOrElseUpdate(p, mutable.SortedMap.empty)
      m(c) = m.getOrElse(c, 0) + 1
    }
  }

  def remove(leafPath: String): Unit = if (leaves.remove(leafPath)) {
    PolicyEngine.ancestorEdges(leafPath).foreach { case (p, c) =>
      kids.get(p).foreach { m =>
        val n = m(c) - 1
        if (n == 0) m.remove(c) else m(c) = n
        if (m.isEmpty) kids.remove(p)
      }
    }
  }

  def contains(leafPath: String): Boolean = leaves.contains(leafPath)

  /** Child path -> leaf count below it, for a given inner path. */
  def childrenWithCounts(parent: String): Map[String, Int] =
    kids.get(parent).map(_.toMap).getOrElse(Map.empty)

  /** Number of occupied direct children of `parent`. */
  def childCount(parent: String): Int = kids.get(parent).map(_.size).getOrElse(0)
}

/** The placement decision procedures (P1–P9, P13–P14), re-derived from the
  * reference semantics (`CrossAZBlockPlacementPolicy.java:104-279,295-363,
  * 518-721`) as plain Scala over [[ClusterSnapshot]].
  *
  * Deliberate deviations, each for determinism (the reference's unseeded
  * randomness / HashMap iteration order cannot be reproduced and its own
  * tests only assert structure-level invariants):
  *  - randomized orders use a caller-provided seeded [[Random]];
  *  - comparator ties break on storage id / child path;
  *  - the leaf pick takes the *best* storage by the prefer order
  *    (preferred type, most space by 100 GiB bucket, fewest xceivers) —
  *    the reference's `.max(prefer)` at `:606` inverts its own comparator
  *    and its space key at `:154` has a precedence slip; we implement the
  *    documented intent ("prefer suggested storage", "more free space
  *    first, round to 100GB", "less workload first").
  */
object PolicyEngine {

  val DefaultRack = "/default-rack"
  val Bucket100GiB = 107374182400L

  /** ("", "/dc") :: ("/dc", "/dc/rack") :: ("/dc/rack", path) :: Nil */
  def ancestorEdges(leafPath: String): List[(String, String)] = {
    val i1 = leafPath.indexOf('/', 1)
    val i2 = if (i1 < 0) -1 else leafPath.indexOf('/', i1 + 1)
    if (i1 < 0 || i2 < 0) List("" -> leafPath)
    else {
      val dc = leafPath.substring(0, i1)
      val rack = leafPath.substring(0, i2)
      List("" -> dc, dc -> rack, rack -> leafPath)
    }
  }

  def topRack(path: String): String = {
    val i = path.indexOf('/', 1)
    if (i < 0) path else path.substring(0, i)
  }

  def parentPath(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i <= 0) "" else path.substring(0, i)
  }

  private def level(path: String): Int = path.count(_ == '/')

  // ------------------------------------------------------------ chooseTarget

  /** P1–P9: select `additional` storages, balanced across the topology.
    * Returns picks in selection order (plus the provided chosen storages
    * when `returnChosen`). */
  def chooseTarget(snap: ClusterSnapshot, req: PlacementRequest,
                   rnd: Random): Vector[StorageMeta] = {
    val chosenStorages = req.chosen.flatMap(snap.storageById.get).toVector
    val chosenNodes = chosenStorages.flatMap(s => snap.nodeByUuid.get(s.nodeUuid))

    // P2/P16: top-level racks of chosen + writer + excludes, DEFAULT_RACK
    // dropped; unknown racks resolve to root "" (ref :117-138, :730-742).
    def resolveTopRack(path: String): String = {
      val tr = topRack(path)
      if (snap.childrenOf.getOrElse("", Vector.empty).contains(tr)) tr else ""
    }
    val writerPath = req.writerUuid.flatMap(snap.nodeByUuid.get).map(_.path)
    val topRacks: Set[String] =
      (chosenNodes.map(n => resolveTopRack(n.path)) :+
        resolveTopRack(writerPath.getOrElse(DefaultRack))) .toSet ++
        req.excludes.map(topRack).toSet -- Set(DefaultRack)
    val selectionRoot = if (topRacks.size == 1) topRacks.head else ""

    // P4: preferred-type multiset, decremented on consume (ref :141-149,:190-203).
    val preferType = mutable.Map.empty[String, Long] ++= req.policy
    val currentlyHad = new MiniTopo
    chosenNodes.foreach(n => currentlyHad.add(n.path))

    def nodeExcluded(path: String): Boolean = req.excludes.exists(path.startsWith)
    def storageOk(st: StorageMeta): Boolean =
      st.state != "FAILED" && st.state != "READ_ONLY_SHARED" &&
        st.remaining >= req.blockSize &&
        (preferType.isEmpty || preferType.contains(st.tpe)) &&
        !currentlyHad.contains(snap.nodeByUuid(st.nodeUuid).path)
    def preferKey(st: StorageMeta): (Int, Long, Int, String) = (
      if (preferType.contains(st.tpe)) 0 else 1,
      -(st.remaining / Bucket100GiB),
      snap.nodeByUuid(st.nodeUuid).xceivers,
      st.id)
    def consume(st: StorageMeta): Unit = {
      currentlyHad.add(snap.nodeByUuid(st.nodeUuid).path)
      preferType.updateWith(st.tpe) {
        case Some(v) => if (v - 1 < 0) None else Some(v - 1)
        case None => None
      }
    }

    // P7: recursive balanced allocation (ref :587-721).
    def selectInNode(nodePath: String, expected: Int): Vector[StorageMeta] = {
      if (expected <= 0) return Vector.empty
      snap.nodeByPath.get(nodePath) match {
        case Some(leaf) => // leaf: best storage of a healthy node
          if (!leaf.healthy) Vector.empty
          else {
            val best = snap.storagesByNode.getOrElse(leaf.uuid, Vector.empty)
              .filter(storageOk).minByOption(preferKey)
            best.foreach(consume)
            best.toVector
          }
        case None =>
          val available = snap.childrenOf.getOrElse(nodePath, Vector.empty)
            .filterNot(nodeExcluded)
          if (available.isEmpty) return Vector.empty
          val currentLoad = currentlyHad.childrenWithCounts(nodePath)
          val newGroups = available.filterNot(currentLoad.contains)
          val allocation = mutable.SortedMap.empty[String, Int]
          var remaining = expected

          if (newGroups.nonEmpty) {
            if (expected < newGroups.size) {
              // fits entirely in untouched groups: random spread (ref :641-655)
              val out = Vector.newBuilder[StorageMeta]
              var got = 0
              for (g <- rnd.shuffle(newGroups) if got < expected) {
                val picked = selectInNode(g, 1)
                out ++= picked; got += picked.size
              }
              return out.result()
            }
            // fill new groups up to the current max load (ref :657-672)
            val alloc = expected / newGroups.size
            val maxLoad = currentLoad.values.maxOption.getOrElse(0)
            val load = if (maxLoad > 0) math.min(alloc, maxLoad) else alloc
            newGroups.foreach(g => allocation(g) = load)
            remaining = expected - load * newGroups.size
          }

          // round-robin the tail onto least-loaded groups (ref :675-705)
          val speculate = mutable.Map.empty[String, Int]
          (currentLoad.toSeq ++ allocation.toSeq)
            .filterNot { case (g, _) => nodeExcluded(g) }
            .foreach { case (g, v) => speculate(g) = speculate.getOrElse(g, 0) + v }
          for (_ <- 0 until remaining if speculate.nonEmpty) {
            val (g, _) = speculate.minBy { case (k, v) => (v, k) }
            allocation(g) = allocation.getOrElse(g, 0) + 1
            speculate(g) = speculate(g) + 1
          }

          // drill down, truncating at this invocation's quota (ref :708-720)
          val out = Vector.newBuilder[StorageMeta]
          var got = 0
          for ((g, a) <- allocation if got < expected) {
            val picked = selectInNode(g, math.min(a, expected - got))
            out ++= picked; got += picked.size
          }
          out.result()
      }
    }

    val rootNode = if (snap.childrenOf.contains(selectionRoot) ||
      snap.nodeByPath.contains(selectionRoot)) selectionRoot else ""

    // Favored-nodes seeding. The reference inherits the base
    // `BlockPlacementPolicy` favored overload
    // (`TestCrossAZBlockPlacementPolicy.java:371-375` drives it); we
    // implement the useful HDFS-default-policy semantics: each eligible
    // favored node (healthy, not excluded, not already holding a replica,
    // with a storage passing the same state/type/space filters) is picked
    // FIRST, in the caller's preference order, counting against the quota.
    // The balanced remainder then spreads around the favored picks exactly
    // as it spreads around already-chosen replicas (they seed
    // `currently_had` via `consume`).
    val favoredPicks = Vector.newBuilder[StorageMeta]
    var nFavored = 0
    req.favored.distinct.foreach { uuid =>
      if (nFavored < req.additional) {
        snap.nodeByUuid.get(uuid).foreach { n =>
          if (n.healthy && !nodeExcluded(n.path) && !currentlyHad.contains(n.path)) {
            snap.storagesByNode.getOrElse(n.uuid, Vector.empty)
              .filter(storageOk).minByOption(preferKey).foreach { st =>
                consume(st); favoredPicks += st; nFavored += 1
              }
          }
        }
      }
    }
    val favored = favoredPicks.result()
    val rest = req.additional - favored.size
    val selected = favored ++ selectInNode(rootNode, rest).take(rest)
    if (req.returnChosen) selected ++ chosenStorages else selected
  }

  /** Favored nodes eligible to be seeded by [[chooseTarget]] at request
    * start: deduplicated, present in the snapshot, healthy, outside every
    * excluded subtree, not already holding a replica, with at least one
    * storage passing the state/type/space filters. Shared by the invariant
    * summary so the gate and the greedy cannot drift. */
  def favoredEligible(snap: ClusterSnapshot, req: PlacementRequest): Vector[NodeMeta] = {
    val chosenNodePaths = req.chosen.flatMap(snap.storageById.get)
      .flatMap(s => snap.nodeByUuid.get(s.nodeUuid)).map(_.path).toSet
    val preferType = req.policy
    req.favored.distinct.flatMap(snap.nodeByUuid.get).filter { n =>
      n.healthy &&
        !req.excludes.exists(n.path.startsWith) &&
        !chosenNodePaths.contains(n.path) &&
        snap.storagesByNode.getOrElse(n.uuid, Vector.empty).exists(st =>
          st.state != "FAILED" && st.state != "READ_ONLY_SHARED" &&
            st.remaining >= req.blockSize &&
            (preferType.isEmpty || preferType.contains(st.tpe)))
    }.toVector
  }

  // --------------------------------------------------- chooseReplicasToDelete

  /** P13–P14: greedy excess-replica deletion (ref :295-363, comparator
    * :518-585). Returns removals in order; empty when nothing sensible can
    * be removed (all-FAILED remainder, or candidates within quota). */
  def chooseReplicasToDelete(snap: ClusterSnapshot, candidateIds: Seq[String],
                             configReplica: Int): Vector[StorageMeta] = {
    val candidates = candidateIds.distinct.flatMap(snap.storageById.get).toVector
    // 2-DC special case: keep at least 2 per DC (ref :302-306)
    val expected =
      if (snap.numDcs == 2 && configReplica > 1) math.min(4, configReplica)
      else configReplica
    if (candidates.size <= expected) return Vector.empty

    val byNode = mutable.Map.empty[String, mutable.SortedMap[String, StorageMeta]]
    candidates.foreach { st =>
      byNode.getOrElseUpdate(st.nodeUuid, mutable.SortedMap.empty)(st.id) = st
    }
    val constructed = new MiniTopo
    byNode.keys.foreach(u => constructed.add(snap.nodeByUuid(u).path))

    def healthKey(st: StorageMeta): Int = if (st.state == "FAILED") -1 else 0
    def spaceCmp(l: StorageMeta, r: StorageMeta): Int = {
      val h = Integer.compare(healthKey(l), healthKey(r))
      if (h != 0) h
      else {
        val s = java.lang.Long.compare(l.remaining, r.remaining)
        if (s != 0) s else l.id.compareTo(r.id)
      }
    }
    // P14 comparator against the evolving constructed topology
    def cmp(l: StorageMeta, r: StorageMeta): Int = {
      val ln = snap.nodeByUuid(l.nodeUuid)
      val rn = snap.nodeByUuid(r.nodeUuid)
      if (ln.uuid == rn.uuid) spaceCmp(l, r)
      else if (parentPath(ln.path) == parentPath(rn.path)) spaceCmp(l, r)
      else {
        val lev = -Integer.compare(level(ln.path), level(rn.path))
        if (lev != 0) lev
        else {
          var lt = ln.path
          var rt = rn.path
          var res = 0
          var done = false
          while (!done) {
            val c = -Integer.compare(constructed.childCount(parentPath(lt)),
              constructed.childCount(parentPath(rt)))
            if (c != 0) { res = c; done = true }
            else {
              val lp = parentPath(lt)
              val rp = parentPath(rt)
              if (lp == rp) { res = spaceCmp(l, r); done = true }
              else { lt = lp; rt = rp }
            }
          }
          res
        }
      }
    }

    val removed = Vector.newBuilder[StorageMeta]
    for (_ <- 0 until candidates.size - expected) {
      val all = byNode.values.flatMap(_.values)
      if (all.nonEmpty) {
        val victim = all.min(Ordering.fromLessThan[StorageMeta]((a, b) => cmp(a, b) < 0))
        removed += victim
        val set = byNode(victim.nodeUuid)
        set.remove(victim.id)
        if (set.isEmpty) {
          byNode.remove(victim.nodeUuid)
          constructed.remove(snap.nodeByUuid(victim.nodeUuid).path)
        }
      }
    }
    val anyUsableLeft = byNode.values.exists(_.values.exists(_.state != "FAILED"))
    if (anyUsableLeft) removed.result() else Vector.empty
  }
}
