package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The small-graph path the graph operators share: `Dedup.resolveClusters`,
  * [[Triangles.perNode]] and [[PageRank.ranks]]. At or under [[MaxEdges]]
  * edges a single thread finishes any of them in milliseconds to seconds,
  * while their Spark plans pay a dozen or more stages of scheduling and
  * exchanges the data size does not need. Each operator [[collect]]s its
  * edge relation once, runs an in-memory kernel over the packed edges, and
  * returns a [[relation]] built from the kernel's arrays. Above the bound,
  * or for ids that are not INT/BIGINT, the operator runs its Spark plan.
  *
  * Above the bound no operator evaluates its input a second time:
  * `resolveClusters` persists its pair projection before collecting it
  * (both its paths read that cache), and the Triangles and PageRank Spark
  * plans read the collect job's executed RDD
  * (`graftbridge.PlanBridge.overExecuted`), reusing its shuffle outputs.
  *
  * The result relation is parallelized from driver-held arrays, so it
  * holds no executor blocks: an executor loss recomputes it from the
  * driver, and the path needs no checkpoint, no cache and no broadcast. */
object DriverGraph {

  /** Edge-count ceiling for the driver path, sized for driver memory and
    * not for any input: 2^20 edges are 16 MB packed, and every kernel's
    * working set (the packed edges, sorted distinct ids, int-indexed edge
    * and node arrays) stays under ~80 MB. `PageRank.ranksUndirected`'s
    * bound counts pairs, so its kernel holds up to 2^21 directed edges
    * (32 MB packed). */
  val MaxEdges: Long = 1L << 20

  /** Collected edges: endpoint pairs packed as longs (`packed(2k)`,
    * `packed(2k+1)`), both endpoints of a pair with no NULL and `(x, x)`
    * for the non-NULL endpoint of a half-NULL pair (still a node of its
    * own); an all-NULL pair packs nothing. `sawNull` says whether any
    * endpoint was NULL. */
  final case class Edges(packed: Array[Long], sawNull: Boolean)

  /** One partition's row count and, if that is at most the cap, its
    * packed edges; `packed` is null when the partition was over the cap. */
  private final case class Part(rows: Long, packed: Array[Long], sawNull: Boolean)

  private def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Column `i` of `r` as a long; `t` is an [[integral]] type. */
  private def longAt(r: InternalRow, i: Int, t: DataType): Long = t match {
    case LongType => r.getLong(i)
    case IntegerType => r.getInt(i)
    case ShortType => r.getShort(i)
    case _ => r.getByte(i)
  }

  private def pack(cap: Long, t0: DataType, t1: DataType)(it: Iterator[InternalRow]): Part = {
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
          val a = if (na) longAt(r, 1, t1) else longAt(r, 0, t0)
          b += a
          b += (if (nb) a else longAt(r, 1, t1))
        }
      }
    }
    if (n <= cap) Part(n, b.result(), sawNull) else Part(n, null, false)
  }

  /** The row count of the two-column edge relation `pairs` and, when it is
    * at most `maxEdges`, both columns are integral and the result's node
    * type `idType` is INT or BIGINT, its [[Edges]]. One job counts every
    * partition and already packs each one within an even share of the
    * bound, so a small input is counted and collected in one pass, and no
    * input ships more than the bound to the driver; partitions over their
    * share are packed by a second job over just those partitions, once the
    * total is known to fit. `maxEdges = 0` only counts. */
  def collect(pairs: DataFrame, idType: DataType, maxEdges: Long): (Long, Option[Edges]) = {
    val sc = pairs.sparkSession.sparkContext
    val Seq(t0, t1) = pairs.schema.fields.toSeq.map(_.dataType)
    val ok = maxEdges > 0 && (idType == LongType || idType == IntegerType) &&
      integral(t0) && integral(t1)
    val rows = pairs.queryExecution.toRdd
    val share = if (ok) maxEdges / math.max(1, rows.getNumPartitions) else 0L
    val counted = sc.runJob(rows, pack(share, t0, t1) _)
    val n = counted.map(_.rows).sum
    if (!ok || n > maxEdges) (n, None)
    else {
      val withheld = counted.indices.filter(counted(_).packed == null)
      val parts = counted.filter(_.packed != null) ++ (
        if (withheld.isEmpty) Array.empty[Part]
        else sc.runJob(rows, pack(Long.MaxValue, t0, t1) _, withheld))
      (n, Some(Edges(Array.concat(parts.map(_.packed).toSeq: _*),
        parts.exists(_.sawNull))))
    }
  }

  /** The sorted distinct values of `xs`. */
  def sortedDistinct(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    var k = 0
    while (k < s.length) {
      if (n == 0 || s(n - 1) != s(k)) { s(n) = s(k); n += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** A relation with `schema` (INT or BIGINT columns) whose column `j` holds
    * `cols(j)`, plus one all-NULL row when `nullRow`. The arrays are cut
    * into one slice per default-parallelism slot, so each task ships only
    * its own rows. */
  def relation(spark: SparkSession, schema: StructType, cols: Seq[Array[Long]],
               nullRow: Boolean = false): DataFrame = {
    val sc = spark.sparkContext
    val ints = schema.fields.map(_.dataType == IntegerType)
    val n = cols.head.length
    val slices = math.min(math.max(n, 1), sc.defaultParallelism)
    val chunks = (0 until slices).map { s =>
      val (lo, hi) = ((n.toLong * s / slices).toInt, (n.toLong * (s + 1) / slices).toInt)
      (cols.map(java.util.Arrays.copyOfRange(_, lo, hi)), nullRow && s == 0)
    }
    val rows = sc.parallelize(chunks, slices).flatMap { case (cs, withNull) =>
      val it = Iterator.range(0, cs.head.length).map(i =>
        Row.fromSeq(cs.indices.map(j => if (ints(j)) cs(j)(i).toInt else cs(j)(i))))
      if (withNull) it ++ Iterator.single(Row.fromSeq(cs.map(_ => null))) else it
    }
    spark.createDataFrame(rows, schema)
  }
}
