package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.util.BoundedCollect

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

  /** One partition's rows as [[Edges]]. */
  private def pack(t0: DataType, t1: DataType)(it: Iterator[InternalRow]): Edges = {
    val b = Array.newBuilder[Long]
    var sawNull = false
    it.foreach { r =>
      val na = r.isNullAt(0)
      val nb = r.isNullAt(1)
      if (na || nb) sawNull = true
      if (!na || !nb) {
        val a = if (na) longAt(r, 1, t1) else longAt(r, 0, t0)
        b += a
        b += (if (nb) a else longAt(r, 1, t1))
      }
    }
    Edges(b.result(), sawNull)
  }

  /** The row count of the two-column edge relation `pairs` and, when it is
    * at most `maxEdges`, both columns are integral and the result's node
    * type `idType` is INT or BIGINT, its [[Edges]], brought to the driver
    * by [[BoundedCollect]]: a small input is counted and packed in one
    * job, and no input ships more than the bound. `maxEdges = 0` only
    * counts. */
  def collect(pairs: DataFrame, idType: DataType, maxEdges: Long): (Long, Option[Edges]) = {
    val Seq(t0, t1) = pairs.schema.fields.toSeq.map(_.dataType)
    val ok = maxEdges > 0 && (idType == LongType || idType == IntegerType) &&
      integral(t0) && integral(t1)
    val (n, parts) = BoundedCollect(pairs.queryExecution.toRdd,
      if (ok) maxEdges else 0L)(pack(t0, t1))
    (n, parts.filter(_ => ok).map(ps =>
      Edges(Array.concat(ps.map(_.packed).toSeq: _*), ps.exists(_.sawNull))))
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
