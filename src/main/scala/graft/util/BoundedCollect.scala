package graft.util

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD

/** Bring an RDD to the driver only when it is small. One job counts every
  * partition and already packs each one within an even share of the bound,
  * so a small input is counted and collected in one pass and the driver
  * never receives more than the bound; partitions over their share are
  * packed by a second job over just those partitions, once the total is
  * known to fit. The caller packs a partition into whatever driver-side
  * form it scores or builds from (packed edge longs, posting columns,
  * probed queries). */
object BoundedCollect {

  /** The element count of `rdd` and, when it is at most `max`, every
    * partition as `pack` builds it, in partition order. `pack` sees at most
    * its partition's share of the bound (the whole partition in the second
    * job) and must copy what it keeps: `toRdd` rows are reused. `max = 0`
    * only counts: `pack` then sees no element. */
  def apply[T, P: ClassTag](rdd: RDD[T], max: Long)(pack: Iterator[T] => P)
      : (Long, Option[Array[P]]) = {
    val sc = rdd.sparkContext
    val share = max / math.max(1, rdd.getNumPartitions)
    def run(cap: Long)(it: Iterator[T]): (Long, Option[P]) = {
      var n = 0L
      val packed = pack(new Iterator[T] {
        def hasNext: Boolean = n < cap && it.hasNext
        def next(): T = { n += 1; it.next() }
      })
      while (it.hasNext) { it.next(); n += 1 }
      (n, if (n <= cap) Some(packed) else None)
    }
    val counted = sc.runJob(rdd, run(share) _)
    val n = counted.map(_._1).sum
    if (n > max) (n, None)
    else {
      val parts = counted.map(_._2)
      val withheld = parts.indices.filter(parts(_).isEmpty)
      if (withheld.nonEmpty)
        withheld.zip(sc.runJob(rdd, run(Long.MaxValue) _, withheld))
          .foreach { case (i, (_, p)) => parts(i) = p }
      (n, Some(parts.map(_.get)))
    }
  }
}
