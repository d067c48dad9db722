package graft.functions

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col

/** The iterative graph loops' RDD state: (key, value) long pairs, hash-
  * partitioned by one [[IterCheckpoint.partitioner]] per call. Every step
  * a round needs is either narrow — a per-partition hash pass over tables
  * that share that partitioner — or one `partitionBy` shuffle. The
  * generic pair-RDD operators (`reduceByKey`, `join`) are avoided on
  * purpose: they go through `cogroup` and an ExternalAppendOnlyMap per
  * record. On the 18k-pair `text_dedup` graph (4 slots) a k-core round's
  * `join` stage took 143 ms (428 ms of task time); the same step as a
  * [[lookup]] takes about 30 ms (75 ms), below the stage's scheduling
  * cost. A [[lookup]] hashes one partition of the SMALL side (a round's
  * node-sized hook or degree table), never of the edge list; CC's
  * [[distinct]] holds the distinct CONTRACTED edges of one partition,
  * which the contraction has already shrunk to about |clusters|. */
private[graft] object LongPairs {

  /** Two columns of a frame as long pairs — the one conversion into the
    * loops' state. */
  def of(df: DataFrame, a: String, b: String): RDD[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).rdd

  /** Fold each partition's values per key with `op`. Narrow: on an RDD
    * partitioned by key this is the full per-key reduce; before a
    * `partitionBy` it is the map-side combine. */
  def reduce(rdd: RDD[(Long, Long)])(op: (Long, Long) => Long): RDD[(Long, Long)] =
    rdd.mapPartitions({ it =>
      val m = mutable.LongMap.empty[Long]
      it.foreach { case (k, v) => m.updateWith(k)(o => Some(o.fold(v)(op(_, v)))) }
      m.iterator
    }, preservesPartitioning = true)

  /** Join each record of `left` to `right`'s value for its key (unique
    * keys), both partitioned by the same partitioner, in one narrow step:
    * each task hashes its partition of `right` and streams `left` past it. */
  def lookup[V, W: ClassTag](left: RDD[(Long, V)], right: RDD[(Long, Long)],
                             keepsKeys: Boolean = false)
                            (f: (mutable.LongMap[Long], (Long, V)) => IterableOnce[W]): RDD[W] = {
    require(left.partitioner.isDefined && left.partitioner == right.partitioner,
      "lookup needs both sides partitioned by the same partitioner")
    left.zipPartitions(right, preservesPartitioning = keepsKeys) { (ls, rs) =>
      val m = mutable.LongMap.empty[Long]
      rs.foreach { case (k, v) => m(k) = v }
      ls.flatMap(f(m, _))
    }
  }

  /** Drop duplicate pairs within each partition. */
  def distinct(rdd: RDD[(Long, Long)]): RDD[(Long, Long)] =
    rdd.mapPartitions({ it =>
      val seen = mutable.HashSet.empty[(Long, Long)]
      it.filter(seen.add)
    }, preservesPartitioning = true)
}
