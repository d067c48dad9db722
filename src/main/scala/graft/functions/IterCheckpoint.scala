package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The iterative loops' checkpoint harness — ONE implementation of the
  * ckpt/release/restore discipline that connected components, the x186
  * k-core peel and x187 label propagation share (the subtle
  * LogicalRDD/getCheckpointFile/getParent details live here and nowhere
  * else). One instance per loop call:
  *  - `apply`: eager per-round lineage truncation — reliable `checkpoint`
  *    into `checkpointDir` (survives executor loss) when set, else
  *    `localCheckpoint`. For a frame the result's plan is a LogicalRDD
  *    leaf; for RDD state the RDD itself is marked and materialized by
  *    one count job.
  *  - `release`: drops a SUPERSEDED round's storage — deletes its
  *    checkpoint files (cleaner.referenceTracking.cleanCheckpoints is off
  *    by default) or unpersists its blocks. Call only after the successor
  *    is materialized.
  *  - `restore`: puts back the session's prior checkpoint dir (the
  *    CONFIGURED parent — getCheckpointDir returns the minted <dir>/<uuid>
  *    path); when none existed the new one stays set (SparkContext has no
  *    public unset — documented residue). Call from a finally.
  * Reliable mode's setCheckpointDir is session-global for the loop's
  * duration; a context shared by two simultaneous checkpointing loops
  * needs external coordination either way. */
private[graft] final class IterCheckpoint(s: SparkSession, checkpointDir: Option[String]) {
  private val sc = s.sparkContext
  private val prior = sc.getCheckpointDir
  checkpointDir.foreach(sc.setCheckpointDir)

  /** The one partitioner of a loop's key-partitioned RDD state. Its width
    * is `spark.sql.shuffle.partitions`: the session's declared shuffle
    * width, which the DataFrame form of the same rounds started from
    * before AQE coalesced it. The input's partition count is no guide:
    * AQE has often coalesced an upstream pair list to one partition,
    * which would run the whole loop on one slot, and a wide scan's count
    * can be thousands of near-empty tasks per round. */
  val partitioner = new HashPartitioner(s.conf.get("spark.sql.shuffle.partitions").toInt)

  def apply(df: DataFrame): DataFrame =
    if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

  def apply[T](rdd: RDD[T]): RDD[T] = { count(rdd); rdd }

  /** Checkpoint `rdd` and return its row count — the one job that
    * materializes it doubles as the loop's probe. */
  def count[T](rdd: RDD[T]): Long = {
    if (checkpointDir.isDefined) rdd.checkpoint() else rdd.localCheckpoint()
    rdd.count()
  }

  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => release(l.rdd)
    case _ => ()
  }

  def release(rdd: RDD[_]): Unit =
    if (checkpointDir.isDefined)
      rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    else rdd.unpersist(false)

  def restore(): Unit =
    if (checkpointDir.isDefined)
      prior.foreach(p => sc.setCheckpointDir(new Path(p).getParent.toString))
}
