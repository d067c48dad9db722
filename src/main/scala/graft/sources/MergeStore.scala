package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE (upsert + delete) for a document corpus — the
  * mutation primitive that APPLIES what [[graft.operators.TextOps.x56SnapshotDiff]]
  * classifies: added/changed rows upserted, removed ids deleted, unchanged
  * mass untouched — without rewriting the table.
  *
  * Layout: `dir/bucket=K/part-*.parquet`, K = doc_id mod `buckets`
  * (recorded once in a `_graft_meta` sidecar; underscore-invisible to
  * plain readers, like ZOrderLayout's index). The bucket directory is the
  * copy-on-write unit.
  *
  * `merge` is ONE Spark job, not a per-bucket loop:
  *  1. the changed-bucket set is computed from the (small) change set and
  *     collected — ≤ `buckets` integers;
  *  2. resident rows of ONLY those buckets are read back (`bucket` is a
  *     partition column, so the scan's PartitionFilters prune every
  *     untouched directory before file IO — asserted in MergeStoreSpec);
  *  3. survivors (resident minus upserted/deleted ids) union the upserts
  *     are written with DYNAMIC partition overwrite — Spark replaces
  *     exactly the partitions present in the written frame and leaves the
  *     rest of the table physically untouched (the spec pins untouched
  *     buckets' file lists byte-identical).
  * Cost is O(changed buckets), never O(table): a daily 0.1% churn on a
  * 100 TB corpus rewrites ~0.1% of buckets (pick `buckets` so one bucket
  * ≈ a few GB; 4096 buckets × 25 GB covers 100 TB).
  *
  * A bucket whose post-merge content is EMPTY (every resident row deleted)
  * is absent from the written frame, so dynamic overwrite cannot replace
  * it — that residue is cleaned by an explicit directory delete afterward
  * (spec covers the full-bucket-delete case).
  *
  * Consistency: dynamic partition overwrite commits per partition
  * (stage-then-rename), so a crash mid-commit can leave SOME changed
  * buckets new and some old — re-running the same merge converges (the
  * operation is idempotent: survivors-of-survivors union the same upserts
  * is a fixpoint). Readers between the crash and the retry see a mixed
  * snapshot; serve through a manifest/metastore republish if that window
  * matters (same note as BucketedLayout.compactDay's swap).
  */
object MergeStore {

  private def metaPath(dir: String) = new Path(s"$dir/_graft_meta/buckets")

  // the FILESYSTEM of the store dir (not the session default — store
  // dirs legitimately live on s3a/gs while defaultFS is HDFS)
  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(buckets: Int) = pmod(col("doc_id"), lit(buckets.toLong))

  /** Initial load: hash-bucket `docs` by doc_id into the layout. */
  def write(docs: DataFrame, dir: String, buckets: Int = 16): Unit =
      WriterLease.withLease(docs.sparkSession, dir) {
    docs.withColumn("bucket", bucketOf(buckets))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    SmallFile.write(fsOf(docs.sparkSession, dir), metaPath(dir), buckets.toString)
  }

  def bucketCount(spark: SparkSession, dir: String): Int =
    SmallFile.text(fsOf(spark, dir), metaPath(dir))
      .getOrElse(sys.error(s"no merge store at $dir (no ${metaPath(dir)})")).toInt

  /** Full-corpus read (meta sidecar invisible). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("bucket")

  /** Apply a change set: `upserts` = full rows to add or replace (by
    * doc_id), `deleteIds` = single-column `doc_id` frame to remove.
    * One job over the changed buckets only. */
  def merge(spark: SparkSession, dir: String,
            upserts: DataFrame, deleteIds: DataFrame): Unit =
      WriterLease.withLease(spark, dir) {
    val buckets = bucketCount(spark, dir)
    val touched = upserts.select(bucketOf(buckets).as("bucket"))
      .union(deleteIds.select(bucketOf(buckets).as("bucket")))
      .distinct().collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    val changedIds = upserts.select("doc_id")
      .union(deleteIds.select("doc_id")).distinct()
    // partition pruning: only the touched buckets' directories are read
    val resident = spark.read.parquet(dir)
      .filter(col("bucket").isin(touched: _*))
    val survivors = resident.drop("bucket")
      .join(changedIds, Seq("doc_id"), "left_anti")
    // materialize BEFORE the write: the plan reads the same path it is
    // about to overwrite — an eager checkpoint truncates it to a leaf, so
    // (a) the self-overwrite analysis check cannot trip and (b) nothing
    // re-evaluates against post-overwrite state (the SignatureStore.admit
    // lesson). Locally this is block storage; at cluster scale swap for a
    // reliable checkpoint or a staging-dir write — same two-phase shape.
    val newData = survivors.unionByName(upserts)
      .withColumn("bucket", bucketOf(buckets))
      .repartition(col("bucket"))
      .localCheckpoint(true)
    val written = newData.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    newData.write.partitionBy("bucket").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(dir)
    // buckets emptied by deletes are absent from newData — dynamic
    // overwrite leaves their stale directories; drop them explicitly
    val fs = fsOf(spark, dir)
    touched.filterNot(written).foreach(b => fs.delete(new Path(s"$dir/bucket=$b"), true))
    newData.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
  }
}
