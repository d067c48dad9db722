package graft

import graft.sources.MergeStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[MergeStore]] — copy-on-write MERGE: result equivalence to a full
  * rewrite, physical stability of untouched buckets, partition pruning on
  * the resident read, idempotent re-apply, and the full-bucket-delete
  * residue path. Change sets come from x56's snapshot derivation so the
  * diff→apply pipeline is exercised end to end. */
class MergeStoreSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  // x56's snapshot algebra: old = ids ≢1 (mod 10); new = ids ≢2, with
  // ids ≡3 revised. Applying (upserts = added+changed, deletes = removed)
  // to the old snapshot must yield exactly the new snapshot.
  private def oldSnap = docs.filter(col("doc_id") % 10 =!= 1)
  private def newSnap = docs.filter(col("doc_id") % 10 =!= 2)
    .withColumn("text",
      when(col("doc_id") % 10 === 3, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")))
    .withColumn("n_chars",
      when(col("doc_id") % 10 === 3, col("n_chars") + 5)
        .otherwise(col("n_chars")))
  private def upserts = newSnap.filter(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 3)
  private def deletes = docs.filter(col("doc_id") % 10 === 2).select("doc_id")

  private def freshStore(data: DataFrame = oldSnap, buckets: Int = 16): String = {
    val dir = java.nio.file.Files.createTempDirectory("mergestore").toString
    MergeStore.write(data, dir, buckets)
    dir
  }

  private def fileListing(dir: String): Map[String, Seq[(String, Long)]] = {
    val base = new java.io.File(dir)
    base.listFiles().filter(_.getName.startsWith("bucket=")).map { d =>
      d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSeq.sortBy(_._1)
    }.toMap
  }

  test("merge applies the x56 diff: store content equals the new snapshot exactly") {
    val dir = freshStore()
    MergeStore.merge(spark, dir, upserts, deletes)
    val got = MergeStore.read(spark, dir)
    assert(got.count() === newSnap.count())
    assert(got.except(newSnap).isEmpty && newSnap.except(got).isEmpty)
  }

  test("untouched buckets are physically untouched; only changed buckets rewrite") {
    // confine the change set to ids ≡ 1 (mod 10): with 16 buckets over
    // doc_id mod, those ids hit a strict subset of buckets
    val dir = freshStore()
    val before = fileListing(dir)
    val up = newSnap.filter(col("doc_id") % 10 === 1)
    val touched = up.select(pmod(col("doc_id"), lit(16L))).distinct()
      .collect().map(r => s"bucket=${r.getLong(0)}").toSet
    assert(touched.size < before.size, "change set must not touch every bucket")
    MergeStore.merge(spark, dir, up, spark.emptyDataFrame.withColumn("doc_id", lit(0L)).limit(0))
    val after = fileListing(dir)
    before.keys.filterNot(touched).foreach { b =>
      assert(after(b) === before(b), s"untouched $b was rewritten")
    }
    touched.foreach { b => assert(after(b) !== before(b), s"changed $b was not rewritten") }
  }

  test("resident read prunes to the touched buckets (PartitionFilters)") {
    val dir = freshStore()
    val pruned = spark.read.parquet(dir).filter(col("bucket").isin(1L, 3L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition filter on bucket:\n$plan")
    // and the pruned scan reads exactly the two buckets' rows
    val expect = MergeStore.read(spark, dir)
      .filter(pmod(col("doc_id"), lit(16L)).isin(1L, 3L)).count()
    assert(pruned.count() === expect)
  }

  test("merge is idempotent: re-applying the same change set is a fixpoint") {
    val dir = freshStore()
    MergeStore.merge(spark, dir, upserts, deletes)
    val once = MergeStore.read(spark, dir).collect().map(_.toString).sorted
    MergeStore.merge(spark, dir, upserts, deletes)
    val twice = MergeStore.read(spark, dir).collect().map(_.toString).sorted
    assert(once === twice)
  }

  test("retry from a mid-commit MIXED bucket state converges to the clean merge") {
    // dynamic partition overwrite commits per partition, so a crash
    // mid-commit leaves SOME changed buckets new and some old — the exact
    // window the scaladoc documents. Construct that state physically:
    // merge a twin store cleanly, then graft HALF its rewritten bucket
    // dirs into an unmerged store, and retry the same merge there.
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) { dst.mkdirs(); src.listFiles.foreach(f =>
        copyTree(f, new java.io.File(dst, f.getName))) }
      else java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val clean = freshStore()
    MergeStore.merge(spark, clean, upserts, deletes)
    val expected = MergeStore.read(spark, clean).collect().map(_.toString).sorted
    val crashed = freshStore()
    val touched = upserts.select(pmod(col("doc_id"), lit(16L)).as("b"))
      .union(deletes.select(pmod(col("doc_id"), lit(16L)).as("b")))
      .distinct().collect().map(_.getLong(0)).sorted
    assert(touched.length >= 2, "need >=2 touched buckets to mix")
    val committed = touched.take(touched.length / 2)
    committed.foreach { b =>
      val dst = new java.io.File(s"$crashed/bucket=$b")
      org.apache.commons.io.FileUtils.deleteDirectory(dst)
      copyTree(new java.io.File(s"$clean/bucket=$b"), dst)
    }
    // sanity: the mixed snapshot is genuinely neither old nor new
    val mixed = MergeStore.read(spark, crashed).collect().map(_.toString).sorted
    assert(mixed !== expected)
    // the retry: same change set over the mixed state must converge
    MergeStore.merge(spark, crashed, upserts, deletes)
    val got = MergeStore.read(spark, crashed).collect().map(_.toString).sorted
    assert(got === expected, "retry over the mixed mid-commit state diverged")
  }

  test("a bucket emptied by deletes disappears (dynamic-overwrite residue is cleaned)") {
    val dir = freshStore(buckets = 4)
    // delete every resident row of bucket 2 (doc_id ≡ 2 mod 4)
    val victims = oldSnap.filter(pmod(col("doc_id"), lit(4L)) === 2).select("doc_id")
    assert(victims.count() > 0)
    MergeStore.merge(spark, dir, upserts = victims.limit(0).join(oldSnap, "doc_id"), deleteIds = victims)
    assert(!new java.io.File(s"$dir/bucket=2").exists(), "emptied bucket dir must be gone")
    val got = MergeStore.read(spark, dir)
    assert(got.filter(pmod(col("doc_id"), lit(4L)) === 2).count() === 0)
    assert(got.count() === oldSnap.count() - victims.count())
  }

  test("a store on a flat object store (s3a) writes, merges and cleans " +
       "emptied buckets through the store dir's filesystem") {
    spark.sparkContext.hadoopConfiguration.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val local = java.nio.file.Files.createTempDirectory("mergestore-s3a").toString
    val dir = "s3a://test" + local
    MergeStore.write(oldSnap, dir, buckets = 4)
    assert(MergeStore.bucketCount(spark, dir) === 4)
    MergeStore.merge(spark, dir, upserts, deletes)
    val got = MergeStore.read(spark, dir)
    assert(got.except(newSnap).isEmpty && newSnap.except(got).isEmpty)
    // empty bucket 2: its residue delete must go through the s3a filesystem
    val victims = newSnap.filter(pmod(col("doc_id"), lit(4L)) === 2).select("doc_id")
    MergeStore.merge(spark, dir, upserts = victims.limit(0).join(newSnap, "doc_id"),
      deleteIds = victims)
    assert(!new java.io.File(s"$local/bucket=2").exists(), "emptied bucket dir must be gone")
    assert(MergeStore.read(spark, dir).count() === newSnap.count() - victims.count())
  }
}
