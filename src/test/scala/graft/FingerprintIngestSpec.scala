package graft

import java.sql.Timestamp

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST28: continuous anti-entropy fingerprint maintenance — the store's
  * day fingerprints equal the batch fold under any batch split, a
  * REPLAYED batch is a no-op (the additive monoid's one hazard), and
  * compaction preserves the served view while dropping the partials. */
class FingerprintIngestSpec extends SparkSpecBase {

  private def tmp() = java.nio.file.Files.createTempDirectory("st28").toString

  /** The batch reference fold — x155's fingerprint stage over a frame. */
  private def batchFp(df: org.apache.spark.sql.DataFrame) = {
    val dayUs = 86400L * 1000000L
    df.select(
        graft.functions.SeriesFunctions.floorDiv(unix_micros(col("ts")), dayUs)
          .as("day"),
        conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .groupBy("day").agg(count(lit(1)).as("n"), sum("h").as("fp"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("day"), r.getAs[Long]("n"),
      r.getAs[Long]("fp"))).toSet

  test("ST28 store fingerprints equal the batch fold over the fixture stream") {
    val store = tmp()
    val q = StreamOps.fingerprintIngest(
      StreamOps.eventsStream(spark, sfDir), store, tmp())
    try q.processAllAvailable() finally q.stop()
    val batch = rows(batchFp(Tables.events(spark, sfDir)))
    assert(batch.nonEmpty)
    assert(rows(StreamOps.fingerprints(spark, store)) === batch)
    // compaction folds partials into base; the served view is unchanged
    StreamOps.compactFingerprints(spark, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === batch)
    assert(!new java.io.File(s"$store/parts").exists(),
      "compaction must drop the partials")
    assert(new java.io.File(s"$store/base").exists())
  }

  test("ST28 split batches converge to the same fingerprints; replay is a no-op") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = tmp()
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("event_id", "ts")
    val q = StreamOps.fingerprintIngest(events, store, tmp())
    def at(day: Int, id: Long) = (id, Timestamp.valueOf(f"2024-01-$day%02d 08:00:00"))
    val all = Seq(at(10, 1L), at(10, 2L), at(11, 3L), at(10, 4L), at(12, 5L))
    try {
      input.addData(all.take(2)); q.processAllAvailable()
      input.addData(all.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val expect = rows(batchFp(all.toDF("event_id", "ts")))
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "split-batch fold diverged from the whole-input fold")
    // REPLAY the second batch verbatim (same batch id): the dynamic
    // overwrite on batch=<id> must overwrite itself, never double-add
    StreamOps.applyFingerprintBatch(all.drop(2).toDF("event_id", "ts"), 1L, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "replayed batch double-added — idempotence broken")
    // replay AFTER compaction: the partial is gone and its mass lives in
    // base, so a naive re-apply would re-create the partial and double-
    // count — the compaction watermark must make it a no-op instead
    StreamOps.compactFingerprints(spark, store)
    StreamOps.applyFingerprintBatch(all.drop(2).toDF("event_id", "ts"), 1L, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "batch replayed after compaction double-added — watermark broken")
  }

  test("ST28 flat object store: compaction publishes via the base pointer " +
       "— served view unchanged, replay-after-compact fenced, predecessor " +
       "deferred one cycle (r14 verdict item 5)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val store = "s3a://test" + tmp()
    val fsys = new Path(store).getFileSystem(conf)
    def at(day: Int, id: Long) = (id, Timestamp.valueOf(f"2024-01-$day%02d 08:00:00"))
    val all = Seq(at(10, 1L), at(10, 2L), at(11, 3L), at(10, 4L), at(12, 5L))
    StreamOps.applyFingerprintBatch(all.take(2).toDF("event_id", "ts"), 0L, store)
    StreamOps.applyFingerprintBatch(all.drop(2).toDF("event_id", "ts"), 1L, store)
    val expect = rows(batchFp(all.toDF("event_id", "ts")))
    assert(rows(StreamOps.fingerprints(spark, store)) === expect)
    StreamOps.compactFingerprints(spark, store)
    assert(fsys.exists(new Path(s"$store/_base_gen")),
      "flat-store compact must publish via the base generation pointer")
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "served view changed through the pointer compact")
    assert(!fsys.exists(new Path(s"$store/parts")),
      "compaction must drop the folded partials")
    // replay AFTER the pointer compact: fenced by the _upto inside the
    // live generation, not by anything rename-committed
    StreamOps.applyFingerprintBatch(all.drop(2).toDF("event_id", "ts"), 1L, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "batch replayed after a pointer compact double-added")
    // new batch + second compact: folds on top of the generation base and
    // reclaims the deferred predecessor (one-cycle reader grace)
    StreamOps.applyFingerprintBatch(Seq(at(13, 9L)).toDF("event_id", "ts"), 2L, store)
    val expect2 = rows(batchFp((all :+ at(13, 9L)).toDF("event_id", "ts")))
    assert(rows(StreamOps.fingerprints(spark, store)) === expect2)
    StreamOps.compactFingerprints(spark, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect2)
    val gens = fsys.listStatus(new Path(store)).map(_.getPath.getName)
      .filter(_.startsWith("base_g"))
    assert(gens.length === 2,
      s"live + exactly one deferred generation expected, got $gens")
  }

  test("ST28 two-rename crash window heals: serving and the next compact " +
       "resolve the retired base instead of rebuilding from partials alone") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = tmp()
    val input = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.fingerprintIngest(input.toDF().toDF("event_id", "ts"), store, tmp())
    def at(day: Int, id: Long) = (id, Timestamp.valueOf(f"2024-03-$day%02d 10:00:00"))
    try {
      input.addData(Seq(at(1, 20L), at(2, 21L))); q.processAllAvailable()
      input.addData(Seq(at(3, 22L))); q.processAllAvailable()
    } finally q.stop()
    val all = Seq(at(1, 20L), at(2, 21L), at(3, 22L))
    val expect = rows(batchFp(all.toDF("event_id", "ts")))
    StreamOps.compactFingerprints(spark, store) // everything folded to base
    // inject the crash: the NEXT compact retired base -> base_old_<gen>
    // and died before publishing its staging
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fsys.rename(new org.apache.hadoop.fs.Path(s"$store/base"),
      new org.apache.hadoop.fs.Path(s"$store/base_old_7")))
    fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$store/base_staging_7"))
    // serving resolves the retired generation (with its watermark)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "serving lost the compacted history in the two-rename window")
    // a replayed batch is still fenced by the retired base's watermark
    StreamOps.applyFingerprintBatch(Seq(at(3, 22L)).toDF("event_id", "ts"), 1L, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "replay during the crash window double-added")
    // the next compact folds the retired base, republishes, and GCs
    StreamOps.compactFingerprints(spark, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "compact after the crash rebuilt from partials alone - history lost")
    assert(new java.io.File(s"$store/base").exists)
    assert(!new java.io.File(s"$store/base_old_7").exists &&
           !new java.io.File(s"$store/base_staging_7").exists,
      "compact must GC the crashed run's leftovers")
  }

  test("ST28 compaction crash leftovers: a folded partial left on disk is " +
       "never double-counted and the next compact retires it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = tmp()
    val input = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.fingerprintIngest(input.toDF().toDF("event_id", "ts"), store, tmp())
    def at(day: Int, id: Long) = (id, Timestamp.valueOf(f"2024-02-$day%02d 09:00:00"))
    val all = Seq(at(1, 10L), at(1, 11L), at(2, 12L))
    try {
      input.addData(all.take(2)); q.processAllAvailable()
      input.addData(all.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val expect = rows(batchFp(all.toDF("event_id", "ts")))
    // inject the crash state: compact publishes base (+ watermark inside
    // it) but dies BEFORE deleting the folded partials — simulate by
    // snapshotting parts/ and restoring it after a clean compact
    val parts = new java.io.File(s"$store/parts")
    val saved = java.nio.file.Files.createTempDirectory("st28crash").toString
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) { dst.mkdirs(); src.listFiles.foreach(f =>
        copyTree(f, new java.io.File(dst, f.getName))) }
      else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    copyTree(parts, new java.io.File(saved, "parts"))
    StreamOps.compactFingerprints(spark, store)
    copyTree(new java.io.File(saved, "parts"), parts) // the crash leftover
    assert(parts.exists && parts.listFiles.nonEmpty)
    // serving filters the stale partials by the base watermark
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "stale partials below the watermark were double-counted in serving")
    // the next compact classifies them stale: retired, NOT re-folded
    StreamOps.compactFingerprints(spark, store)
    assert(!parts.exists, "second compact must retire stale partials")
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "second compact re-folded already-folded partials")
  }

  test("ST28 single-writer is ENFORCED, not assumed (r15 verdict): a " +
       "compact or a batch racing a held store lease fails loudly; the " +
       "store serves unchanged and both succeed once the holder releases") {
    import graft.sources.WriterLease
    val store = tmp()
    val batch = Tables.events(spark, sfDir).select("event_id", "ts")
    StreamOps.applyFingerprintBatch(batch, 0L, store)
    val expect = rows(StreamOps.fingerprints(spark, store))
    // another thread of this JVM holds the store lease — the likeliest
    // misconfiguration (a second stream on the same root) and exactly
    // what the quiesced-ingest assumption could not arbitrate before
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      WriterLease.withLease(spark, store) {
        started.countDown()
        release.await(60L, java.util.concurrent.TimeUnit.SECONDS); ()
      }, "st28-lease-holder")
    holder.start()
    assert(started.await(30L, java.util.concurrent.TimeUnit.SECONDS))
    try {
      intercept[WriterLease.ConcurrentWriterException] {
        StreamOps.compactFingerprints(spark, store)
      }
      intercept[WriterLease.ConcurrentWriterException] {
        StreamOps.applyFingerprintBatch(batch, 1L, store)
      }
      // lease-free READS are never blocked, and nothing was mutated
      assert(rows(StreamOps.fingerprints(spark, store)) === expect)
    } finally { release.countDown(); holder.join(60000L) }
    // released: both writers work again, and the fold is exact
    StreamOps.applyFingerprintBatch(batch, 1L, store)
    StreamOps.compactFingerprints(spark, store)
    val doubled = rows(StreamOps.fingerprints(spark, store))
    assert(doubled.map(_._1) === expect.map(_._1) &&
      doubled.forall { case (d, n, _) =>
        expect.exists { case (d2, n2, _) => d2 == d && n == 2 * n2 } },
      "post-release batch+compact must fold batch 1 exactly once")
  }

  test("ST28 a pointer-carrying store on an atomic-rename filesystem swaps " +
       "at the pointed dir; its two-rename crash window serves, fences and heals") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val store = tmp()
    val fsys = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def at(day: Int, id: Long) = (id, Timestamp.valueOf(f"2024-04-$day%02d 10:00:00"))
    val all = Seq(at(1, 30L), at(2, 31L), at(2, 32L))
    StreamOps.applyFingerprintBatch(all.take(2).toDF("event_id", "ts"), 0L, store)
    StreamOps.compactFingerprints(spark, store)
    // migrate by hand to the pointer layout a flat-store life leaves behind
    assert(fsys.rename(new Path(s"$store/base"), new Path(s"$store/base_g5")))
    graft.sources.SmallFile.write(fsys, new Path(s"$store/_base_gen"), "base_g5")
    StreamOps.applyFingerprintBatch(all.drop(2).toDF("event_id", "ts"), 1L, store)
    val expect = rows(batchFp(all.toDF("event_id", "ts")))
    assert(rows(StreamOps.fingerprints(spark, store)) === expect)
    StreamOps.compactFingerprints(spark, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "served view changed through the compact at the pointed dir")
    assert(graft.sources.GenDir.currentName(fsys, store, "base") === "base_g5" &&
           fsys.exists(new Path(s"$store/base_g5")),
      "the compact must swap by renames at the pointed dir, keeping the pointer")
    // inject the crash between GenDir's two renames: the pointed dir was
    // retired to base_old_<gen> and the staged fold never published
    assert(fsys.rename(new Path(s"$store/base_g5"), new Path(s"$store/base_old_9")))
    fsys.mkdirs(new Path(s"$store/base_compact_9"))
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "serving lost the compacted history in the two-rename window")
    assert(fsys.exists(new Path(s"$store/base_g5")),
      "a reader finding the live base absent must restore it")
    StreamOps.applyFingerprintBatch(all.drop(2).toDF("event_id", "ts"), 1L, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect,
      "replay during the crash window double-added")
    StreamOps.compactFingerprints(spark, store)
    assert(rows(StreamOps.fingerprints(spark, store)) === expect)
    val left = fsys.listStatus(new Path(store)).map(_.getPath.getName)
      .filter(_.startsWith("base"))
    assert(left.toSeq === Seq("base_g5"), s"crash leftovers not healed: ${left.toSeq}")
  }

  test("ST28 a base_compact_<gen> orphan beside a live base is gone after " +
       "the next compact") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val store = tmp()
    val fsys = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def at(day: Int, id: Long) = (id, Timestamp.valueOf(f"2024-05-$day%02d 10:00:00"))
    val all = Seq(at(1, 40L), at(2, 41L), at(3, 42L))
    StreamOps.applyFingerprintBatch(all.take(2).toDF("event_id", "ts"), 0L, store)
    StreamOps.compactFingerprints(spark, store)
    // a crashed compact's unpublished staging, with a stray part file
    graft.sources.SmallFile.write(fsys, new Path(s"$store/base_compact_3/part-0"), "x")
    StreamOps.applyFingerprintBatch(all.drop(2).toDF("event_id", "ts"), 1L, store)
    StreamOps.compactFingerprints(spark, store)
    assert(!fsys.exists(new Path(s"$store/base_compact_3")), "orphan staging survived")
    assert(rows(StreamOps.fingerprints(spark, store)) ===
      rows(batchFp(all.toDF("event_id", "ts"))))
  }
}
