package graft

import graft.sources.{MergeStore, VersionedStore, WriterLease}
import graft.streaming.StreamOps
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local disk behind a `vanishfs` scheme with two one-shot faults for the
  * stores' small files:
  *
  *  - `onOpen(p)(action)` runs `action` inside the next `open` of `p`,
  *    before the real open — deleting `p` there makes it vanish after a
  *    caller's `exists` returned true, so the open throws
  *    FileNotFoundException; any other action (a pointer flip) lands
  *    between a reader's resolve and its read;
  *  - files named in `failWrites` get an output stream whose `write`
  *    throws; `closed` records the paths whose stream was closed anyway.
  *
  * Rename is FlatObjectFs's copy+delete; no spec here crashes mid-rename. */
class VanishingFs extends FlatObjectFs {

  override def getScheme: String = "vanishfs"

  override def getUri: java.net.URI = java.net.URI.create("vanishfs://test")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    VanishingFs.hooks.remove(f.toUri.getPath).foreach(_())
    super.open(f, bufferSize)
  }

  // every create overload of RawLocalFileSystem lands here
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (!VanishingFs.failWrites.contains(f.getName)) out
    else new FSDataOutputStream(new java.io.OutputStream {
      def write(b: Int): Unit = throw new java.io.IOException(s"write to $f failed")
      override def write(b: Array[Byte], off: Int, len: Int): Unit = write(0)
      override def close(): Unit = { VanishingFs.closed.add(f.toUri.getPath); out.close() }
    }, null)
  }
}

object VanishingFs {
  val hooks = scala.collection.concurrent.TrieMap.empty[String, () => Unit]
  val failWrites = scala.collection.concurrent.TrieMap.empty[String, Unit]
  val closed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def onOpen(localPath: String)(action: => Unit): Unit =
    hooks(localPath) = () => action

  def vanishOnOpen(localPath: String): Unit =
    onOpen(localPath)(new java.io.File(localPath).delete(): Unit)
}

/** The small-file protocol ([[graft.sources.SmallFile]]) seen from its
  * callers: a small file that vanishes between a probe and the open
  * reads as absent, a reader pairs a watermark with the base it was read
  * from, and a failed small-file write still closes its stream. */
class SmallFileSpec extends SparkSpecBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    conf.set("fs.vanishfs.impl", classOf[VanishingFs].getName)
  }

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def write(path: String, body: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
    ()
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles.foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)

  private def events(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, java.sql.Timestamp.valueOf(f"2024-01-${10 + id % 3}%02d 08:00:00")))
      .toDF("event_id", "ts")
  }

  private def rows(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("day"), r.getAs[Long]("n"),
      r.getAs[Long]("fp"))).toSet

  /** A fingerprint store with batches `folded` compacted into `base` and
    * batches `live` left as partials. */
  private def fingerprintStore(folded: Seq[Long], live: Seq[Long]): String = {
    val dir = tmp("smallfile-fp")
    folded.foreach(b => StreamOps.applyFingerprintBatch(events(Seq(b * 10, b * 10 + 1)), b, dir))
    StreamOps.compactFingerprints(spark, dir)
    live.foreach(b => StreamOps.applyFingerprintBatch(events(Seq(b * 10, b * 10 + 1)), b, dir))
    dir
  }

  test("(a) a lease that vanishes between the failed claim and its read " +
       "is claimed, not a FileNotFoundException") {
    val dir = tmp("smallfile-lease")
    val lease = s"$dir/_writer_lease"
    write(lease, s"other-writer ${System.currentTimeMillis()}")
    VanishingFs.vanishOnOpen(lease)
    val got = WriterLease.withLease(spark, "vanishfs://test" + dir, renew = false)(42)
    assert(got === 42, "the lease freed by its holder must be claimed")
    assert(!VanishingFs.hooks.contains(lease), "the claim never read the lease")
    assert(!new java.io.File(lease).exists(), "the claimed lease was not released")
  }

  test("(b) fingerprints over a base whose _upto vanishes mid-read serves " +
       "the store, not a FileNotFoundException") {
    val dir = fingerprintStore(folded = Seq(0L, 1L), live = Seq(2L))
    val expect = rows(StreamOps.fingerprints(spark, dir))
    VanishingFs.vanishOnOpen(s"$dir/base/_upto")
    // the folded partials are gone, so an absent watermark serves the
    // same rows as the one that vanished
    assert(rows(StreamOps.fingerprints(spark, "vanishfs://test" + dir)) === expect)
    assert(!VanishingFs.hooks.contains(s"$dir/base/_upto"), "_upto was never read")
  }

  test("fingerprints pairs the watermark with the base it resolved, even " +
       "when a compact publishes a new base between the two reads") {
    val dir = fingerprintStore(folded = Seq(0L, 1L), live = Seq(2L, 3L))
    val expect = rows(StreamOps.fingerprints(spark, dir))
    // the generation a concurrent compact would publish: base + 2 and 3
    // folded, watermark 3 — while the partials 2 and 3 are still on disk
    val twin = tmp("smallfile-fp-twin")
    copyTree(new java.io.File(dir), new java.io.File(twin))
    StreamOps.compactFingerprints(spark, twin)
    copyTree(new java.io.File(s"$twin/base"), new java.io.File(s"$dir/base_g999"))
    VanishingFs.onOpen(s"$dir/base/_upto")(write(s"$dir/_base_gen", "base_g999"))
    assert(rows(StreamOps.fingerprints(spark, "vanishfs://test" + dir)) === expect,
      "the old watermark was paired with the new base: folded partials " +
        "counted twice")
    assert(new java.io.File(s"$dir/_base_gen").exists(), "the pointer never flipped")
  }

  test("(c) a small-file write that fails still closes its stream") {
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 0)
    VanishingFs.failWrites("buckets") = ()
    try {
      val vs = tmp("smallfile-versioned")
      intercept[java.io.IOException](
        new VersionedStore(spark, "vanishfs://test" + vs).write(docs, nBuckets = 4))
      assert(VanishingFs.closed.contains(s"$vs/_graft_manifest/buckets"),
        "VersionedStore's failed manifest write leaked its stream")
      val ms = tmp("smallfile-merge")
      intercept[java.io.IOException](
        MergeStore.write(docs, "vanishfs://test" + ms, buckets = 4))
      assert(VanishingFs.closed.contains(s"$ms/_graft_meta/buckets"),
        "MergeStore's failed meta write leaked its stream")
    } finally VanishingFs.failWrites.remove("buckets")
  }
}
