package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-based versioned store — MergeStore's copy-on-write upgraded to
  * SNAPSHOT ISOLATION and TIME TRAVEL (the mini-lakehouse pattern: what
  * Delta/Iceberg do with a commit log, re-expressed minimally on open
  * parquet + atomic rename).
  *
  * Layout:
  *   dir/gen=N/bucket=K/part-*.parquet   -- immutable once written
  *   dir/_graft_manifest/v<V>.manifest   -- version V: bucket -> gen map
  *   dir/_graft_manifest/current         -- atomic pointer: latest V
  *
  * Every `merge` writes ONLY the changed buckets into a fresh `gen=`
  * directory, then publishes a new manifest that maps changed buckets to
  * the new gen and inherits every untouched bucket's EXISTING entry — the
  * unchanged data is SHARED between versions (same physical files, zero
  * copies), so a version costs O(changed buckets) in both write IO and
  * storage. The publish is one atomic rename of the `current` pointer:
  *
  *  - Readers resolve a manifest ONCE and then read immutable files, so a
  *    concurrent merge can never show them a mixed snapshot — the caveat
  *    MergeStore's in-place dynamic overwrite documents is structurally
  *    gone here.
  *  - `read(version = Some(v))` is time travel: any retained version
  *    reconstructs exactly, because its gen dirs are immutable.
  *  - A crash BEFORE the pointer rename leaves a garbage gen dir and a
  *    v<V>.json no pointer names — invisible to every reader; the retry
  *    overwrites both. A crash AFTER is a completed commit.
  *  - `vacuum(keep)` deletes gen dirs no retained manifest references —
  *    the GC that bounds storage to the retention window.
  *
  * Scale: the manifest is |buckets| entries of a few bytes — one small
  * JSON per version (4096 buckets ≈ 60 KB); reads list only the gen dirs
  * the manifest names (partition values arrive via `basePath`), and the
  * per-bucket read set is exactly one generation's files.
  *
  * Schema evolution (ADDITIVE): a merge may carry columns the resident
  * data predates — survivors null-fill them, the union schema is recorded
  * as the new version's schema, and older files read under it null-fill
  * the new columns. Time travel reads each version under the schema it
  * was committed with. The per-version schema lives in the manifest dir,
  * so no read ever footer-sniffs or `mergeSchema`-scans 10⁶ files. */
class VersionedStore(spark: SparkSession, dir: String) {

  // the FILESYSTEM of the store ROOT (not the session default — store
  // roots legitimately live on s3a/gs while defaultFS is HDFS)
  private val fs = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def mpath(s: String) = new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest/$s")

  private def readFile(p: org.apache.hadoop.fs.Path): String =
    SmallFile.text(fs, p).getOrElse(sys.error(s"no versioned store at $dir (no $p)"))

  /** bucket -> gen, serialized one `bucket:gen` pair per line (no JSON
    * library needed; the format is the contract, pinned by the spec). */
  private def writeManifest(v: Long, m: Map[Long, Long]): Unit =
    SmallFile.write(fs, mpath(s"v$v.manifest"),
      m.toSeq.sorted.map { case (b, g) => s"$b:$g" }.mkString("\n"))
  private def readManifest(v: Long): Map[Long, Long] =
    readFile(mpath(s"v$v.manifest")).split("\n").filter(_.nonEmpty)
      .map { l => val Array(b, g) = l.split(":"); b.toLong -> g.toLong }.toMap

  def currentVersion: Long = readFile(mpath("current")).toLong

  /** Publish version `v`: on atomic-rename filesystems, write the pointer
    * to a temp name and rename over `current`; on flat object stores, ONE
    * overwrite-PUT of the pointer object (atomic per-object visibility —
    * the delete+rename spelling would open a no-pointer window there and
    * churn two objects for nothing). Either way this is the one atomic
    * step of every commit. */
  private def publish(v: Long): Unit =
    if (AtomicRename.isAtomic(spark, dir)) {
      val tmp = mpath(s".current-$v")
      SmallFile.write(fs, tmp, v.toString)
      fs.delete(mpath("current"), false)
      require(fs.rename(tmp, mpath("current")), s"publish of v$v failed")
    } else SmallFile.write(fs, mpath("current"), v.toString)

  def buckets: Int = readFile(mpath("buckets")).toInt

  private def bucketOf(n: Int) = pmod(col("doc_id"), lit(n.toLong))

  /** Each version records its LOGICAL schema in the manifest dir, so a
    * read never sniffs parquet footers to discover columns (at 10⁶ files
    * that sniff — or a `mergeSchema` union — is a driver-side scan of
    * every footer; here it's one tiny file, the Delta/Iceberg posture).
    * Older stores without a schema file fall back to `mergeSchema`. */
  private def writeSchema(v: Long, schema: org.apache.spark.sql.types.StructType): Unit =
    SmallFile.write(fs, mpath(s"v$v.schema"), schema.json)
  private def readSchema(v: Long): Option[org.apache.spark.sql.types.StructType] =
    SmallFile.text(fs, mpath(s"v$v.schema")).map(
      org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Initial load: everything lands in gen 0, manifest v0. */
  def write(docs: DataFrame, nBuckets: Int = 16): Unit =
      WriterLease.withLease(spark, dir) {
    docs.withColumn("bucket", bucketOf(nBuckets))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/gen=0")
    SmallFile.write(fs, mpath("buckets"), nBuckets.toString)
    val present = spark.read.parquet(s"$dir/gen=0")
      .select(col("bucket").cast("long")).distinct().collect().map(_.getLong(0))
    writeManifest(0L, present.map(_ -> 0L).toMap)
    writeSchema(0L, docs.schema)
    publish(0L)
  }

  /** Snapshot read. `version = None` resolves the current pointer ONCE;
    * the returned frame is pinned to that manifest forever after. Columns
    * a version's schema declares that an older resident file lacks
    * null-fill (additive schema evolution); each version reads under ITS
    * OWN recorded schema, so time travel shows the shape the version had. */
  def read(version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(currentVersion)
    val m = readManifest(v)
    if (m.isEmpty) return spark.read.parquet(s"$dir/gen=0").limit(0).drop("bucket")
    val paths = m.toSeq.map { case (b, g) => s"$dir/gen=$g/bucket=$b" }
    val rd = readSchema(v) match {
      case Some(st) => spark.read.schema(st).option("basePath", dir)
      case None     => spark.read.option("mergeSchema", "true").option("basePath", dir)
    }
    rd.parquet(paths: _*).drop("gen", "bucket")
  }

  /** Copy-on-write merge → a NEW published version; never touches
    * resident files. Returns the committed version number. */
  def merge(upserts: DataFrame, deleteIds: DataFrame): Long =
      WriterLease.withLease(spark, dir) {
    val n = buckets
    val v = currentVersion
    val manifest = readManifest(v)
    val touched = upserts.select(bucketOf(n).as("bucket"))
      .union(deleteIds.select(bucketOf(n).as("bucket")))
      .distinct().collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return v
    val newV = v + 1
    val changedIds = upserts.select("doc_id")
      .union(deleteIds.select("doc_id")).distinct()
    val residentPaths = touched.filter(manifest.contains)
      .map(b => s"$dir/gen=${manifest(b)}/bucket=$b")
    // Residents are read under version v's RECORDED schema (mirroring
    // read()): after an additive-schema merge, a touched bucket set can
    // span generations with different physical schemas, and plain parquet
    // inference picks a single file's footer — survivors from newer-gen
    // buckets would silently lose the evolved column and the copy-on-write
    // rewrite would make the loss permanent (masked as nulls by the
    // widened recorded schema).
    val resident =
      if (residentPaths.isEmpty) upserts.limit(0)
      else {
        val rd = readSchema(v) match {
          case Some(st) => spark.read.schema(st).option("basePath", dir)
          case None     => spark.read.option("mergeSchema", "true").option("basePath", dir)
        }
        rd.parquet(residentPaths: _*).drop("gen", "bucket")
      }
    // allowMissingColumns = ADDITIVE schema evolution: upserts may carry
    // columns the residents predate (survivors null-fill them) and vice
    // versa — the union schema becomes the new version's recorded schema
    val survivors = resident.join(changedIds, Seq("doc_id"), "left_anti")
    val newData = survivors.unionByName(upserts, allowMissingColumns = true)
      .withColumn("bucket", bucketOf(n))
      .repartition(col("bucket"))
    newData.write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/gen=$newV")
    // new version's logical schema = the union schema widened by any
    // column earlier versions had that this merge's inputs didn't mention
    // (untouched buckets still hold it on disk)
    val priorCols = readSchema(v).map(_.fields.toSeq).getOrElse(Seq.empty)
    val unionSchema = newData.drop("bucket").schema
    val widened = org.apache.spark.sql.types.StructType(
      unionSchema.fields ++ priorCols.filterNot(f => unionSchema.fieldNames.contains(f.name)))
    writeSchema(newV, widened)
    val written = spark.read.parquet(s"$dir/gen=$newV")
      .select(col("bucket").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    // changed buckets point to the new gen; emptied buckets drop out of
    // the manifest entirely; untouched buckets inherit their entries
    val next = (manifest -- touched.filterNot(written)) ++
      written.map(_ -> newV.toLong)
    writeManifest(newV, next)
    publish(newV)
    newV
  }

  /** Compaction — the OPTIMIZE analogue: rewrite the CURRENT snapshot
    * into one fresh generation and publish it as a new version. After
    * many merges a snapshot's buckets scatter across generations (read
    * fan-in grows, and vacuum can reclaim nothing a retained manifest
    * still touches); compaction collapses the mapping to a single gen,
    * so the next `vacuum` reclaims every older generation outright.
    * Same commit protocol as merge — copy-on-write into a new gen, then
    * one atomic pointer rename; concurrent pinned readers and time
    * travel to pre-compact versions are untouched (their gens are
    * immutable until vacuumed). */
  def compact(): Long =
      WriterLease.withLease(spark, dir) {
    val v = currentVersion
    val newV = v + 1
    val snap = read(Some(v))
    val n = buckets
    snap.withColumn("bucket", bucketOf(n)).repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/gen=$newV")
    val written = spark.read.parquet(s"$dir/gen=$newV")
      .select(col("bucket").cast("long")).distinct().collect().map(_.getLong(0))
    writeManifest(newV, written.map(_ -> newV.toLong).toMap)
    writeSchema(newV, snap.schema)
    publish(newV)
    newV
  }

  /** Change feed between two retained versions — x56's digest diff run
    * against the store's own time travel (the Delta CDF analogue): per
    * doc_id present in either snapshot, its status added / removed /
    * changed (unchanged rows are omitted — a feed, not a report). The
    * bucket→gen manifests make this cheaper than a generic diff: a bucket
    * mapped to the SAME gen in both versions is byte-identical by
    * construction and is skipped before any IO — only buckets whose gen
    * changed between v0 and v1 are read and digest-joined. */
  def diffVersions(v0: Long, v1: Long): DataFrame = {
    val (m0, m1) = (readManifest(v0), readManifest(v1))
    val changedBuckets = (m0.keySet ++ m1.keySet)
      .filter(b => m0.get(b) != m1.get(b)).toSeq.sorted
    def side(m: Map[Long, Long]): DataFrame = {
      val paths = changedBuckets.flatMap(b => m.get(b).map(g => s"$dir/gen=$g/bucket=$b"))
      if (paths.isEmpty)
        return read(Some(v0)).limit(0).select(col("doc_id"), sha2(col("text"), 256).as("h"))
      spark.read.option("basePath", dir).parquet(paths: _*)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    }
    val a = side(m0).withColumnRenamed("h", "h0")
    val b = side(m1).withColumnRenamed("h", "h1")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h0").isNull, "added")
          .when(col("h1").isNull, "removed")
          .when(col("h0") =!= col("h1"), "changed").as("status"))
      .filter(col("status").isNotNull)
  }

  /** Delete gen dirs referenced by NO retained version (the newest
    * `keep` versions survive). Returns the deleted gen ids. */
  def vacuum(keep: Int = 2): Seq[Long] =
      WriterLease.withLease(spark, dir) {
    val cur = currentVersion
    val retained = (math.max(0L, cur - keep + 1) to cur)
    val live = retained.flatMap(v => readManifest(v).values).toSet
    val all = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
    val dead = all.filterNot(live).sorted
    dead.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/gen=$g"), true)
    }
    // manifests older than the retention window are no longer readable
    fs.listStatus(mpath("current").getParent).map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.stripPrefix("v").stripSuffix(".manifest"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ < retained.head)
      .foreach { v =>
        fs.delete(mpath(s"v$v.manifest"), false)
        fs.delete(mpath(s"v$v.schema"), false)
      }
    dead.toSeq
  }
}
