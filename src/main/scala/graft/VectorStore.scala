package graft

import graft.operators.VectorOps
import graft.sources.{AtomicRename, GenDir, StagedAppend, WriterLease}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-cell-partitioned embedding store — the vector analogue of
  * [[GraftStore]]/BucketedLayout: the ANN index IS the storage layout.
  *
  * `build` derives the deterministic seed codebook (x08's every-⌊√n⌋-th
  * rule — no trained state), assigns every vector to its max-cosine cell,
  * and writes `cell=<id>/` parquet partitions; the codebook persists
  * beside the data. A search's nprobe cell selection then becomes
  * PARTITION PRUNING — directory elimination before any file IO — instead
  * of x08's full corpus scan-and-assign per query session. At 100 TB this
  * is the difference between an ANN query touching nprobe/√n of the
  * corpus's FILES versus scanning everything to recompute assignments
  * that never change.
  *
  * `append` is the incremental-index primitive (the x42 analogue for
  * vectors): new batches assign against the PERSISTED codebook and land
  * as new files in existing cell directories — no rebuild, no touch of
  * resident data. The codebook drifts from the corpus as appends
  * accumulate; x45 (Lloyd step) measures the drift and x37 (recall gate)
  * decides when a rebuild pays — the maintenance loop a production index
  * runs.
  *
  * Probe-cell selection collects the ≤ |probes|·nprobe distinct cell ids
  * to the driver to form the partition filter — deliberately driver-side,
  * same as [[GraftStore.latest]]: the list is probe-sized (not
  * corpus-sized) by construction, and a literal IN-list is what the
  * parquet source prunes directories with.
  */
class VectorStore(spark: SparkSession, dir: String) {

  private val centDir = s"$dir/centroids"

  // the FILESYSTEM of the store ROOT (not the session default — store
  // roots legitimately live on s3a/gs while defaultFS is HDFS)
  private def fsOf: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The LIVE vectors directory — pointer-resolved ([[GenDir]]): after an
    * object-store compact `_vectors_gen` names the current generation;
    * rename-swapped stores keep the classic `vectors` name. */
  private def vecDir: String = GenDir.livePath(fsOf, dir, "vectors").toString

  /** Build the store from a (vec_id, embedding) corpus: derive + persist
    * the codebook, assign cells, write the partitioned layout. */
  def build(src: DataFrame): Unit = WriterLease.withLease(spark, dir) {
    invalidateVerdicts()
    val fsys = fsOf
    StagedAppend.reset(fsys, dir)
    // a survivor generation pointer would aim the fresh build's writes
    // (and reads) at the PREVIOUS store's retired generation
    GenDir.reset(fsys, dir, "vectors")
    VectorOps.seedCents(src).write.mode("overwrite").parquet(centDir)
    writeCells(src, vecDir)
  }

  /** `vecs` assigned against the persisted codebook, written as the
    * `cell=<id>/` layout under `path`. */
  private def writeCells(vecs: DataFrame, path: String): Unit =
    VectorOps.assignCells(vecs, centroids)
      .withColumnRenamed("cluster", "cell")
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Live-directory resolver for [[StagedAppend]], resolved at publish
    * time: a staged batch's `vectors` files must drain into the CURRENT
    * generation, not the classic name a compact may have retired. */
  private def liveFor(name: String): Path =
    if (name == "vectors") new Path(vecDir) else new Path(s"$dir/$name")

  /** [[StagedAppend.heal]]; a drain changes the store contents, so it
    * invalidates any cached arbitration verdict. */
  private def healAppends(dropStages: Boolean): Unit =
    if (StagedAppend.heal(spark, dir, liveFor, dropStages).nonEmpty) invalidateVerdicts()

  /** Incrementally index a new (vec_id, embedding) batch against the
    * persisted codebook — new files in existing cell directories only,
    * through the [[StagedAppend]] protocol, so a partial batch is never
    * served.
    *
    * `batchId` (streaming ingest) arms the [[graft.sources.AdmitFence]]
    * replay fence: a batch whose append already completed is skipped, so
    * a crash between the append and the checkpoint commit no longer
    * double-indexes the batch on replay (duplicate rows at identical
    * distances would occupy duplicate rank positions at search time and
    * could displace the k-th distinct neighbor). Batch-mode callers omit
    * it and keep plain append semantics. */
  def append(batch: DataFrame, batchId: Option[Long] = None): Unit =
      WriterLease.withLease(spark, dir) {
    // heal an interrupted compact first: appending into an absent vecDir
    // would fork a fresh store and orphan every resident row
    recover(fsOf)
    healAppends(dropStages = true)
    if (StagedAppend.append(spark, dir, batchId, liveFor)(stageAppend(batch, _)))
      invalidateVerdicts()
  }

  /** The append's stage step (exposed for the crash-injection specs,
    * which kill here or after the commit). */
  private[graft] def stageAppend(batch: DataFrame, token: String): Unit =
    writeCells(batch, s"${StagedAppend.stagePath(dir, token)}/vectors")

  /** Collapse append generations: each `append` lands one new file per
    * touched cell directory, so a long ingest tail decays into the
    * small-files regime every other index family already guards against.
    * The [[GenDir.rewrite]] writes one sorted file generation per cell
    * (vec_id order gives cheap id-range skipping inside a cell). The
    * codebook is untouched — compaction never changes assignments, so
    * reads through [[searchTopK]] are equal before and after
    * (VectorStoreSpec pins read-equality and the file-count collapse). */
  def compact(): Unit = WriterLease.withLease(spark, dir) {
    recover(fsOf) // first: the drain below would publish into an absent vecDir
    healAppends(dropStages = true)
    GenDir.rewrite(spark, dir, Seq(GenDir.Swap("vectors", new Path(vecDir), (src, dst) =>
      spark.read.parquet(src)
        .repartition(col("cell"))
        .sortWithinPartitions("vec_id")
        .write.partitionBy("cell").mode("overwrite").parquet(dst))))
  }

  /** Heal an interrupted compact ([[GenDir.rollBack]]); the pointer
    * posture has no window to heal. */
  private def recover(fsys: FileSystem): Unit =
    if (AtomicRename.isAtomic(spark, dir))
      GenDir.rollBack(fsys, dir, "vectors", new Path(vecDir))

  /** The persisted codebook (cent_id, c_emb) — √n rows. */
  def centroids: DataFrame = spark.read.parquet(centDir)

  /** The whole store as a queryable frame (cell partition column
    * included), healing an interrupted compact first (see [[recover]])
    * and draining any committed-but-unpublished append so a half-moved
    * batch is never served partially. */
  def table: DataFrame = {
    // one FS + pointer resolution per read (vecDir costs an exists+read
    // per call; heals never flip the pointer — only a lease-held compact
    // does, and a reader resolves one consistent generation)
    val fsys = fsOf
    val live = vecDir
    if (!fsys.exists(new Path(live))) recover(fsys)
    healAppends(dropStages = false)
    spark.read.parquet(live)
  }

  /** IVF top-k over the store: probes pick their nprobe closest persisted
    * centroids, and the corpus side reads ONLY the matching cell
    * directories (partition pruning; VectorStoreSpec asserts the file-count
    * reduction). Ranking is x08's (round(cos,4) DESC, vec_id) contract —
    * output over a just-built store is row-identical to x08AnnIvf. */
  def searchTopK(probes: DataFrame, nprobe: Int = 2, k: Int = 5): DataFrame =
    searchTopKFrom(table, probes, nprobe, k)

  /** [[searchTopK]] over an already-resolved store frame — so callers
    * that bound `table` once (the auto-arbitrated search) do not repeat
    * the heal/recover filesystem scans per stage. */
  private def searchTopKFrom(t: DataFrame, probes: DataFrame,
                             nprobe: Int, k: Int): DataFrame = {
    // one probe window per search: the collected rows yield BOTH the
    // partition filter and (via a literal re-lift) the join side, so the
    // √n-row codebook is read once and the window never re-runs
    val pcRows = VectorOps.probeClusters(centroids, probes, nprobe).collect()
    val cells = pcRows.map(_.getLong(2)).distinct.sorted
    val pc = spark.createDataFrame(
      spark.sparkContext.parallelize(pcRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("probe_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p_emb",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType))))
    val assigned = t
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("embedding"), col("cell").cast("long").as("cluster"))
    VectorOps.ivfSearchClusters(assigned, pc, k)
  }

  /** x08's declared probe set (vec_id < 10) over the store. */
  def searchContractProbes(nprobe: Int = 2, k: Int = 5): DataFrame =
    searchTopK(table.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")),
      nprobe, k)

  // Cached arbitration verdicts keyed (k, store-content fingerprint): the
  // verdict is a property of the STORE CONTENTS (codebook + cells), not of
  // any one query — and the contents can change OUTSIDE this instance (a
  // writer process appends and publishes; this reader JVM never observes a
  // ready dir that was already drained). In-process invalidation alone
  // would serve a stale recall certification indefinitely as the corpus
  // drifts (r12 ADVICE), so the cache key IS the contents: the fence
  // watermark plus the vectors/ file-listing signature (paths, sizes,
  // mtimes). Any append/compact/build — this instance's or another
  // process's — changes the listing and forces re-certification; the same
  // mechanism is the DRIFT trigger (r12 verdict item 6): a
  // distribution-shifting append can never be served from the old verdict.
  // Cost: one recursive listing per auto-search — the same metadata class
  // as the parquet read planning the search performs anyway.
  @transient private var verdicts = Map.empty[(Int, Long), Option[Int]]

  private def invalidateVerdicts(): Unit = synchronized { verdicts = Map.empty }

  private def contentFingerprint(fsys: FileSystem): Long = {
    val root = new Path(vecDir)
    // a compact/build in ANOTHER process can retire `vectors/` (rename)
    // or remove files between hasNext and next — a vanished entry means
    // "contents changed mid-listing", so re-list instead of throwing out
    // of a pure read; bounded retries, then propagate (truly wedged)
    def listOnce(): Seq[(String, Long, Long)] = {
      val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      if (fsys.exists(root)) {
        val it = fsys.listFiles(root, true)
        while (it.hasNext) {
          val st = it.next()
          files += ((st.getPath.toString, st.getLen, st.getModificationTime))
        }
      }
      files.toSeq
    }
    // cheap state probe for the retry gate: top-level entry names+mtimes.
    // A failure with an UNCHANGED probe across attempts is a persistent
    // real error (permissions, bad mount) — rethrow like the sibling
    // vanished-source sites (renameOrVanished, StagedAppend) instead of
    // burning 5 retries of sleeps on every fingerprint
    def shallow(): Seq[(String, Long)] =
      try {
        if (!fsys.exists(root)) Nil
        else fsys.listStatus(root).toSeq
          .map(st => (st.getPath.getName, st.getModificationTime)).sorted
      } catch { case _: java.io.IOException => Nil } // itself mid-mutation
    var attempt = 0
    var lastProbe: Option[Seq[(String, Long)]] = None
    var listed: Seq[(String, Long, Long)] = null
    while (listed == null) {
      attempt += 1
      // FileNotFound OR the Linux vanished-dir EACCES (File.list()
      // returns null mid-deletion; Hadoop maps it to AccessDenied) —
      // both read as "contents changed mid-listing", but only retry
      // while the state plausibly IS changing: root vanished, or the
      // shallow probe moved since the previous failure
      try listed = listOnce()
      catch { case e: java.io.IOException =>
        val probe = shallow()
        val unchanged = fsys.exists(root) && lastProbe.contains(probe)
        if (attempt >= 5 || unchanged) throw e
        lastProbe = Some(probe)
        Thread.sleep(25L * attempt)
      }
    }
    listed.sortBy(_._1).foldLeft( // sorted: listing order is not contractual
      graft.sources.AdmitFence.upto(spark, dir) + 1125899906842597L) {
      case (h, (p, len, mt)) =>
        ((h * 31L + p.hashCode.toLong) * 31L + len) * 31L + mt
    }
  }

  /** [[searchTopK]] with nprobe ARBITRATED against the store's own
    * PERSISTED assignment — the gate re-derives nothing corpus-sized
    * (the `cell` partition column IS the cluster id, read straight off
    * the layout): a certified nprobe serves the pruned IVF search, a
    * rejection serves the exact scan over the store. The per-corpus
    * decision the r11 fidelity rehearsal prescribed, executable at the
    * serving layer where it matters. The verdict is measured ONCE per
    * store state (cached by k; mutations invalidate) — per-query
    * re-certification would cost more than the exact scan it guards
    * against. */
  def searchTopKAuto(probes: DataFrame, k: Int = 5): DataFrame = {
    val t = table // ONE heal/recover + listing for the gate and the serving
    val fsys = fsOf
    val fp = contentFingerprint(fsys) // AFTER table's heal — post-drain state
    val np = synchronized(verdicts.get((k, fp))) match {
      case Some(v) => v
      case None =>
        val v = VectorOps.x08ChooseNprobeFrom(
          t.select(col("vec_id"), col("embedding"),
            col("cell").cast("long").as("cluster")),
          centroids, k = k)._1
        synchronized {
          if (verdicts.size >= 64) verdicts = Map.empty // bound a long server
          verdicts += (k, fp) -> v
        }
        v
    }
    np match {
      case Some(w) => searchTopKFrom(t, probes, w, k)
      case None => VectorOps.exactTopK(
        t.select(col("vec_id"), col("embedding")), probes, k)
    }
  }
}
