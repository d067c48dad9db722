package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** Two-phase crash-safe append for the append-only index stores
  * (SignatureStore, VectorStore, PostingsStore) — closes the "crash inside
  * the multi-file append" window that AdmitFence's scaladoc names as the
  * last at-least-once hole: with a plain `mode("append")` write, a crash
  * inside the commit's rename loop leaves a PARTIAL subset of the batch's
  * files in the live directory, which the next read serves and the
  * replayed batch then duplicates.
  *
  * Protocol (the ST28 stage-swap / BucketedLayout-manifest shape, applied
  * to appends):
  *
  *   1. STAGE: write every file of the batch under
  *      `<root>/_append_stage_<token>/<sub>/...` — a multi-file,
  *      arbitrarily long write. A crash here leaves only an orphan stage
  *      dir; nothing is live, and the next WRITER discards it.
  *   2. COMMIT: one atomic directory rename `_append_stage_<token>` →
  *      `_append_ready_<token>`. Before this rename the batch does not
  *      exist; after it, the batch is durable and WILL be served.
  *      On flat object stores (no atomic rename — [[AtomicRename.isAtomic]]
  *      false) the commit is instead ONE small-object marker write
  *      (`_append_commit_<token>`, r13 verdict item 4): object PUTs are
  *      atomic per object, the staged files stay where they were written
  *      (object-store best practice — no copy storm), and "committed" =
  *      "marker exists". All downstream steps treat the two spellings
  *      identically.
  *   3. FENCE: streaming callers advance the AdmitFence watermark here —
  *      the commit made the batch durable, so marking it admitted before
  *      any file reaches a live directory is safe, and the token carries
  *      the batch id (`b<id>`) so a replay that finds its own committed
  *      ready dir (crash between 2 and 3) recognizes it and only
  *      re-advances the fence instead of appending twice.
  *   4. PUBLISH: move each data file into its live directory, preserving
  *      relative paths (partition subdirs, bucket file names), then
  *      delete the ready dir. Idempotent — a crash mid-move is completed
  *      file-by-file by the next [[heal]]; file names carry per-job UUIDs
  *      so re-moving can never collide.
  *
  * Readers call [[heal]] (dropStages = false) before reading, so a
  * half-published batch is never served partially: pending ready dirs are
  * drained to completion first. Only WRITERS pass dropStages = true — a
  * reader must not delete a stage dir the single writer is still filling.
  * Same single-writer assumption as every compact in this repo, enforced
  * by [[WriterLease]] on the store entry points.
  *
  * Shared entry points — each store supplies only what it writes:
  *  - [[append]]: the whole fenced cycle (fence check → token → stage →
  *    commit → fence advance → publish) around the store's
  *    `stageAppend`, called by `SignatureStore.appendStaged`,
  *    `VectorStore.append` and `PostingsStore.append`;
  *  - [[heal]]: the drain every reader and writer of those stores runs
  *    first;
  *  - [[reset]]: the protocol reset of a rebuild (`SignatureStore.write`,
  *    `VectorStore.build`, `PostingsStore.build`). */
object StagedAppend {

  // resolve the FILESYSTEM FROM THE ROOT, not the session default: store
  // roots legitimately live on a different FS than fs.defaultFS (the
  // 100 TB shape — corpus on an object store, defaultFS on HDFS), and
  // FileSystem.get(conf) would hand back the wrong one
  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def stagePath(root: String, token: String): Path =
    new Path(s"$root/_append_stage_$token")

  def readyPath(root: String, token: String): Path =
    new Path(s"$root/_append_ready_$token")

  /** The commit MARKER — the flat-object-store commit: one small-object
    * write whose EXISTENCE is the commit (atomic per-object visibility;
    * no rename anywhere). The staged files stay under the stage dir
    * until publish drains them. A torn marker still means "committed":
    * the marker is only ever written AFTER the stage completed, so its
    * content carries no information the protocol needs. */
  def commitMarkerPath(root: String, token: String): Path =
    new Path(s"$root/_append_commit_$token")

  /** The COMMIT — mode-switched on the root's rename posture:
    * atomic-rename filesystems get the stage → ready directory rename;
    * flat object stores get the commit-marker write ([[commitMarkerPath]]).
    * Either way, before this call the batch does not exist and after it
    * the batch is durable and WILL be served. */
  def commit(spark: SparkSession, root: String, token: String): Unit = {
    val fsys = fs(spark, root)
    if (AtomicRename.isAtomic(spark, root))
      require(fsys.rename(stagePath(root, token), readyPath(root, token)),
        s"staged append: could not commit $token under $root")
    else SmallFile.write(fsys, commitMarkerPath(root, token), "committed")
  }

  /** Move every data file of `src` into `dstRoot`, mirroring the relative
    * directory structure (partition dirs). Marker files (_SUCCESS, dot
    * files) stay behind and die with the ready dir. A rename that fails
    * because the destination already exists is a completed move from a
    * previous attempt — idempotent by construction. */
  private def moveTree(fsys: FileSystem, src: Path, dstRoot: Path): Unit = {
    // a concurrent drain (a reader healing while the writer's own publish
    // finishes, or two readers draining a crashed writer's batch) can
    // delete src between our listing and our recursion — that means the
    // OTHER party completed the move; vanishing is success, not failure.
    // Vanishing has THREE spellings: FileNotFound, AND — on Linux — an
    // AccessDenied/IO error from listing a directory mid-deletion
    // (File.list() returns null for a vanished dir and Hadoop maps it to
    // AccessDenied; caught live by the cross-process writer-vs-healer
    // race). Re-probe existence to separate those from a real error.
    val entries =
      try fsys.listStatus(src)
      catch {
        case _: java.io.FileNotFoundException => return
        case e: java.io.IOException =>
          if (!fsys.exists(src)) return else throw e
      }
    entries.foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) moveTree(fsys, st.getPath, new Path(dstRoot, name))
      else if (!name.startsWith("_") && !name.startsWith(".")) {
        fsys.mkdirs(dstRoot)
        val dst = new Path(dstRoot, name)
        // a concurrent drain can win this rename — vanished source means
        // the other party completed the move, same as the listing above
        val renamed = AtomicRename.renameOrVanished(fsys, st.getPath, dst)
        if (!renamed && !fsys.exists(dst) && fsys.exists(st.getPath))
          sys.error(s"staged append: could not publish ${st.getPath} -> $dst")
      }
    }
  }

  /** PUBLISH a committed batch: drain its committed source dir — the
    * ready dir (rename-commit mode) or the stage dir under a commit
    * marker (marker mode) — into the live directories (`live` maps each
    * staged top-level name, e.g. "sig_docs" or "vectors", to its current
    * live root), then delete the source dir and, last, the marker.
    * Marker-last ordering makes every crash point re-drainable: a marker
    * with no stage dir left is a completed publish awaiting only the
    * marker delete. */
  def publish(spark: SparkSession, root: String, token: String,
              live: String => Path): Unit = {
    val fsys = fs(spark, root)
    val marker = commitMarkerPath(root, token)
    val hasMarker = fsys.exists(marker)
    val src = if (hasMarker) stagePath(root, token) else readyPath(root, token)
    val entries =
      if (!fsys.exists(src)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else
        try fsys.listStatus(src)
        catch { // drained concurrently (incl. the Linux vanished-dir EACCES)
          case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus]
          case e: java.io.IOException =>
            if (!fsys.exists(src)) Array.empty[org.apache.hadoop.fs.FileStatus]
            else throw e
        }
    entries.foreach { st =>
      if (st.isDirectory) moveTree(fsys, st.getPath, live(st.getPath.getName))
    }
    // two drains can race this recursive delete too — a vanished source
    // dir is the other party's completed cleanup
    try { fsys.delete(src, true); () }
    catch { case e: java.io.IOException => if (fsys.exists(src)) throw e }
    if (hasMarker)
      try { fsys.delete(marker, false); () }
      catch { case e: java.io.IOException => if (fsys.exists(marker)) throw e }
  }

  /** Heal the append protocol: publish every committed-but-undrained
    * batch, and — for writers only — discard orphan stage dirs from
    * appends that died before their commit rename.
    *
    * Draining a fenced batch (token `b<id>`) also ADVANCES the AdmitFence
    * watermark: the commit rename made the batch durable, so "committed"
    * must imply "admitted" no matter who drains it — without this, a
    * READER draining the ready dir of an append that crashed between its
    * commit and its fence write would erase the only evidence the
    * replayed append has that its batch already landed, and the replay
    * would double-append. With it, the fence check alone covers every
    * replay path. */
  def heal(spark: SparkSession, root: String, live: String => Path,
           dropStages: Boolean): Seq[String] = {
    val fsys = fs(spark, root)
    val rootP = new Path(root)
    if (!fsys.exists(rootP)) return Nil
    val entries = fsys.listStatus(rootP).map(_.getPath)
    // marker-mode committed batches: the stage dir IS the durable batch
    // (the marker made it so) — a writer's orphan-stage sweep must skip
    // them, or it would delete committed data
    val markerTokens = entries.filter(_.getName.startsWith("_append_commit_"))
      .map(_.getName.stripPrefix("_append_commit_")).toSet
    if (dropStages)
      entries.filter(p => p.getName.startsWith("_append_stage_") &&
          !markerTokens(p.getName.stripPrefix("_append_stage_")))
        .foreach(p => fsys.delete(p, true))
    val tokens = (entries.filter(_.getName.startsWith("_append_ready_"))
      .map(_.getName.stripPrefix("_append_ready_")) ++ markerTokens).distinct.toSeq
    tokens.foreach { t =>
      // fence BEFORE publish — the same ordering as the append path: a
      // crash after the fence leaves the ready dir for the next heal to
      // re-publish idempotently, while publish-first would delete the
      // only durable evidence of the batch and a crash before the fence
      // write would then let the replay double-append
      t.stripPrefix("b").toLongOption
        .filter(_ => t.startsWith("b"))
        .filter(_ > AdmitFence.upto(spark, root))
        .foreach(id => AdmitFence.advance(spark, root, id))
      publish(spark, root, t, live)
    }
    tokens
  }

  /** One fenced append cycle. A batch whose id the fence already admitted
    * is skipped — callers heal first, and the heal advanced the fence for
    * every drained committed batch, so this one check covers every replay
    * path, including a batch committed by an attempt that crashed before
    * its fence write. Otherwise `stage` writes the batch under
    * [[stagePath]] for the token (`b<id>` when fenced, so a replay
    * recognizes its own committed batch), then commit, fence advance and
    * publish run in that order. Returns whether the batch landed, for the
    * caller's own follow-up (cache invalidation, catalog refresh). */
  def append(spark: SparkSession, root: String, batchId: Option[Long],
             live: String => Path)(stage: String => Unit): Boolean =
    if (batchId.exists(id => AdmitFence.admitted(spark, root, id))) false
    else {
      val token = batchId.map("b" + _).getOrElse("t" + java.lang.System.nanoTime())
      stage(token)
      commit(spark, root, token)
      batchId.foreach(id => AdmitFence.advance(spark, root, id))
      publish(spark, root, token, live)
      true
    }

  /** A rebuild's protocol reset: a stale fence watermark or batch marker
    * (`_admitted*`), staged/ready/commit entries (`_append_*`) or fence
    * lock (`_fence_lock*`) from a previous store at `root` must not leak
    * into the new one — a stale fence would silently skip early batches.
    * Lease-held callers only. */
  def reset(fsys: FileSystem, root: String): Unit = {
    val rootP = new Path(root)
    if (fsys.exists(rootP))
      fsys.listStatus(rootP).map(_.getPath)
        .filter(q => Seq("_admitted", "_append_", "_fence_lock").exists(q.getName.startsWith))
        .foreach(q => fsys.delete(q, true))
  }
}
