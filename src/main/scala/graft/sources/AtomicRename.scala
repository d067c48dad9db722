package graft.sources

import org.apache.spark.sql.SparkSession

/** Capability gate for the engine's rename-based commit protocols — the
  * documented object-store POSTURE (r12 verdict item 3).
  *
  * Every crash-safety protocol in this repo commits durable state with a
  * filesystem rename treated as atomic:
  *
  *  - [[StagedAppend.commit]]'s stage → ready directory rename,
  *  - [[AdmitFence.advance]]'s temp → watermark rename,
  *  - [[WriterLease]]'s create-no-overwrite claim and renewal rename,
  *  - the two-rename compact swaps ([[GenDir.rewrite]] and
  *    BucketedLayout.compactDay).
  *
  * That atomicity holds on POSIX local filesystems and HDFS-class stores
  * (HDFS, viewfs, Azure ABFS with hierarchical namespace, Ozone). It does
  * NOT hold on flat object stores: S3's "rename" is a non-atomic
  * copy+delete per object (a crash mid-rename leaves BOTH halves, the
  * exact torn state the protocols assume impossible), GCS directory
  * rename is object-by-object, and create-no-overwrite is not a mutual
  * exclusion primitive on eventually-consistent listings. Running the
  * staged protocols there silently degrades exactly-once to
  * maybe-duplicated-maybe-torn — the one failure mode a 100 TB deployment
  * hits on day one, with no error anywhere.
  *
  * Since round 14 the INDEX-STORE protocols carry a mode switch instead
  * of a refusal: [[StagedAppend.commit]] commits by marker object,
  * [[AdmitFence.advance]] publishes per-batch markers folded into a
  * floor (monotonic by construction — no object is ever overwritten
  * with smaller state, so the watermark holds even where the fence
  * lock's create-no-overwrite degrades to check-then-act), and the
  * compact swaps go through [[GenDir]]'s generation pointer — all
  * single small-object writes with atomic per-object visibility, so the
  * staged protocols hold their exactly-once contracts on flat stores
  * too (the soak suite runs tri-store under a non-atomic-rename FS;
  * [[WriterLease]]'s misconfiguration DETECTION window narrows there,
  * documented at its claim site — never a crash-safety dependency).
  * `ensure` remains the gate for the protocols that still rename
  * (BucketedLayout's day swap). Where a protocol cannot mode-switch, the
  * engine REFUSES, loudly and at the first protocol touch, instead of
  * corrupting quietly. Remediation, in preference order:
  *
  *  1. keep the store roots on an atomic-rename filesystem (HDFS/local/
  *     ABFS-HNS) even when the raw corpus lives on S3 — the stores are
  *     derived state and orders of magnitude smaller than the corpus;
  *  2. use the manifest-commit pattern this repo already ships where
  *     object-store residency is mandatory: [[graft.streaming.IngestPipeline]]'s
  *     file-sink manifest and VersionedStore's manifest + pointer commit
  *     are S3-safe by construction (one small pointer write, readers
  *     never list for truth);
  *  3. accept the risk explicitly with
  *     `spark.graft.unsafeAllowNonAtomicRename=true` (e.g. an S3
  *     deployment fronted by a consistency layer that DOES make renames
  *     atomic) — the flag is deliberately named unsafe.
  *
  * The check is scheme-string-based (no FileSystem instantiation — the
  * whole point is to fail before touching the store), so it costs two
  * string operations per protocol call. */
object AtomicRename {

  /** Flat object stores whose rename is copy+delete (non-atomic). abfs/
    * abfss are NOT listed: with hierarchical namespace (the only mode
    * Hadoop's ABFS connector targets) rename is a single atomic metadata
    * op. wasb AND its TLS twin wasbs (legacy flat Azure blob) ARE listed;
    * cosn is the scheme Hadoop's Tencent COS connector actually
    * registers (cos kept for safety). */
  private val nonAtomicSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "oss",
        "cos", "cosn", "obs")

  private def schemeOf(spark: SparkSession, root: String): String =
    Option(new org.apache.hadoop.fs.Path(root).toUri.getScheme).getOrElse {
      Option(org.apache.hadoop.fs.FileSystem
        .getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
        .getOrElse("file")
    }

  /** True when `root`'s filesystem rename can be treated as atomic (or
    * the deployment explicitly accepted the risk). */
  def isAtomic(spark: SparkSession, root: String): Boolean =
    !nonAtomicSchemes.contains(schemeOf(spark, root).toLowerCase) ||
      spark.conf.get("spark.graft.unsafeAllowNonAtomicRename", "false") == "true"

  /** The RAW (checksum-free) filesystem — the protocol layer's file I/O
    * runs raw because the claim/fence/lease files are rewritten in place
    * by rename or overwrite, and a checksummed local FS would leave stale
    * `.crc` sidecars pointing at old bytes (every later read then throws
    * ChecksumException). One home for the unwrap rule so the primitives
    * cannot diverge. */
  def raw(fsys: org.apache.hadoop.fs.FileSystem): org.apache.hadoop.fs.FileSystem =
    fsys match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** ATOMIC create-no-overwrite — the claim primitive for [[WriterLease]]
    * and [[FenceLock]]. Hadoop's `RawLocalFileSystem.create(p, overwrite =
    * false)` is CHECK-THEN-ACT: an `exists()` probe followed by a plain
    * `FileOutputStream`, which under contention lets a second claimer slip
    * past the probe and TRUNCATE the live holder's just-written claim —
    * the cross-process suite caught exactly that (a fence-lock release
    * observing its lock momentarily empty, then carrying a contender's
    * token, during a two-process fence race on local /tmp). On local
    * filesystems the claim therefore goes through NIO `CREATE_NEW` — one
    * `open(O_CREAT|O_EXCL)`, POSIX-atomic, exactly one winner — while
    * HDFS-class filesystems keep `fsys.create(p, false)`, which is atomic
    * at the namenode. Either way the file is visible EMPTY for the
    * microseconds before the claimant's bytes land, so readers must judge
    * a content-less claim by the file's MTIME, never as "torn = ancient".
    * Returns true iff this caller created the file. */
  def createNoOverwrite(fsys: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path,
                        bytes: Array[Byte]): Boolean = {
    val rawFs = raw(fsys)
    // The create and the byte write are SPLIT so a write failure after a
    // successful create can clean up its own orphan: an empty claim file
    // left behind would read as "<unparsable> + fresh mtime" and wedge
    // the root for a full staleMs (the old torn-=-ancient rule at least
    // recovered instantly). The delete is sound precisely because OUR
    // create succeeded — the file is ours until deleted; a delete after
    // a FAILED create could remove a contender's just-won claim.
    rawFs match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // qualify BEFORE crossing into NIO: a relative Hadoop Path resolves
        // against the FileSystem working directory, while a relative NIO
        // path resolves against the JVM CWD — unqualified, the two sides
        // of this branch could claim/delete DIFFERENT files
        val nio = java.nio.file.Paths.get(rawFs.makeQualified(p).toUri.getPath)
        val ch =
          try java.nio.file.Files.newByteChannel(nio,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          catch { case _: java.io.IOException => null } // incl. already-exists
        if (ch == null) false
        else
          try {
            // WritableByteChannel permits short writes — drain the buffer,
            // or a partial flush would publish a TORN claim while
            // returning true (the state the split-create cleanup exists
            // to avoid)
            val buf = java.nio.ByteBuffer.wrap(bytes)
            while (buf.hasRemaining) ch.write(buf)
            true
          }
          catch { case _: java.io.IOException =>
            try java.nio.file.Files.deleteIfExists(nio)
            catch { case _: java.io.IOException => () }
            false
          } finally {
            try ch.close() catch { case _: java.io.IOException => () }
          }
      case _ =>
        val out =
          try rawFs.create(p, false)
          catch { case _: java.io.IOException => null } // incl. already-exists
        if (out == null) false
        else
          try { out.write(bytes); out.close(); true }
          catch { case _: java.io.IOException =>
            try out.close() catch { case _: java.io.IOException => () }
            try rawFs.delete(p, false) catch { case _: java.io.IOException => () }
            false
          }
    }
  }

  /** Rename that tolerates LOSING a concurrent-drain race: Hadoop's local
    * rename falls back to `FileUtil.copy` when `renameTo` fails, and copy
    * THROWS FileNotFoundException on a source the other party already
    * moved (caught live by the cross-process writer-vs-healer race) —
    * callers treat "false + destination present" as the other party's
    * completed move. Shared by [[StagedAppend.moveTree]] and the
    * lease-free recover() heals (VectorStore, PostingsStore), so the
    * which-exceptions-mean-success knowledge lives once. */
  def renameOrVanished(fsys: org.apache.hadoop.fs.FileSystem,
                       src: org.apache.hadoop.fs.Path,
                       dst: org.apache.hadoop.fs.Path): Boolean =
    try fsys.rename(src, dst)
    catch {
      case _: java.io.FileNotFoundException => false
      case e: java.io.IOException =>
        // the copy-fallback can also surface a vanishing source as
        // EACCES on Linux (File.list() returns null mid-deletion) —
        // re-probe; a still-present source is a real error
        if (!fsys.exists(src)) false else throw e
    }

  /** Refuse a rename-based protocol on a filesystem without atomic
    * rename. `protocol` names the caller for the error message. */
  def ensure(spark: SparkSession, root: String, protocol: String): Unit =
    if (!isAtomic(spark, root))
      throw new UnsupportedOperationException(
        s"$protocol at $root commits state via filesystem renames, and " +
          s"scheme '${schemeOf(spark, root)}' is a flat object store whose " +
          "rename is a non-atomic copy+delete — a crash mid-commit would " +
          "leave torn state the crash-safety protocols assume impossible, " +
          "and replays could double-append with no error anywhere. " +
          "Remediation: (1) place the store root on an atomic-rename " +
          "filesystem (HDFS/local/ABFS with hierarchical namespace) — " +
          "derived index state is small next to the corpus; (2) use a " +
          "store family with an object-store commit path: the index " +
          "stores (SignatureStore/PostingsStore/VectorStore via " +
          "StagedAppend's commit marker + GenDir's generation pointer), " +
          "IngestPipeline's file-sink manifest, and VersionedStore's " +
          "manifest+pointer are all S3-safe by construction; or (3) " +
          "set spark.graft.unsafeAllowNonAtomicRename=true to accept " +
          "torn-commit risk explicitly.")
}
