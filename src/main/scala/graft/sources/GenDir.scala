package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Generation swaps of a store's directories — the compact of
  * VectorStore (`vectors`), PostingsStore (`postings` + `stats`) and
  * StreamOps' fingerprint store (`base`) is one [[rewrite]], and their
  * readers and writers heal its crash window with [[rollBack]]. Both
  * postures stage the whole rewrite beside the live dir first, so a crash
  * before the publish leaves only an orphan the next rewrite clears:
  *
  *  - ATOMIC-rename filesystems ([[AtomicRename.isAtomic]]) write into
  *    `<base>_compact_<gen>` and publish with two directory renames, live
  *    → `<base>_old_<gen>` and staged → live. A crash between the two
  *    leaves the live dir absent for the instant until [[rollBack]]
  *    restores the retired one.
  *  - FLAT object stores (a directory rename is a non-atomic copy+delete
  *    per object there, so the two-rename window would be torn state, not
  *    an absent-root instant — r13 verdict item 4) write into
  *    `<base>_g<gen>` and publish by the VersionedStore pointer pattern at
  *    directory granularity:
  *
  *   dir/<base>            -- generation 0, the classic layout (default)
  *   dir/<base>_g<nanos>   -- later generations, immutable once published
  *   dir/_<base>_gen       -- pointer: the CURRENT generation's dir name
  *
  * The publish is ONE small-object write — atomic per-object visibility
  * on every store (a reader sees the old name or the new name, never a
  * torn directory). A crash before the pointer write leaves an orphan
  * staged generation (swept by [[sweep]]); a crash after it leaves the
  * retired generation's bytes (also swept) — garbage either way, never
  * torn data. Resolution falls back to `<base>` when no pointer exists,
  * so every store written by the rename-swapped path reads unchanged.
  *
  * SignatureStore swaps catalog tables, not dirs, and reclaims their
  * generation dirs with [[dropGens]]. Two stores stay outside:
  *
  *  - BucketedLayout.compactDay: its day dirs sit under parquet partition
  *    discovery, so its staging and park names must be dot-prefixed —
  *    `<base>_old_<gen>` would be read as a `day=` value. Its pointer
  *    posture also carries the `_folded` manifest and late-append rules,
  *    and its `.old-day=` park is read by the pointer branch, by
  *    `sweepDay` and by `dropDaysBefore`.
  *  - VersionedStore never swaps a directory: it only adds generations,
  *    and its pointer names a version.
  *
  * Single WRITER per store mutates the pointer, same as every compact in
  * this repo ([[WriterLease]]); lease-free readers only resolve it. */
object GenDir {

  /** One base of a [[rewrite]]: its name, its LIVE dir as the store
    * resolves it, and the writer that rewrites `src` (the live dir) into
    * `dst` (the staging dir). */
  final case class Swap(base: String, live: Path, write: (String, String) => Unit)

  private def pointer(dir: String, base: String) =
    new Path(s"$dir/_${base}_gen")

  /** The CURRENT generation directory name for `base` under `dir`: the
    * pointer's content when one exists, else `base` itself (the classic
    * layout — fully back-compatible). Read failures on a PRESENT pointer
    * propagate: guessing `base` there could serve a retired, possibly
    * deleted generation. An absent pointer is read by [[SmallFile]]; the
    * only writers that delete it ([[reset]], a rebuild) restore the
    * classic layout. */
  def currentName(fsys: FileSystem, dir: String, base: String): String =
    SmallFile.text(fsys, pointer(dir, base)).filter(_.nonEmpty).getOrElse(base)

  /** The CURRENT generation directory for `base`. */
  def livePath(fsys: FileSystem, dir: String, base: String): Path =
    new Path(s"$dir/${currentName(fsys, dir, base)}")

  /** Publish `genName` as `base`'s current generation — ONE small-object
    * overwrite, atomic visibility, nothing else. The retired generation's
    * bytes are deliberately NOT deleted here: a lease-free reader that
    * resolved the old generation name an instant before this flip may
    * still be mid-scan of its files, and deleting them under it is a
    * query failure (or silent row loss under ignoreMissingFiles).
    * Retired generations are reclaimed one compact cycle later, by the
    * NEXT lease-held writer's [[sweep]] — by then every reader that
    * resolved the pre-flip pointer has long finished. */
  def publish(fsys: FileSystem, dir: String, base: String, genName: String): Unit =
    SmallFile.write(fsys, pointer(dir, base), genName)

  /** Drop generation dirs of `base` the pointer does not name — the
    * predecessors [[publish]] deferred (reclaimed here, one compact cycle
    * after retirement) and the crash garbage of an interrupted
    * pointer-mode compact (a staged but unpublished generation). Never
    * touches the live generation or the classic `<base>` dir while it is
    * live. Lease-held callers only: sweeping without the writer lease
    * could race a live compact's staging generation. */
  def sweep(fsys: FileSystem, dir: String, base: String): Unit =
    dropGens(fsys, dir, base, Set(currentName(fsys, dir, base)))

  /** Drop every `<base>` and `<base>_g<n>` dir under `dir` not named in
    * `keep` — [[sweep]] for a store whose live name is kept elsewhere
    * (SignatureStore's catalog location). Same lease-held rule. */
  def dropGens(fsys: FileSystem, dir: String, base: String,
               keep: Set[String]): Unit = {
    val dirP = new Path(dir)
    if (!fsys.exists(dirP)) return
    // the classic `<base>` dir is itself a retired generation once the
    // pointer names another — sweep it too
    fsys.listStatus(dirP).map(_.getPath)
      .filter(p => (p.getName.startsWith(s"${base}_g") || p.getName == base) &&
                   !keep(p.getName))
      .foreach(p =>
        try { fsys.delete(p, true); () }
        catch { case _: java.io.IOException => () }) // next sweep retries
  }

  /** Rewrite every base in `swaps` as one new generation and publish it.
    *
    * First the crash garbage of an earlier rewrite goes: [[rollBack]] in
    * the atomic posture, the generation sweep in the pointer posture. The
    * sweep keeps the pointer's generation AND the store's live dir. They
    * differ only for PostingsStore's stats after a crash between its two
    * pointer flips: readers resolve stats from the postings pointer, so
    * deleting that dir would break them.
    *
    * Then every writer runs under one shared `<gen>` suffix, and only
    * after ALL of them finished are the bases published, in REVERSE
    * order: a crash in any writer publishes nothing, and a reader that
    * resolves the first base's new generation finds every later base's
    * already published (PostingsStore lists `postings` first, so `stats`
    * flips before the postings pointer its readers resolve). Lease-held
    * callers only; callers drain their pending appends before calling,
    * so the rewrite holds every committed batch. */
  def rewrite(spark: SparkSession, dir: String, swaps: Seq[Swap]): Unit = {
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val atomic = AtomicRename.isAtomic(spark, dir)
    swaps.foreach { s =>
      if (atomic) rollBack(fsys, dir, s.base, s.live)
      else dropGens(fsys, dir, s.base, Set(currentName(fsys, dir, s.base), s.live.getName))
    }
    val gen = java.lang.System.nanoTime()
    def staged(base: String) = if (atomic) s"${base}_compact_$gen" else s"${base}_g$gen"
    swaps.foreach(s => s.write(s.live.toString, s"$dir/${staged(s.base)}"))
    swaps.reverse.foreach { s =>
      if (!atomic) publish(fsys, dir, s.base, staged(s.base))
      else {
        // publishes AT the live dir the store resolved, so a surviving
        // pointer (a store migrated from the pointer posture) stays valid
        val old = new Path(s"$dir/${s.base}_old_$gen")
        // no live dir yet: a fingerprint store's first compact folds
        // partials only
        if (fsys.exists(s.live))
          require(fsys.rename(s.live, old), s"compact: could not retire ${s.live}")
        require(fsys.rename(new Path(s"$dir/${staged(s.base)}"), s.live),
          s"compact: could not publish ${staged(s.base)}")
        fsys.delete(old, true)
      }
    }
  }

  /** Heal the atomic posture's two-rename window for `base`: when the
    * live dir is gone, restore the newest `<base>_old_<gen>` to it; once a
    * live dir exists, delete the `_old_`/`_compact_`/`_staging_` orphans
    * (the staging name of the fingerprint store's earlier hand-written
    * swap, which stores on disk may still carry). Called by the stores'
    * readers and writers that find the live dir absent or are about to
    * write into it, and by [[rewrite]]. The pointer posture
    * never needs it: its publish is one pointer write and the live dir is
    * never absent. */
  def rollBack(fsys: FileSystem, dir: String, base: String, live: Path): Unit = {
    val dirP = new Path(dir)
    if (!fsys.exists(dirP)) return
    def named(kinds: String*) = fsys.listStatus(dirP).map(_.getPath)
      .filter(p => kinds.exists(k => p.getName.startsWith(s"${base}_${k}_")))
    if (!fsys.exists(live))
      named("old").sortBy(_.getName.stripPrefix(s"${base}_old_").toLong)
        .lastOption.foreach { newest =>
          // lease-free readers can BOTH see the crash window and race this
          // roll-back — the loser's vanished source + present live dir
          // means the other reader completed the restore
          val rolled = AtomicRename.renameOrVanished(fsys, newest, live)
          require(rolled || fsys.exists(live), s"recover: could not restore $newest")
        }
    if (fsys.exists(live))
      named("old", "compact", "staging").foreach(p => fsys.delete(p, true))
  }

  /** Remove the pointer itself — a REBUILD's protocol reset (the store's
    * `write`/`build` overwrite the classic `<base>` dir, so a survivor
    * pointer from a previous store here would aim reads at a deleted
    * generation). */
  def reset(fsys: FileSystem, dir: String, base: String): Unit = {
    try { fsys.delete(pointer(dir, base), false); () }
    catch { case _: java.io.IOException => () }
    sweep(fsys, dir, base)
  }
}
