package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one read/write protocol for the stores' small metadata files:
  * generation pointers, `_upto` watermarks, the writer lease, `_folded`
  * manifests, bucket counts and VersionedStore's manifest files.
  *
  * A read opens the file directly, with no `exists` probe first, and
  * reads a FileNotFoundException as absence: a file renamed or deleted
  * by another process between a probe and the open (a compaction
  * publishing, a reclaim moving the lease) reads as `None`, never as an
  * error. Every other IOException propagates, so each caller keeps its
  * own fail-safe. A write is a create-overwrite whose stream is closed
  * even when the write throws. O_EXCL claims
  * ([[AtomicRename.createNoOverwrite]]) are not plain overwrites and
  * keep their own code. */
object SmallFile {

  /** The file's bytes; None when it does not exist. */
  def read(fsys: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = fsys.open(p)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The file's UTF-8 content, trimmed; None when it does not exist. */
  def text(fsys: FileSystem, p: Path): Option[String] =
    read(fsys, p).map(new String(_, "UTF-8").trim)

  /** Create or overwrite `p` with the UTF-8 bytes of `body`. */
  def write(fsys: FileSystem, p: Path, body: String): Unit = {
    val out = fsys.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }
}
