package graft

import org.apache.hadoop.fs.Path
import graft.sources.GenDir

/** Pointer-resolved generation directories: the round-15 reader-safety
  * contract. publish() is ONE pointer write — the retired generation's
  * bytes survive until the NEXT lease-held compact's sweep, so a
  * lease-free reader that resolved the old name an instant before the
  * flip can finish its scan; and a pointer that vanishes between
  * currentName's existence probe and its open (a rebuild's reset racing
  * a read) falls back to the classic base name instead of throwing.
  *
  * The shared swap: a rewrite that dies in any writer publishes nothing
  * in either posture, the next rewrite clears its orphan, and rollBack
  * restores the newest retired generation. */
class GenDirSpec extends SparkSpecBase {

  private def localFs = org.apache.hadoop.fs.FileSystem.getLocal(
    spark.sparkContext.hadoopConfiguration).getRaw

  private def mkGen(dir: String, name: String): Unit = {
    val d = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve("part-0"), name.getBytes("UTF-8"))
    ()
  }

  test("publish defers retired-generation deletion to the next sweep") {
    val dir = java.nio.file.Files.createTempDirectory("gendir").toString
    val fsys = localFs
    mkGen(dir, "postings")          // classic layout = generation 0
    assert(GenDir.currentName(fsys, dir, "postings") === "postings")
    mkGen(dir, "postings_g100")
    GenDir.publish(fsys, dir, "postings", "postings_g100")
    assert(GenDir.currentName(fsys, dir, "postings") === "postings_g100")
    // the reader-safety contract: the retired generation is still on disk
    // (a lease-free reader that resolved "postings" pre-flip is mid-scan)
    assert(fsys.exists(new Path(s"$dir/postings")),
      "publish must NOT delete the retired generation — a pre-flip " +
        "reader may still be scanning it")
    // the NEXT lease-held compact's sweep reclaims it
    GenDir.sweep(fsys, dir, "postings")
    assert(!fsys.exists(new Path(s"$dir/postings")),
      "sweep must reclaim the deferred predecessor")
    assert(fsys.exists(new Path(s"$dir/postings_g100")),
      "sweep must never touch the live generation")
    // second compact cycle: g100 -> g200, g100 deferred then swept
    mkGen(dir, "postings_g200")
    GenDir.publish(fsys, dir, "postings", "postings_g200")
    assert(fsys.exists(new Path(s"$dir/postings_g100")))
    GenDir.sweep(fsys, dir, "postings")
    assert(!fsys.exists(new Path(s"$dir/postings_g100")))
    assert(fsys.exists(new Path(s"$dir/postings_g200")))
  }

  test("a pointer vanishing between the probe and the open falls back to base") {
    val dir = java.nio.file.Files.createTempDirectory("gendir-race").toString
    mkGen(dir, "postings")
    // an FS whose open() deletes the target first — the exists-then-open
    // race (reset() during a rebuild) made deterministic
    val racy = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
        if (f.getName == "_postings_gen") delete(f, false)
        super.open(f, bufferSize)
      }
    }
    racy.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val plain = localFs
    val o = plain.create(new Path(s"$dir/_postings_gen"), true)
    try o.write("postings_g999".getBytes("UTF-8")) finally o.close()
    // the racy open throws FileNotFoundException inside currentName; the
    // documented safe fallback (classic base) must apply, not propagate —
    // the only writers that delete the pointer restore the classic layout
    assert(GenDir.currentName(racy, dir, "postings") === "postings")
  }

  private def content(fsys: org.apache.hadoop.fs.FileSystem, dir: String, base: String) = {
    val in = fsys.open(new Path(GenDir.livePath(fsys, dir, base), "part-0"))
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  /** Rewrites bases `a` and `b` of `dir`; each writer writes `<base>-<tag>`,
    * and the one for `failOn` throws before writing anything. */
  private def rewriteAB(fsys: org.apache.hadoop.fs.FileSystem, dir: String,
                        tag: String, failOn: Option[String] = None): Unit =
    GenDir.rewrite(spark, dir, Seq("a", "b").map(base =>
      GenDir.Swap(base, GenDir.livePath(fsys, dir, base), (_, dst) => {
        if (failOn.contains(base)) sys.error(s"writer of $base died")
        val o = fsys.create(new Path(s"$dst/part-0"), true)
        try o.write(s"$base-$tag".getBytes("UTF-8")) finally o.close()
      })))

  private def failedRewritePublishesNothing(scheme: String): Unit = {
    val local = java.nio.file.Files.createTempDirectory("gendir-rw").toString
    val dir = scheme + local
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names() = new java.io.File(local).list().toSet
    mkGen(local, "a"); mkGen(local, "b")
    intercept[RuntimeException](rewriteAB(fsys, dir, "1", failOn = Some("b")))
    assert(Seq("a", "b").map(content(fsys, dir, _)) === Seq("a", "b"),
      "a rewrite that died in its second writer changed a live dir")
    assert(!names().exists(_.endsWith("_gen")), "a pointer was written")
    val orphans = names() -- Set("a", "b")
    assert(orphans.size === 1 && orphans.head.startsWith("a_"),
      s"expected the first writer's staged dir as the only orphan: $orphans")
    rewriteAB(fsys, dir, "2")
    assert(Seq("a", "b").map(content(fsys, dir, _)) === Seq("a-2", "b-2"))
    assert((orphans & names()).isEmpty, "the next rewrite left the orphan behind")
  }

  test("rewrite: a writer failure leaves the live dirs in place on an " +
       "atomic-rename filesystem, and the next rewrite clears the orphan") {
    failedRewritePublishesNothing("file://")
  }

  test("rewrite: a writer failure leaves live dirs and pointers in place on " +
       "a flat object store, and the next rewrite clears the orphan") {
    spark.sparkContext.hadoopConfiguration.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    failedRewritePublishesNothing("s3a://test")
  }

  test("rollBack restores the newest of two retired generations and drops " +
       "the rest") {
    val dir = java.nio.file.Files.createTempDirectory("gendir-rb").toString
    val fsys = localFs
    Seq("a_old_5", "a_old_12", "a_compact_12").foreach(mkGen(dir, _))
    GenDir.rollBack(fsys, dir, "a", new Path(s"$dir/a"))
    // 12 is the newer generation even though "a_old_5" sorts after it
    assert(content(fsys, dir, "a") === "a_old_12")
    assert(new java.io.File(dir).list().toSet === Set("a"))
  }
}
