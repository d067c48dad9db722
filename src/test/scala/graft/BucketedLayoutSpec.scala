package graft

import graft.sources.BucketedLayout
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** The time-bucketed series layout: round-trip fidelity, partition pruning,
  * compaction idempotence, retention — SURVEY §2.1 sink row. */
class BucketedLayoutSpec extends SparkSpecBase {

  private lazy val sink = {
    val dir = java.nio.file.Files.createTempDirectory("bucketed-events").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 4)
    dir
  }

  test("round-trip preserves every row and value") {
    val back = BucketedLayout.readEvents(spark, sink)
    val orig = Tables.events(spark, sfDir)
    assert(back.count() === orig.count())
    val a = back.agg(sum("value"), sum("event_id"), countDistinct("user_id")).head
    val b = orig.agg(sum("value"), sum("event_id"), countDistinct("user_id")).head
    // double sums are order-sensitive at the last bits — tolerance, not equality
    assert(math.abs(a.getDouble(0) - b.getDouble(0)) < 1e-6)
    assert(a.getLong(1) === b.getLong(1))
    assert(a.getLong(2) === b.getLong(2))
  }

  test("day range filter prunes partitions before file IO") {
    val back = BucketedLayout.readEvents(spark, sink)
      .filter(col("day") >= "2024-01-10" && col("day") <= "2024-01-12")
    val p = back.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("day"), s"day filter not in PartitionFilters:\n$p")
    // 3 calendar days → exactly the rows whose µs ts falls in them
    val expected = Tables.events(spark, sfDir)
      .filter(date_format(col("ts"), "yyyy-MM-dd").between("2024-01-10", "2024-01-12"))
      .count()
    assert(back.count() === expected)
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(_.isFile).filter(_.getName.endsWith(".parquet")) ++
      kids.filter(_.isDirectory).flatMap(parquetFiles)
  }

  test("GraftStore.create writes each file sorted by (user_id, event_type, ts)") {
    // the day-partitioned write requires an ordering led by `day`; a sort
    // without it is replaced by a bare sort by `day`, losing the series order
    val dir = java.nio.file.Files.createTempDirectory("bucketed-sorted").toString
    GraftStore.create(spark, dir, Tables.events(spark, sfDir), seriesBuckets = 2)
    val files = parquetFiles(new java.io.File(dir))
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f.getPath)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts"))).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(keys === keys.sorted, s"${f.getName} is not sorted by (user_id, event_type, ts)")
    }
  }

  test("q47 contract query over the store: identical rows, pruned scan") {
    import graft.operators.TimeSeriesOps
    val store = TimeSeriesOps.q47Store(spark, sink)
    val flat = TimeSeriesOps.q47(spark, sfDir)
    assert(store.collect().toSeq === flat.collect().toSeq)
    val p = store.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("day"), s"ts range must reach the day partition:\n$p")
    // directory-level pruning bound: with the day filters in
    // PartitionFilters (asserted above), the scan lists only in-range day
    // dirs, so files touched <= in-range files < files on disk
    val total = parquetFiles(new java.io.File(sink)).size
    val inRange = new java.io.File(sink).listFiles()
      .filter(d => d.getName.startsWith("day=") && {
        val day = d.getName.stripPrefix("day=")
        day >= "2024-01-05" && day <= "2024-01-20"
      }).flatMap(d => parquetFiles(d)).length
    assert(inRange < total,
      s"fixture must leave out-of-range days to prune ($inRange vs $total)")
  }

  test("q48 contract query over the store: identical rows, ts never read") {
    import graft.operators.TimeSeriesOps
    val store = TimeSeriesOps.q48Store(spark, sink).collect()
    val flat = TimeSeriesOps.q48(spark, sfDir).collect()
    assert(store.length === flat.length)
    // Exact equality on every column EXCEPT avg_v, which gets one rounding
    // step of tolerance: a group whose exact decimal mean sits ON the
    // .xxxx5 boundary (2 of 150 groups in this fixture) rounds by the LAST
    // BIT of the double sum, and double summation order follows physical
    // layout — the flat scan and the bucketed store legitimately disagree
    // there. min/max (order-free), n, and the 4-dp-rounded sum are
    // layout-invariant and must match exactly.
    store.zip(flat).foreach { case (s, f) =>
      assert(s.getString(0) == f.getString(0) && s.getString(1) == f.getString(1) &&
             s.getLong(2) == f.getLong(2), s"group row diverged: $s vs $f")
      assert(math.abs(s.getDouble(3) - f.getDouble(3)) < 1.5e-4,
             s"avg_v beyond one rounding step: $s vs $f")
      Seq(4, 5, 6).foreach(i => assert(s.getDouble(i) == f.getDouble(i),
             s"sum/min/max must match exactly: $s vs $f"))
    }
    // the day bucket comes from directory names: ts must not be in the
    // parquet ReadSchema at all
    val p = TimeSeriesOps.q48Store(spark, sink).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.nonEmpty && !rs.contains("ts"), s"ts read from files:\n$p")
  }

  test("compaction is idempotent and keeps the day's content") {
    val day = "2024-01-05"
    val before = BucketedLayout.readEvents(spark, sink)
      .filter(col("day") === day).agg(count(lit(1)), sum("value")).head
    BucketedLayout.compactDay(spark, sink, day, seriesBuckets = 2)
    val after = BucketedLayout.readEvents(spark, sink)
      .filter(col("day") === day).agg(count(lit(1)), sum("value")).head
    assert(after.getLong(0) === before.getLong(0))
    assert(math.abs(after.getDouble(1) - before.getDouble(1)) < 1e-6)
    val files = new java.io.File(s"$sink/day=$day")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 2, s"expected 2 compacted buckets, got $files")
  }

  test("compaction killed at any point leaves the day recoverable") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("crash-events").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val day = "2024-01-06"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(s"$dir/day=$day")
    val tmp = new Path(s"$dir/.compact-day=$day")
    val old = new Path(s"$dir/.old-day=$day")
    def dayStats() = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).agg(count(lit(1)), sum("value")).head
    val before = dayStats()

    // kill BEFORE the swap: a half-written temp dir exists, the day is
    // untouched and must still read exactly; the retry overwrites the temp
    fs.mkdirs(tmp)
    val mid = dayStats()
    assert(mid.getLong(0) === before.getLong(0))
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(dayStats().getLong(0) === before.getLong(0))

    // kill BETWEEN the two swap renames: the day is parked at `.old-day=`
    // and the serving path is missing — the next compaction must first
    // restore it, then complete normally
    assert(fs.rename(dst, old))
    assert(!fs.exists(dst))
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    val afterRestore = dayStats()
    assert(afterRestore.getLong(0) === before.getLong(0))
    assert(math.abs(afterRestore.getDouble(1) - before.getDouble(1)) < 1e-6)
    assert(!fs.exists(old) && !fs.exists(tmp), "swap left stale dirs behind")

    // kill AFTER the swap, before cleanup: new data serving, stale park
    // dir present — the next run must just drop the park and proceed
    fs.mkdirs(old)
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(dayStats().getLong(0) === before.getLong(0))
    assert(!fs.exists(old))
  }

  test("compaction refuses a streaming-sink directory (manifest present)") {
    val dir = java.nio.file.Files.createTempDirectory("manifest-events").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_spark_metadata"))
    val e = intercept[IllegalArgumentException] {
      BucketedLayout.compactDay(spark, dir, "2024-01-05", seriesBuckets = 2)
    }
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("flat object store: compactDay publishes via the day pointer — " +
       "reads equal throughout, predecessor deferred one cycle, retention " +
       "drops pointered days whole (r14 verdict item 5)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val dir = "s3a://test" +
      java.nio.file.Files.createTempDirectory("flat-events").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fsys = new Path(dir).getFileSystem(conf)
    val day = "2024-01-05"
    def stats() = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).agg(count(lit(1)), sum("value")).head
    val totalBefore = BucketedLayout.readEvents(spark, dir).count()
    val before = stats()
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    // published by ONE pointer write; the retired classic dir survives a
    // full compact cycle so an in-flight reader finishes its scan
    assert(fsys.exists(new Path(s"$dir/_day=${day}_gen")),
      "flat-store compact must publish a day generation pointer")
    assert(fsys.exists(new Path(s"$dir/day=$day")),
      "the retired classic day must be deferred, not deleted at the flip")
    val after = stats()
    assert(after.getLong(0) === before.getLong(0))
    assert(math.abs(after.getDouble(1) - before.getDouble(1)) < 1e-6)
    assert(BucketedLayout.readEvents(spark, dir).count() === totalBefore,
      "the pointered read must serve the generation INSTEAD of the classic " +
        "dir, never both")
    // second compact: reclaims the classic predecessor, defers gen 1
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(!fsys.exists(new Path(s"$dir/day=$day")),
      "the second compact's sweep must reclaim the classic predecessor")
    val gens = fsys.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith(s".day=${day}_g"))
    assert(gens.length === 2, s"live + one deferred generation, got $gens")
    assert(stats().getLong(0) === before.getLong(0))
    assert(BucketedLayout.readEvents(spark, dir).count() === totalBefore)
    // an untouched day still reads through the classic branch
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === "2024-01-07").count() ===
      Tables.events(spark, sfDir)
        .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-07").count())
    // retention: a pointered day drops WHOLE — pointer, generations, all
    val dropped = BucketedLayout.dropDaysBefore(spark, dir, "2024-01-08")
    assert(dropped.contains(s"day=$day"))
    val leftovers = fsys.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => n.contains(day))
    assert(leftovers.isEmpty, s"retention left $leftovers")
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") < "2024-01-08").count() === 0)
  }

  test("flat object store: LATE APPENDS to a pointer-compacted day serve " +
       "through the _folded manifest and survive the next compact " +
       "(r15 review finding: they were invisible, then destroyed)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val dir = "s3a://test" +
      java.nio.file.Files.createTempDirectory("flat-late").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fsys = new Path(dir).getFileSystem(conf)
    val store = new GraftStore(spark, dir)
    val day = "2024-01-06"
    def dayCount() = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count()
    val before = dayCount()
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    // a late batch lands in the CLASSIC partition (insert knows nothing
    // of pointers) — it must serve, via GraftStore.table too
    val late = Tables.events(spark, sfDir).filter(
        date_format(col("ts"), "yyyy-MM-dd") === day)
      .limit(7).withColumn("event_id", col("event_id") + 1000000L)
    val lateN = late.count()
    assert(lateN > 0)
    store.insert(late)
    assert(dayCount() === before + lateN,
      "late appends to a pointered day are invisible to readEvents")
    assert(store.table.filter(col("day") === day).count() === before + lateN,
      "late appends invisible to GraftStore.table")
    // the next compact folds them — nothing lost, nothing doubled
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(dayCount() === before + lateN,
      "the next compact lost or doubled the late appends")
    // after one more compact cycle the classic dir is fully reclaimed
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(!fsys.exists(new Path(s"$dir/day=$day")))
    assert(dayCount() === before + lateN)
  }

  test("flat object store: a crashed compact's orphan generation (no " +
       "pointer flip) is never served and the next compact sweeps it") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val dir = "s3a://test" +
      java.nio.file.Files.createTempDirectory("flat-orphan").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fsys = new Path(dir).getFileSystem(conf)
    val day = "2024-01-08"
    val before = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count()
    // simulate a compact killed between the generation write and the
    // pointer publish: a fully-written generation, no pointer
    val orphan = new Path(s"$dir/.day=${day}_g111")
    Tables.events(spark, sfDir)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === day)
      .drop("ts").limit(3)
      .write.parquet(orphan.toString)
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count() === before,
      "an unpublished orphan generation leaked into serving")
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(!fsys.exists(orphan),
      "the next compact must sweep the crashed compact's orphan")
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count() === before)
  }

  test("flat object store: a day stranded at .old-day= by a crashed " +
       "atomic-posture swap is folded by the pointer-mode compact " +
       "(posture-migration recovery, r15 review finding)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val dir = "s3a://test" +
      java.nio.file.Files.createTempDirectory("flat-park").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fsys = new Path(dir).getFileSystem(conf)
    val day = "2024-01-07"
    val before = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count()
    // simulate the atomic era's crash-between-renames, then the posture
    // change: the day's only copy sits at the park
    assert(fsys.rename(new Path(s"$dir/day=$day"), new Path(s"$dir/.old-day=$day")))
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count() === before,
      "the parked day's rows were lost across the posture migration")
    assert(!fsys.exists(new Path(s"$dir/.old-day=$day")),
      "the folded park must be dropped after publish")
    // a pointer naming a VANISHED generation falls back to the classic
    // dir instead of failing the whole read (damage tolerance)
    val ghostDay = "2024-01-09"
    val o = fsys.create(new Path(s"$dir/_day=${ghostDay}_gen"), true)
    try o.write(s".day=${ghostDay}_g999".getBytes("UTF-8")) finally o.close()
    val expected = Tables.events(spark, sfDir).filter(
      date_format(col("ts"), "yyyy-MM-dd") === ghostDay).count()
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === ghostDay).count() === expected,
      "a vanished-generation pointer must fall back to the classic dir")
    fsys.delete(new Path(s"$dir/_day=${ghostDay}_gen"), false)
  }

  test("flat object store: a pointer naming a VANISHED generation over a " +
       "live classic dir is COMPACTED from the classic fallback and " +
       "re-published — not refused forever (r15 ADVICE)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val dir = "s3a://test" +
      java.nio.file.Files.createTempDirectory("flat-ghost").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fsys = new Path(dir).getFileSystem(conf)
    val day = "2024-01-10"
    val before = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count()
    // damage: a pointer naming a generation that no longer exists, while
    // the classic dir still serves (readEvents' documented fallback)
    val o = fsys.create(new Path(s"$dir/_day=${day}_gen"), true)
    try o.write(s".day=${day}_g999".getBytes("UTF-8")) finally o.close()
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count() === before)
    // the old require refused this state ("no recovery source") even
    // though the classic dir had the data — it must now fold + re-publish
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    val cur = graft.sources.GenDir.currentName(fsys, dir, s"day=$day")
    assert(cur != s"day=$day" && fsys.exists(new Path(s"$dir/$cur")),
      s"recovery compact must re-publish a live generation, got $cur")
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count() === before,
      "recovery compact lost or doubled the classic fallback's rows")
    // and the damaged state is actually healed: one more cycle reclaims
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(!fsys.exists(new Path(s"$dir/day=$day")),
      "the healed day must reach the reclaimed steady state")
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count() === before)
  }

  test("flat object store: recovery from a vanished generation prefers " +
       "the surviving PREDECESSOR generation — the damage-state sweep " +
       "must not destroy it, and the fold must not collapse to the " +
       "late-appends-only classic dir (r16 review finding)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val dir = "s3a://test" +
      java.nio.file.Files.createTempDirectory("flat-pred").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fsys = new Path(dir).getFileSystem(conf)
    val day = "2024-01-05"
    def dayCount() = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count()
    val before = dayCount()
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2) // → g1
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2) // → g2, g1 deferred
    val g2 = graft.sources.GenDir.currentName(fsys, dir, s"day=$day")
    val gens = fsys.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith(s".day=${day}_g"))
    assert(gens.length === 2, s"expected g1 deferred beside g2, got ${gens.toSeq}")
    // late appends land in the classic partition AFTER g2 published
    val store = new GraftStore(spark, dir)
    val late = Tables.events(spark, sfDir).filter(
        date_format(col("ts"), "yyyy-MM-dd") === day)
      .limit(5).withColumn("event_id", col("event_id") + 1000000L)
    val lateN = late.count()
    store.insert(late)
    // DAMAGE: the pointed-to generation is externally destroyed; only
    // the deferred predecessor g1 still holds the day's folded history.
    // A manifest-less MID-STAGE orphan with newer nanos must not shadow
    // it (it may be half-written — the `_folded` manifest is the
    // eligibility gate for both serving and recovery).
    fsys.delete(new Path(s"$dir/$g2"), true)
    Tables.events(spark, sfDir).filter(
        date_format(col("ts"), "yyyy-MM-dd") === day).limit(1)
      .write.parquet(s"$dir/.day=${day}_g${Long.MaxValue - 1}")
    // serving keeps the folded history: g1 + the classic late appends
    assert(dayCount() === before + lateN,
      "damage serving must use the surviving manifested predecessor")
    // the recovery compact must fold g1 + the classic late appends —
    // a classic-only fold would silently lose every pre-damage row,
    // and a sweep running in the damage state must not delete g1 first
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(dayCount() === before + lateN,
      "recovery must restore the predecessor's rows plus the late appends")
    // steady state: one more cycle reclaims predecessors and classic
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(!fsys.exists(new Path(s"$dir/day=$day")))
    assert(dayCount() === before + lateN)
  }

  test("flat object store: a park surviving beside a vanished generation " +
       "with NO predecessor is folded BY the recovery compact — not left " +
       "for a 'later call' the next sweep preempts by deleting it " +
       "(r16 review finding)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val dir = "s3a://test" +
      java.nio.file.Files.createTempDirectory("flat-park").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val fsys = new Path(dir).getFileSystem(conf)
    val day = "2024-01-06"
    def dayCount() = BucketedLayout.readEvents(spark, dir)
      .filter(col("day") === day).count()
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2) // → g1
    val g1 = graft.sources.GenDir.currentName(fsys, dir, s"day=$day")
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2) // reclaim classic
    // state surgery to the park-fold crash shape: park holds rows that
    // exist NOWHERE else once the generation vanishes
    val parkRows = Tables.events(spark, sfDir).filter(
        date_format(col("ts"), "yyyy-MM-dd") === day)
      .limit(4).withColumn("event_id", col("event_id") + 2000000L)
    val parkN = parkRows.count()
    parkRows.write.parquet(s"$dir/.old-day=$day")
    val late = Tables.events(spark, sfDir).filter(
        date_format(col("ts"), "yyyy-MM-dd") === day)
      .limit(3).withColumn("event_id", col("event_id") + 3000000L)
    val lateN = late.count()
    new GraftStore(spark, dir).insert(late)
    fsys.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith(s".day=${day}_g"))
      .foreach(n => fsys.delete(new Path(s"$dir/$n"), true))
    // recovery: classic late appends AND the park must both fold
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(dayCount() === parkN + lateN,
      "recovery compact must fold the park alongside the classic files")
    assert(!fsys.exists(new Path(s"$dir/.old-day=$day")),
      "the folded park must be dropped after publish")
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets = 2)
    assert(dayCount() === parkN + lateN)
  }

  test("retention reclaims the per-day lease root with the day") {
    val dir = java.nio.file.Files.createTempDirectory("lock-retn").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    BucketedLayout.compactDay(spark, dir, "2024-01-05", seriesBuckets = 2)
    assert(new java.io.File(s"$dir/.lock-day=2024-01-05").exists,
      "compactDay must have claimed its per-day lease root")
    val dropped = BucketedLayout.dropDaysBefore(spark, dir, "2024-01-06")
    assert(dropped.contains("day=2024-01-05"))
    assert(!new java.io.File(s"$dir/.lock-day=2024-01-05").exists,
      "retention must reclaim the lease root with the day")
  }

  test("retention drops whole days cheaply") {
    val dir = java.nio.file.Files.createTempDirectory("retention-events").toString
    BucketedLayout.migrate(spark, sfDir, dir, seriesBuckets = 2)
    val allDays = BucketedLayout.readEvents(spark, dir).select("day").distinct().count()
    val dropped = BucketedLayout.dropDaysBefore(spark, dir, "2024-01-10")
    assert(dropped.nonEmpty && dropped.forall(_ < "day=2024-01-10"))
    val left = BucketedLayout.readEvents(spark, dir).select("day").distinct().count()
    assert(left === allDays - dropped.size)
    assert(BucketedLayout.readEvents(spark, dir)
      .filter(col("day") < "2024-01-10").count() === 0)
  }
}
