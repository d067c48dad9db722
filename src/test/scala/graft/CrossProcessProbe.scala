package graft

import graft.sources.{AdmitFence, FenceLock, StagedAppend, WriterLease}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Child-JVM side of [[CrossProcessSpec]]: a tiny main the spec launches
  * as a REAL second process to exercise the cross-process claims the
  * in-JVM suites can only simulate (a foreign writerId planted by hand, a
  * crash modeled as an exception). Here the second writer is a genuine
  * other JVM with its own [[WriterLease.writerId]], its own held map, its
  * own fence locks — and "crash" is a genuine SIGKILL from the parent,
  * delivered at a deterministic protocol point the probe marks on stdout.
  *
  * Markers are single uppercase words on stdout (Spark's own logging goes
  * to stderr); after printing the marker named by a `pause-after`
  * argument the probe sleeps forever and waits to be killed. */
object CrossProcessProbe {

  private def mark(s: String): Unit = { System.out.println(s); System.out.flush() }

  private def parkForever(): Unit = Thread.sleep(10L * 60L * 1000L)

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-xproc-probe")
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val fsys = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)

    args(0) match {

      // hold the store's writer lease for holdMs, then release cleanly
      case "lease-hold" =>
        val Array(_, root, holdMs, staleMs, renew) = args
        WriterLease.withLease(spark, root, staleMs.toLong, renew.toBoolean) {
          mark("HELD")
          Thread.sleep(holdMs.toLong)
        }
        mark("RELEASED")

      // advance the fence from..to with a small sleep between steps
      case "fence-race" =>
        val Array(_, root, from, to, sleepMs) = args
        mark("FENCING")
        (from.toLong to to.toLong).foreach { id =>
          AdmitFence.advance(spark, root, id)
          if (sleepMs.toLong > 0) Thread.sleep(sleepMs.toLong)
        }
        mark("FENCE_DONE")

      // take the raw fence lock and park — the parent SIGKILLs us to
      // manufacture a genuine crashed-holder lock corpse
      case "fence-lock-hold" =>
        FenceLock.withLock(graft.sources.AtomicRename.raw(fsys), args(1)) { _ =>
          mark("LOCKED")
          parkForever()
        }
        mark("UNLOCKED")

      // race a stale-corpse reclaim: try to claim the lease once, mark
      // the outcome, and hold a win until killed so late arrivals see a
      // LIVE (renewing) holder rather than a second stale corpse.
      // staleMs is 30 s — large enough that a loaded host cannot stall
      // the winner's renewal past the bar and make a steal LEGITIMATE
      // (the documented pause-steal), which is not what this race tests
      case "lease-claim-race" =>
        try
          WriterLease.withLease(spark, args(1), staleMs = 30000L, renew = true) {
            mark("CLAIMED")
            parkForever()
          }
        catch { case _: WriterLease.ConcurrentWriterException =>
          mark("REJECTED")
        }
        mark("RACE_DONE")

      // run the staged-append protocol step by step, marking each point;
      // pause-after ∈ {stage, commit, fence, none} parks the probe right
      // after that marker so the parent's SIGKILL lands exactly there
      case "staged" =>
        val Array(_, root, batchIdS, pauseAfter) = args
        val batchId = batchIdS.toLong
        val token = s"b$batchId"
        val stage = StagedAppend.stagePath(root, token)
        (1 to 3).foreach { i =>
          val f = new Path(stage, s"data/part-$batchId-$i.bin")
          val out = fsys.create(f, true)
          try out.write(s"batch $batchId file $i".getBytes("UTF-8"))
          finally out.close()
        }
        mark("STAGED")
        if (pauseAfter == "stage") parkForever()
        StagedAppend.commit(spark, root, token)
        mark("COMMITTED")
        if (pauseAfter == "commit") parkForever()
        AdmitFence.advance(spark, root, batchId)
        mark("FENCED")
        if (pauseAfter == "fence") parkForever()
        StagedAppend.publish(spark, root, token, sub => new Path(s"$root/$sub"))
        mark("PUBLISHED")

      // one full staged append per batch id, back to back — the parent
      // heals the same store CONCURRENTLY from its own process, exercising
      // reader-heal vs writer-publish races across a real process boundary
      case "staged-loop" =>
        val Array(_, root, from, to) = args
        mark("LOOPING")
        (from.toLong to to.toLong).foreach { batchId =>
          val token = s"b$batchId"
          val stage = StagedAppend.stagePath(root, token)
          (1 to 2).foreach { i =>
            val f = new Path(stage, s"data/part-$batchId-$i.bin")
            val out = fsys.create(f, true)
            try out.write(s"batch $batchId file $i".getBytes("UTF-8"))
            finally out.close()
          }
          StagedAppend.commit(spark, root, token)
          AdmitFence.advance(spark, root, batchId)
          StagedAppend.publish(spark, root, token, sub => new Path(s"$root/$sub"))
        }
        mark("LOOP_DONE")

      // pointer-posture day compact with a park-at-point fault hook: the
      // parent SIGKILLs us while we sleep just AFTER the named protocol
      // point ("swept" | "staged" | "manifest" | "published"), so a real
      // process death lands exactly there — the cross-process twin of
      // BucketedLayoutSpec's state-construction kill matrix. point=none
      // runs the compact to completion. staleMs parameterizes the lease
      // so the parent's reclaim tests stay fast.
      case "compact-day" =>
        val Array(_, dir, day, point, staleMs) = args
        if (dir.startsWith("s3a:"))
          spark.sparkContext.hadoopConfiguration
            .set("fs.s3a.impl", classOf[FlatObjectFs].getName)
        if (point != "none")
          graft.sources.BucketedLayout.onCompactPoint = { pt =>
            if (pt == point) { mark(pt.toUpperCase); parkForever() }
          }
        try {
          graft.sources.BucketedLayout.compactDay(spark, dir, day,
            seriesBuckets = 2, leaseStaleMs = staleMs.toLong)
          mark("COMPACTED")
        } catch { case _: WriterLease.ConcurrentWriterException =>
          mark("LEASE_REJECTED")
        }

      // GraftStore.insert batches against a (possibly mid-compact) store:
      // the supported lease-free late-append concurrency, driven from a
      // REAL second process while the parent compacts the same day
      case "insert-loop" =>
        val Array(_, dir, srcSf, day, batchesS, perBatchS) = args
        if (dir.startsWith("s3a:"))
          spark.sparkContext.hadoopConfiguration
            .set("fs.s3a.impl", classOf[FlatObjectFs].getName)
        import org.apache.spark.sql.functions.{col, date_format, lit}
        val store = new GraftStore(spark, dir)
        val dayRows = Tables.events(spark, srcSf)
          .filter(date_format(col("ts"), "yyyy-MM-dd") === day)
          .limit(perBatchS.toInt).cache()
        mark("INSERTING")
        (1 to batchesS.toInt).foreach { i =>
          store.insert(dayRows.withColumn("event_id",
            col("event_id") + lit(10000000L * i)))
        }
        mark("INSERT_DONE")

      case other => sys.error(s"unknown probe mode $other")
    }
    spark.stop()
  }
}
