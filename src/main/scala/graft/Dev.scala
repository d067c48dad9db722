package graft

import org.apache.spark.sql.graftbridge.Bridge

/** Dev harness: `runMain graft.Dev <sfDir> <mode or queries> [explain|time]`.
  *
  * Modes (the second argument):
  *  - `entry` — `SparkEntry.entry` on a bare session with none of the
  *    builder's configs; prints `entry rows=N`.
  *  - `stream` — two streaming ingest passes over one checkpoint into a
  *    day-bucketed sink; prints sink vs batch row counts.
  *  - `aqeplan:q1,q2,…` — the final adaptive (executed) plan of declared
  *    queries.
  *  - `taskprof:q1,q2,…` — warm once, time the second run, and print the
  *    heaviest stages' task counts and max/median task times.
  *  - otherwise a comma-separated list of declared queries (default: all),
  *    shown, explained (`explain`) or timed three times (`time`);
  *    `GRAFT_DEV_CATALOG=1` installs the stats catalog first, as Bench and
  *    Verify do.
  *
  * Finished one-off experiments are retired from this file once their
  * numbers are in BASELINE.md or OPTIMIZATION_r*.md; BASELINE.md's table
  * of retired modes says where their numbers and their code live.
  */
object Dev {

  /** Per-stage task-time tracker for `taskprof`: records every task's
    * duration and reports the most skewed stages since the last
    * report/clear (max vs median task time). Both drain the listener bus
    * first, so a stage that finished just before the call is counted. */
  private[graft] final class SkewTracker(s: org.apache.spark.sql.SparkSession) {
    private val stageTimes =
      scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    private val stageNames = scala.collection.mutable.Map[Int, String]()
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) stageTimes.synchronized {
          stageTimes.getOrElseUpdate(te.stageId,
            scala.collection.mutable.ArrayBuffer[Long]()) += te.taskInfo.duration
        }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTimes.synchronized {
          stageNames(sc.stageInfo.stageId) =
            sc.stageInfo.details.linesIterator.take(1).mkString.take(120)
        }
    })
    def clear(): Unit = {
      Bridge.drainListenerBus(s)
      stageTimes.synchronized { stageTimes.clear(); stageNames.clear() }
    }
    def report(label: String): Unit = {
      Bridge.drainListenerBus(s)
      stageTimes.synchronized {
        val worst = stageTimes.toSeq.map { case (sid, ts) =>
          val srt = ts.toSeq.sorted
          (sid, srt.last, srt(srt.size / 2), srt.size)
        }.sortBy(-_._2).take(10)
        worst.foreach { case (sid, mx, med, n) =>
          println(f"[$label] stage=$sid tasks=$n max_ms=$mx med_ms=$med " +
            f"skew=${mx.toDouble / math.max(1, med)}%.1fx  ${stageNames.getOrElse(sid, "")}")
        }
        stageTimes.clear(); stageNames.clear()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").toSeq else SparkEntry.queries.keys.toSeq.sorted
    val explain = args.length > 2 && args(2) == "explain"
    if (names == Seq("entry")) {
      // simulate the driver's smoke check: a bare session with NONE of our
      // builder configs — Tables.events must self-heal via spark.conf.set
      val bare = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
      bare.sparkContext.setLogLevel("WARN")
      val n = SparkEntry.entry(bare).count()
      println(s"entry rows=$n")
      bare.stop()
      return
    }
    if (names == Seq("stream")) {
      // drive the streaming ingest surface end-to-end: replay events through
      // the file-source stream into a day-bucketed sink, twice (same
      // checkpoint), and report sink vs batch counts
      val s = GraftSession.build("graft-dev")
      val sink = java.nio.file.Files.createTempDirectory("sink").toString
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
      graft.streaming.StreamOps.ingest(s, sfDir, sink, ckpt).awaitTermination()
      graft.streaming.StreamOps.ingest(s, sfDir, sink, ckpt).awaitTermination()
      val sunk = s.read.parquet(sink)
      println(s"stream sink rows=${sunk.count()} days=${sunk.select("day").distinct().count()} " +
        s"batch rows=${Tables.events(s, sfDir).count()}")
      s.stop()
      return
    }
    if (names.head.startsWith("aqeplan:")) {
      // Print the FINAL adaptive (executed) plan of a declared query —
      // explain() shows the initial plan only; AQEShuffleRead coalescing,
      // runtime join conversions and exchange reuse appear here.
      val qnames = names.head.stripPrefix("aqeplan:") +: names.tail
      val s = GraftSession.build("graft-dev")
      try GraftCatalog.install(s, sfDir)
      catch { case e: Throwable => System.err.println(s"analyze skipped: ${e.getMessage}") }
      qnames.foreach { q =>
        SparkEntry.queries.get(q).foreach { fn =>
          val df = fn(s, sfDir)
          df.queryExecution.toRdd.foreachPartition(_ => ())
          println(s"=== $q (executed) ===")
          println(df.queryExecution.executedPlan.toString)
        }
      }
      s.stop()
      return
    }
    if (names.head.startsWith("taskprof:")) {
      // Generic single-task-trap hunter (the r17 x106 find, applied as an
      // audit): run each named declared query (warm once, time second)
      // with the SkewTracker and print the 3 heaviest stages' task counts
      // — any stage with tasks=1 and a dominant max_ms is a parallelism
      // cap (AQE coalescing a tiny upstream agg under a fat downstream
      // pipeline), the shape guide §2 says to pin wide explicitly.
      // Usage: taskprof:q1,q2,...
      val qnames = names.head.stripPrefix("taskprof:") +: names.tail
      val s = GraftSession.build("graft-dev")
      try GraftCatalog.install(s, sfDir)
      catch { case e: Throwable => System.err.println(s"analyze skipped: ${e.getMessage}") }
      val tracker = new SkewTracker(s)
      qnames.foreach { q =>
        SparkEntry.queries.get(q) match {
          case None => println(s"[taskprof] unknown query $q")
          case Some(fn) =>
            def run(): Unit = fn(s, sfDir).write.format("noop").mode("overwrite").save()
            run()
            tracker.clear()
            val t0 = System.nanoTime(); run()
            println(f"[taskprof] $q%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
            tracker.report(s"taskprof/$q")
        }
      }
      s.stop()
      return
    }
    val spark = GraftSession.build("graft-dev")
    // GRAFT_DEV_CATALOG=1 reproduces Bench/Verify's stats-driven planning
    if (sys.env.get("GRAFT_DEV_CATALOG").contains("1"))
      GraftCatalog.install(spark, sfDir)
    val time = args.length > 2 && args(2) == "time"
    names.foreach { n =>
      println(s"=== $n ===")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (explain) df.explain("formatted")
        if (time) {
          // 3 timed materializations through the noop sink (bench conditions)
          for (i <- 1 to 3) {
            val t0 = System.nanoTime()
            SparkEntry.queries(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            println(f"$n run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        } else df.show(10, truncate = false)
      } catch { case e: Throwable =>
        println(s"FAILED: ${e.getMessage}"); e.printStackTrace()
      }
    }
    spark.stop()
  }
}
