package graft

/** `Dev.SkewTracker` (the `taskprof` stage report) drains the listener bus
  * before it reads, so a job that just returned is reported whole. */
class SkewTrackerSpec extends SparkSpecBase {

  test("report right after a job sees all of its tasks and its stage name") {
    val sc = spark.sparkContext
    val tracker = new Dev.SkewTracker(spark)
    tracker.clear()
    sc.setJobGroup("skewtracker-probe", "skewtracker-probe")
    try sc.parallelize(1 to 16, 16).foreach(_ => Thread.sleep(100))
    finally sc.clearJobGroup()
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(tracker.report("probe"))
    // the status store is fed by the same bus, which report() has drained
    val stageIds = sc.statusTracker.getJobIdsForGroup("skewtracker-probe").toSeq
      .flatMap(j => sc.statusTracker.getJobInfo(j).toSeq.flatMap(_.stageIds().toSeq))
    assert(stageIds.size === 1)
    val line = out.toString.linesIterator.find(_.startsWith(s"[probe] stage=${stageIds.head} "))
    assert(line.isDefined, s"stage ${stageIds.head} missing from the report:\n$out")
    assert(line.get.contains(" tasks=16 "), line.get)
    assert(line.get.split("x  ", 2).lift(1).exists(_.trim.nonEmpty), s"no stage name: ${line.get}")
  }
}
