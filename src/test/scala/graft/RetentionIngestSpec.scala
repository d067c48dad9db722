package graft

import java.sql.Timestamp

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST25: continuous retention maintenance — the activity store converges
  * to the batch x123 contract, late rows reassign cohorts, untouched day
  * partitions are never rewritten, and replay is idempotent. */
class RetentionIngestSpec extends SparkSpecBase {

  private def tmp() = java.nio.file.Files.createTempDirectory("st25").toString

  test("ST25 store-derived matrix equals batch x123 over the fixture") {
    val store = tmp()
    val q = StreamOps.retentionIngest(
      StreamOps.eventsStream(spark, sfDir), store, tmp())
    try q.processAllAvailable() finally q.stop()
    val served = StreamOps.retentionMatrix(spark, store)
    val batch = operators.TimeSeriesOps.x123Retention(spark, sfDir)
    assert(batch.count() > 0)
    assert(served.except(batch).isEmpty && batch.except(served).isEmpty)
    assert(served.count() === batch.count())
    // the SAME store serves x124's rolling-active view
    val servedRa = StreamOps.rollingActiveMatrix(spark, store)
    val batchRa = operators.TimeSeriesOps.x124RollingActive(spark, sfDir)
    assert(servedRa.except(batchRa).isEmpty && batchRa.except(servedRa).isEmpty)
    assert(servedRa.count() === batchRa.count())
    // ...and x180's growth-accounting ledger (third consumer, round 10)
    val servedGa = StreamOps.growthMatrix(spark, store)
    val batchGa = operators.TimeSeriesOps.x180GrowthAccounting(spark, sfDir)
    assert(servedGa.except(batchGa).isEmpty && batchGa.except(servedGa).isEmpty)
    assert(servedGa.count() === batchGa.count())
  }

  test("ST25 late earlier-day row reassigns the cohort; sealed days untouched") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = tmp()
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val q = StreamOps.retentionIngest(events, store, tmp())
    def at(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    def dayFiles(day: Long): Set[String] = {
      val d = new java.io.File(s"$store/activity/day=$day")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName + ":" + f.lastModified()).toSet
    }
    try {
      input.addData((1L, at(10)), (1L, at(11)), (2L, at(10)))
      q.processAllAvailable()
      val day10 = 19732L // 2024-01-10 in epoch days
      val before = dayFiles(day10)
      assert(before.nonEmpty)
      val m1 = StreamOps.retentionMatrix(spark, store)
        .select("cohort_day", "offset", "n_active").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // both users cohort at day 10; user 1 retained at offset 1
      assert(m1 === Set((day10, 0L, 2L), (day10, 1L, 1L)))

      // LATE batch: user 1 was actually active on day 8 — cohort moves
      input.addData((1L, at(8)))
      q.processAllAvailable()
      val m2 = StreamOps.retentionMatrix(spark, store)
        .select("cohort_day", "offset", "n_active").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val day8 = day10 - 2
      assert(m2 === Set((day8, 0L, 1L), (day8, 2L, 1L), (day8, 3L, 1L),
                        (day10, 0L, 1L)),
        s"cohort not reassigned: $m2")
      // the late batch touched only day 8 — day 10's partition is sealed
      assert(dayFiles(day10) === before, "untouched day partition rewritten")
    } finally q.stop()
  }

  test("ST25 replaying identical rows is a no-op on the matrix") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = tmp()
    val input = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.retentionIngest(input.toDF().toDF("user_id", "ts"), store, tmp())
    val t = Timestamp.valueOf("2024-01-05 00:00:00")
    try {
      input.addData((7L, t), (8L, t))
      q.processAllAvailable()
      val m1 = StreamOps.retentionMatrix(spark, store).collect().toSeq
      input.addData((7L, t), (8L, t)) // same logical rows, new batch
      q.processAllAvailable()
      val m2 = StreamOps.retentionMatrix(spark, store).collect().toSeq
      assert(m1 === m2)
    } finally q.stop()
  }

  test("ST25 a store on a flat object store (s3a) ingests and serves " +
       "through the store dir's own filesystem") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.sparkContext.hadoopConfiguration.set("fs.s3a.impl", classOf[FlatObjectFs].getName)
    val store = "s3a://test" + tmp()
    val input = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.retentionIngest(input.toDF().toDF("user_id", "ts"), store, tmp())
    def at(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    try {
      input.addData((1L, at(10)), (2L, at(10)))
      q.processAllAvailable()
      // the second batch probes the existing activity store on s3a
      input.addData((1L, at(11)))
      q.processAllAvailable()
    } finally q.stop()
    val day10 = 19732L // 2024-01-10 in epoch days
    val m = StreamOps.retentionMatrix(spark, store)
      .select("cohort_day", "offset", "n_active").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(m === Set((day10, 0L, 2L), (day10, 1L, 1L)))
  }
}
