package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** The catena-facade store: iterator semantics, seek ranges, latest-point,
  * insert/append, retention — against the fixture migrated into the layout. */
class GraftStoreSpec extends SparkSpecBase {

  private lazy val store = {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    GraftStore.create(spark, dir, Tables.events(spark, sfDir), seriesBuckets = 2)
  }

  test("series() is the catena iterator: ordered, complete, series-pure") {
    val s = store.series(7L, "click").collect()
    val ref = Tables.events(spark, sfDir)
      .filter(col("user_id") === 7 && col("event_type") === "click")
      .orderBy("ts", "event_id").collect()
    assert(s.length === ref.length)
    assert(s.map(_.getAs[Long]("event_id")).toSeq ===
           ref.map(_.getAs[Long]("event_id")).toSeq)
  }

  test("series(from, until) is Seek(ts): half-open range, pruned scan") {
    val from = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val until = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val q = store.series(7L, "click", Some(from), Some(until))
    val got = q.collect()
    val ref = Tables.events(spark, sfDir)
      .filter(col("user_id") === 7 && col("event_type") === "click" &&
              col("ts") >= lit(from) && col("ts") < lit(until))
      .orderBy("ts", "event_id").collect()
    assert(got.map(_.getAs[Long]("event_id")).toSeq ===
           ref.map(_.getAs[Long]("event_id")).toSeq)
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("day"), s"day range must prune partitions:\n$plan")
    assert(plan.contains("EqualTo(user_id,7)"), "series key must reach the scan")
  }

  test("latest() equals the batch max_by; empty series is None") {
    val (ts, v) = store.latest(7L, "click").get
    val ref = Tables.events(spark, sfDir)
      .filter(col("user_id") === 7 && col("event_type") === "click")
      .agg(max_by(col("value"), col("ts")), max(col("ts"))).head
    assert(v === ref.getDouble(0) && ts === ref.getTimestamp(1))
    assert(store.latest(999999L, "click").isEmpty)
  }

  test("insert() appends new points visible to subsequent reads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-store-ins").toString
    val st = GraftStore.create(spark, dir,
      Tables.events(spark, sfDir).limit(100), seriesBuckets = 2)
    val before = st.table.count()
    val extra = Seq((9999999L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
                     7L, "click", 123.45, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    st.insert(extra)
    assert(st.table.count() === before + 1)
    val (ts, v) = st.latest(7L, "click").get
    assert(v === 123.45 && ts === java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
  }

  /** `n` events-shaped points over 40 sources × 5 metrics, `stepSec`
    * apart from `start` (UTC); the first `skewed` rows all belong to
    * series (1, click). */
  private def points(s: SparkSession, n: Int, start: String, stepSec: Int,
                     skewed: Int = 0): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start).toEpochSecond(java.time.ZoneOffset.UTC)
    val kinds = array(Seq("click", "view", "buy", "scroll", "share").map(lit): _*)
    val hot = col("id") < skewed
    s.range(n).select(
      (lit(50000000L) + col("id")).as("event_id"),
      timestamp_seconds(lit(t0) + col("id") * stepSec).as("ts"),
      when(hot, lit(1L)).otherwise(col("id") % 40).as("user_id"),
      when(hot, lit("click")).otherwise(element_at(kinds, (col("id") % 5 + 1).cast("int")))
        .as("event_type"),
      col("id").cast("double").as("value"),
      lit("{}").as("props"))
  }

  /** The parquet files an insert added under each day dir, each as its
    * (user_id, event_type, ts) keys in file order. */
  private def insertedFiles(dir: String)(insert: => Unit): Map[String, Seq[Seq[(Long, String, Long)]]] = {
    def listing: Map[String, Set[String]] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("day="))
        .map(d => d.getName.stripPrefix("day=") ->
          d.listFiles().map(_.getPath).filter(_.endsWith(".parquet")).toSet)
        .toMap
    val before = listing
    insert
    listing.map { case (day, fs) =>
      day -> (fs -- before.getOrElse(day, Set.empty)).toSeq.sorted.map { f =>
        spark.read.parquet(f).select(col("user_id"), col("event_type"),
            unix_micros(col("ts"))).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      }
    }.filter(_._2.nonEmpty)
  }

  private def assertSortedAndSeriesWhole(files: Seq[Seq[(Long, String, Long)]]): Unit = {
    files.foreach(keys => assert(keys === keys.sorted, "rows not sorted by (user_id, event_type, ts)"))
    val series = files.flatMap(_.map(k => (k._1, k._2)).distinct)
    assert(series.size === series.distinct.size, "a series is split across files of one insert")
  }

  test("insert() sizes files from the batch: one sorted file per touched day") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-files").toString
    val st = GraftStore.create(spark, dir,
      Tables.events(spark, sfDir).limit(100), seriesBuckets = 2)
    val oneDay = insertedFiles(dir)(st.insert(points(spark, 1000, "2024-03-01T00:00:00", 60)))
    assert(oneDay.keySet === Set("2024-03-01"))
    assert(oneDay("2024-03-01").size === 1, "a 1,000-row single-day batch must add one file")
    assertSortedAndSeriesWhole(oneDay("2024-03-01"))
    // 1,000 points 100 s apart from noon: the batch spans two days
    val twoDays = insertedFiles(dir)(st.insert(points(spark, 1000, "2024-03-02T12:00:00", 100)))
    assert(twoDays.keySet === Set("2024-03-02", "2024-03-03"))
    twoDays.values.foreach { fs =>
      assert(fs.size === 1, "a batch adds one file per touched day")
      assertSortedAndSeriesWhole(fs)
    }
    assert(st.table.count() === 2100)
  }

  test("insert() spreads a batch AQE measures as large over several files, " +
       "each series whole in one file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-wide").toString
    val st = GraftStore.create(spark, dir,
      Tables.events(spark, sfDir).limit(100), seriesBuckets = 2)
    // a session whose AQE target is tiny: the batch now measures "large"
    val small = spark.newSession()
    small.conf.set("spark.sql.shuffle.partitions", "8")
    small.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "512")
    small.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    // half the batch is one hot series: coalescing must not split it
    val files = insertedFiles(dir)(
      st.insert(points(small, 2000, "2024-03-05T00:00:00", 30, skewed = 1000)))
    assert(files.keySet === Set("2024-03-05"))
    assert(files("2024-03-05").size > 1, "a large batch must still spread over files")
    assertSortedAndSeriesWhole(files("2024-03-05"))
  }

  test("retention drops old days from the store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-ret").toString
    val st = GraftStore.create(spark, dir, Tables.events(spark, sfDir), seriesBuckets = 2)
    val dropped = st.dropDaysBefore("2024-01-10")
    assert(dropped.nonEmpty)
    assert(st.table.filter(col("day") < "2024-01-10").count() === 0)
    assert(st.table.filter(col("day") >= "2024-01-10").count() > 0)
  }
}
