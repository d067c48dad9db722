package graft

import graft.operators.SeriesApi
import graft.sources.BucketedLayout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference-user facade: catena's embedded time-series store API,
  * re-expressed over the Spark-native storage layout. A user of the
  * reference maps their calls directly:
  *
  * | reference concept            | here                                     |
  * |------------------------------|------------------------------------------|
  * | `Insert([]Row)`              | `insert(df)` (batch append) or the       |
  * |                              | streaming path (`streaming.IngestPipeline`) |
  * | `NewIterator(source,metric)` | `series(source, metric)`                 |
  * | `Iterator.Seek(ts)` + `Next` | `series(source, metric, from, until)` —  |
  * |                              | a pruned, ts-ordered frame               |
  * | latest point                 | `latest(source, metric)`                 |
  * | retention (drop partitions)  | `dropDaysBefore(cutoff)`                 |
  * | compaction                   | `compact(day)`                           |
  *
  * The catena model's `(source, metric)` series key is the events table's
  * `(user_id, event_type)`. Storage is the day-partitioned, series-bucketed
  * parquet layout ([[graft.sources.BucketedLayout]]), so `series(...)` with
  * a time range is partition pruning + row-group skipping + a per-file
  * sorted run — the Spark shape of catena's partition-list binary search +
  * series extent seek.
  *
  * Like catena's writable memory partition, an unsealed day takes appends
  * in files sized from each batch ([[insert]]); only sealed and bulk
  * writes ([[compact]], [[GraftStore.create]]) pay the `seriesBuckets`
  * read layout.
  */
class GraftStore(spark: SparkSession, dir: String) {

  /** The whole store as a queryable frame (day partition column included).
    * Pointer-aware ([[BucketedLayout.readEvents]]): a day compacted on a
    * flat object store lives in a hidden generation dir named by its
    * `_day=<day>_gen` pointer, and a blind `spark.read.parquet(dir)`
    * would silently drop it — plus any late rows [[insert]] appended to
    * its classic partition afterwards. On rename-posture stores with no
    * pointers this IS the plain partition-discovery read. */
  def table: DataFrame = BucketedLayout.readEvents(spark, dir)

  /** Append a batch of points (same schema as the events table). Days
    * touched by `points` get new files (compact them when sealed).
    *
    * The file count follows the batch, not the sealed layout: the series
    * hash repartition sets no partition count, so AQE coalesces the
    * shuffle to the batch's measured size — a small batch writes one file
    * per touched day, a large one still spreads over many. Coalescing
    * merges whole hash partitions, so each series stays in one file per
    * insert, sorted by (user_id, event_type, ts). The sort leads with
    * `day`: the partitioned write requires that ordering, and without it
    * the planner replaces the series sort with a bare sort by day. This
    * relies on AQE partition coalescing being on, which
    * [[GraftSession.build]] and [[GraftSession.tune]] set; without it
    * every insert writes `spark.sql.shuffle.partitions` files per day. The
    * read-optimized `seriesBuckets` fan-out is paid once, when [[compact]]
    * seals the day. */
  def insert(points: DataFrame): Unit =
    points
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("user_id"), col("event_type"))
      .sortWithinPartitions("day", "user_id", "event_type", "ts")
      .write.partitionBy("day").mode("append").parquet(dir)

  /** The catena iterator: one series, optional [from, until) range, points
    * in ts order. The range lands on the `day` partition column AND the
    * `ts` row-group stats; the series key prunes via file stats. */
  def series(source: Long, metric: String,
             from: Option[java.sql.Timestamp] = None,
             until: Option[java.sql.Timestamp] = None): DataFrame = {
    var df = table.filter(col("user_id") === source && col("event_type") === metric)
    from.foreach { f =>
      df = df.filter(col("ts") >= lit(f) &&
        col("day") >= date_format(lit(f), "yyyy-MM-dd"))
    }
    until.foreach { u =>
      df = df.filter(col("ts") < lit(u) &&
        col("day") <= date_format(lit(u), "yyyy-MM-dd"))
    }
    df.orderBy("ts", "event_id")
  }

  /** Latest point of one series (catena's hot query), or of every series.
    * Deliberately driver-side: the aggregate reduces one pruned series scan
    * to a single row, and the scalar `Option` return IS the API — use
    * [[latestAll]] for the distributed every-series variant. */
  def latest(source: Long, metric: String): Option[(java.sql.Timestamp, Double)] =
    series(source, metric)
      .agg(max_by(struct(col("ts"), col("value")), col("ts")).as("p"))
      .select(col("p.ts"), col("p.value"))
      .collect().headOption.filterNot(_.isNullAt(0))
      .map(r => (r.getTimestamp(0), r.getDouble(1)))

  def latestAll(): DataFrame =
    SeriesApi.latestPoint(table, Seq("user_id", "event_type"), "ts", "value")

  /** Downsample the whole store (or filter `table` first and call
    * [[SeriesApi.downsample]] directly). */
  def downsample(unit: String = "yyyy-MM-dd"): DataFrame =
    SeriesApi.downsample(table, "ts", unit, Seq("user_id", "event_type"), "value")

  /** Seal a day: rewrite its accumulated files into few sorted buckets. */
  def compact(day: String, seriesBuckets: Int = 8): Unit =
    BucketedLayout.compactDay(spark, dir, day, seriesBuckets)

  /** Retention: drop whole days before the cutoff. Returns dropped dirs. */
  def dropDaysBefore(cutoffDay: String): Seq[String] =
    BucketedLayout.dropDaysBefore(spark, dir, cutoffDay)
}

object GraftStore {
  /** Create a store at `dir` seeded from an events-shaped frame. */
  def create(spark: SparkSession, dir: String, events: DataFrame,
             seriesBuckets: Int = 8): GraftStore = {
    BucketedLayout.writeEvents(events, dir, seriesBuckets)
    new GraftStore(spark, dir)
  }
}
