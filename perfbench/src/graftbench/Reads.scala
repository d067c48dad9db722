package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Shared read-side helpers: seeded key choice, timed store reads, expected answers. */
object Reads extends AdaptiveSparkPlanHelper {
  /** Zipf(1.1) over `n` keys: a few hot series take most reads. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }
  def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** (event_id, ts µs, value) of a `GraftStore.series` result. */
  def triples(rows: Seq[Row]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getAs[Long]("event_id"), micros(r.getAs[Timestamp]("ts")), r.getAs[Double]("value")))

  def expectedSeries(ps: Seq[Gen.Point], from: Long, until: Long): Seq[(Long, Long, Double)] =
    ps.filter(p => p.tsMicros >= from && p.tsMicros < until)
      .sortBy(p => (p.tsMicros, p.eventId)).map(p => (p.eventId, p.tsMicros, p.value))

  /** Collect `df` inside a `layer` span, its executed plan forced first in
    * its own span, so planning and execution are timed apart. */
  def collectTraced(h: Harness, layer: String, df: => DataFrame): (DataFrame, Array[Row]) =
    h.span(layer) {
      val d = df
      h.span("session.plan")(d.queryExecution.executedPlan)
      (d, h.span("engine.execute")(d.collect()))
    }

  /** What the file scans of timed range reads touched: (files, partitions,
    * rows scanned, bytes, rows returned) per read. */
  final class ScanFacts {
    private val facts = ArrayBuffer.empty[(Long, Long, Long, Long, Long)]

    def add(df: DataFrame, returned: Int): Unit = {
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
      facts += ((m("numFiles"), m("numPartitions"), m("numOutputRows"), m("filesSize"), returned.toLong))
    }

    def clear(): Unit = facts.clear()

    def layers(h: Harness): Map[String, Double] = {
      val returned = math.max(1L, facts.map(_._5).sum).toDouble
      Map(
        "sources.read_ms" -> h.spanMs("sources.read"),
        "sources.files_per_day_read" -> facts.map(_._1).sum.toDouble / math.max(1L, facts.map(_._2).sum),
        "sources.rows_scanned_per_row_returned" -> facts.map(_._3).sum / returned,
        "sources.bytes_read_per_point" -> facts.map(_._4).sum / returned)
    }
  }

  /** A timed `GraftStore.series` range read, as (event_id, ts µs, value). */
  def seriesRead(h: Harness, store: graft.GraftStore, user: Long, kind: String, from: Long,
                 until: Long, facts: ScanFacts): Option[Seq[(Long, Long, Double)]] =
    h.op("point")(collectTraced(h, "sources.read",
      store.series(user, kind, Some(ts(from)), Some(ts(until))))).map { case (df, rows) =>
      if (h.measuring) facts.add(df, rows.length)
      triples(rows.toSeq)
    }

  /** A timed `GraftStore.latest` read, as (ts µs, value). */
  def latestRead(h: Harness, store: graft.GraftStore, user: Long,
                 kind: String): Option[Option[(Long, Double)]] =
    h.op("point")(h.span("sources.read")(store.latest(user, kind)))
      .map(_.map { case (t, v) => (micros(t), v) })
}
