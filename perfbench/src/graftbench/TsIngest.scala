package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** `ts_ingest`: a write-heavy closed loop. Generated batches are appended
  * through `GraftStore.insert`; when a day's batches are in, the day is
  * compacted, sent through the exactly-once streaming path
  * (`StreamOps.ingest` + `IngestPipeline.compactDayInto`), and retention
  * drops days older than the window. Seeded point reads run between
  * batches, so a write-side change that leaves more files per day shows as
  * read latency. */
final class TsIngest(a: Args) extends Workload {
  import Reads._

  private val Users = 40
  private val BatchSize = 1000
  private val BatchesPerDay = 8
  private val ReadsPerBatch = 1
  /** Days generated up front: more than any timed window seals. */
  private val MaxDays = 40
  /** Days kept by retention, the open one included. */
  private val RetainDays = 3

  private final class Run(root: String) {
    val storeDir = s"$root/store"
    val srcDir = s"$root/stream_src"
    val rawDir = s"$root/raw"
    val ckptDir = s"$root/checkpoint"
    val serveDir = s"$root/serve"
    var store: graft.GraftStore = _
    var day = 0
    var cutoff = 0
    val inserted = ArrayBuffer.empty[Gen.Point]
    var nextId = 0L
    val streamed = ArrayBuffer.empty[Gen.Point]
    val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  }

  private var run: Run = _
  private var batches: Vector[Vector[Gen.Point]] = Vector.empty
  private val rnd = new SplittableRandom(a.seed ^ 0x1265L)
  private val zipf = new Zipf(Users * Gen.EventTypes.size)
  private val seriesReads = ArrayBuffer.empty[((Long, String), Long, Long, Long, Int, Seq[(Long, Long, Double)])]
  private val latestReads = ArrayBuffer.empty[((Long, String), Long, Int, Option[(Long, Double)])]
  private val scanFacts = new ScanFacts
  private val filesPerInsert = ArrayBuffer.empty[Int]
  private var bytesAtStart = 0L

  def primary = "insert"

  def prepare(h: Harness): Unit =
    batches = (0 until MaxDays * BatchesPerDay).map(i =>
      Gen.ingestBatch(a.seed, i / BatchesPerDay, i % BatchesPerDay, BatchesPerDay, BatchSize, Users))
      .toVector

  /** Full-scale warm-up: one whole day cycle in its own directories. */
  def warmup(h: Harness): Unit = {
    run = new Run(s"${a.work}/warmup")
    run.store = new graft.GraftStore(h.spark, run.storeDir)
    step(h)
    Files.deleteTree(new java.io.File(s"${a.work}/warmup"))
    seriesReads.clear(); latestReads.clear(); scanFacts.clear(); filesPerInsert.clear()
    run = new Run(s"${a.work}/run")
    run.store = new graft.GraftStore(h.spark, run.storeDir)
    org.apache.spark.BenchBus.drain(h.spark.sparkContext)
    bytesAtStart = h.engine.bytesWritten
  }

  /** One day: its batches, each followed by point reads, then its seal.
    * Whole days keep each window's mix of appends and seals the same. */
  def step(h: Harness): Unit = {
    require(run.day < MaxDays, s"more than $MaxDays days in one window")
    (0 until BatchesPerDay).foreach { b =>
      val pts = batches(run.day * BatchesPerDay + b)
      val df = Gen.storeFrame(h.spark, pts)
      val dayDir = new java.io.File(s"${run.storeDir}/day=${Gen.dayString(run.day)}")
      def files = Option(dayDir.list()).map(_.count(_.endsWith(".parquet"))).getOrElse(0)
      val before = if (h.measuring) files else 0
      if (h.op("insert")(h.span("sources.insert")(run.store.insert(df))).isDefined) {
        run.inserted ++= pts
        run.nextId = pts.last.eventId + 1
        if (h.measuring) filesPerInsert += files - before
      }
      (0 until ReadsPerBatch).foreach(_ => pointRead(h))
    }
    seal(h, run.day)
    run.day += 1
  }

  private def seal(h: Harness, d: Int): Unit = {
    val day = Gen.dayString(d)
    h.op("compact")(h.span("sources.compact")(run.store.compact(day)))
    // the day's points as the stream's next input file (client side,
    // untimed); the source globs one directory per day
    val dayPts = run.inserted.filter(_.day == d).toSeq
    val src = s"${run.srcDir}/${Gen.padded("d", d, 4)}/events.parquet"
    new java.io.File(src).getParentFile.mkdirs()
    Gen.writeSingle(Gen.eventsFrame(h.spark, dayPts), src)
    h.op("stream") {
      val q = h.span("streaming.ingest") {
        val q = graft.streaming.StreamOps.ingest(h.spark, s"${run.srcDir}/*", run.rawDir, run.ckptDir)
        q.awaitTermination()
        q
      }
      run.progress ++= q.recentProgress
      h.span("streaming.compact")(
        graft.streaming.IngestPipeline.compactDayInto(h.spark, run.rawDir, run.serveDir, day, 8))
    }.foreach(_ => run.streamed ++= dayPts)
    val cut = d + 1 - RetainDays + 1
    if (cut > run.cutoff) {
      h.op("retention")(h.span("sources.retention")(run.store.dropDaysBefore(Gen.dayString(cut))))
        .foreach(_ => run.cutoff = cut)
    }
  }

  private def pointRead(h: Harness): Unit = {
    val s = zipf.draw(rnd)
    val key @ (user, kind) = (s % Users).toLong -> Gen.EventTypes(s / Users)
    val (wm, cut) = (run.nextId, run.cutoff)
    if (rnd.nextBoolean()) {
      val lo = Gen.Epoch + math.max(cut, run.day - 1) * Gen.DayMicros
      val from = lo + rnd.nextLong(Gen.DayMicros)
      val until = from + Gen.DayMicros
      seriesRead(h, run.store, user, kind, from, until, scanFacts)
        .foreach(got => seriesReads += ((key, from, until, wm, cut, got)))
    } else latestRead(h, run.store, user, kind).foreach(got => latestReads += ((key, wm, cut, got)))
  }

  private def live(wm: Long, cut: Int): Iterator[Gen.Point] =
    run.inserted.iterator.filter(p => p.eventId < wm && p.day >= cut)

  def checks(h: Harness): Seq[Check] = {
    val bySeries = run.inserted.toSeq.groupBy(p => (p.user, p.kind))
    val badSeries = seriesReads.count { case (k, from, until, wm, cut, got) =>
      got != expectedSeries(bySeries.getOrElse(k, Seq.empty).filter(p => p.eventId < wm && p.day >= cut),
        from, until)
    }
    val badLatest = latestReads.count { case (k, wm, cut, got) =>
      val ps = bySeries.getOrElse(k, Seq.empty).filter(p => p.eventId < wm && p.day >= cut)
      got != ps.maxByOption(p => (p.tsMicros, p.eventId)).map(p => (p.tsMicros, p.value))
    }
    val expected = live(Long.MaxValue, run.cutoff).toSeq.groupBy(p => (p.user, p.kind))
      .map { case (k, ps) => k -> ((ps.size.toLong, ps.map(_.value).sum)) }
    val got = run.store.table.groupBy("user_id", "event_type")
      .agg(count(lit(1)), sum("value")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val storeOk = got.keySet == expected.keySet && got.forall { case (k, (n, s)) =>
      val (en, es) = expected(k)
      n == en && math.abs(s - es) < 1e-6 * math.max(1.0, math.abs(es))
    }
    val raw = if (run.streamed.isEmpty) None else Some(h.spark.read.parquet(run.rawDir)
      .agg(count(lit(1)), countDistinct(col("event_id")), sum(col("event_id"))).head())
    val (rn, rd, rs) = raw.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).getOrElse((0L, 0L, 0L))
    val streamOk = rn == run.streamed.size && rd == rn && rs == run.streamed.map(_.eventId).sum
    Seq(
      Check("ts_ingest.point_series", badSeries == 0 && seriesReads.nonEmpty,
        s"${seriesReads.size} range reads, $badSeries differ from the acknowledged input"),
      Check("ts_ingest.point_latest", badLatest == 0 && latestReads.nonEmpty,
        s"${latestReads.size} latest reads, $badLatest differ from the acknowledged input"),
      Check("ts_ingest.store_contents", storeOk,
        s"${got.size} series in the store, ${expected.size} expected after retiring days before ${Gen.dayString(run.cutoff)}"),
      Check("ts_ingest.stream_exactly_once", streamOk && run.streamed.nonEmpty,
        s"raw zone holds $rn rows ($rd distinct ids) for ${run.streamed.size} streamed points"))
  }

  private def writeOps(h: Harness) =
    h.measuredOps.filter(o => o.ok && Set("insert", "compact", "stream", "retention")(o.kind))

  private def rowsAcked(h: Harness): Long = h.measured("insert").count(_.ok).toLong * BatchSize

  def throughput(h: Harness, windowS: Double): (Double, String) =
    (rowsAcked(h) / math.max(1e-9, writeOps(h).map(_.ms).sum / 1000.0), "point")

  private def rawBytes(ps: Iterator[Gen.Point]) = ps.map(_.rawBytes).sum.toDouble

  def metrics(h: Harness, windowS: Double): Seq[(String, Double, String)] = {
    org.apache.spark.BenchBus.drain(h.spark.sparkContext)
    val written = (h.engine.bytesWritten - bytesAtStart) +
      Files.treeBytes(new java.io.File(run.ckptDir)) +
      Files.treeBytes(new java.io.File(s"${run.rawDir}/_spark_metadata"))
    val ins = h.latencies("insert")
    val pts = h.latencies("point")
    Seq(("ingest_rows_per_s", throughput(h, windowS)._1, "1/s"),
      ("insert_p50_ms", Stats.median(ins), "ms"), ("insert_p90_ms", Stats.pct(ins, 0.9), "ms"),
      ("insert_batches", ins.size.toDouble, "count"), ("batch_rows", BatchSize.toDouble, "count"),
      ("write_amp", written / math.max(1.0, rawBytes(run.inserted.iterator)), "ratio"),
      ("space_amp", Files.treeBytes(new java.io.File(run.storeDir)) /
        math.max(1.0, rawBytes(live(Long.MaxValue, run.cutoff))), "ratio"),
      ("point_p50_ms", Stats.median(pts), "ms"), ("point_p90_ms", Stats.pct(pts, 0.9), "ms"),
      ("point_reads", pts.size.toDouble, "count"), ("days_sealed", run.day.toDouble, "count"))
  }

  def layers(h: Harness): Map[String, Double] = {
    val active = run.progress.filter(_.numInputRows > 0).toSeq
    def dur(k: String) = if (active.isEmpty) 0.0
      else active.map(p => p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)).sum / active.size
    val traced = h.measuredOps.filter(o => o.traced && o.kind == "insert")
    Map(
      "session.plan_ms" -> h.spanMs("session.plan"),
      "sources.insert_ms" -> h.spanMs("sources.insert"),
      "sources.compact_ms" -> h.spanMs("sources.compact"),
      "sources.retention_ms" -> h.spanMs("sources.retention"),
      "sources.files_written" ->
        (if (filesPerInsert.isEmpty) 0.0 else filesPerInsert.sum.toDouble / filesPerInsert.size),
      "sources.bytes_written" -> traced.map(o =>
        h.engine.byOp.get(o.id).map(_.bytesWritten).getOrElse(0L)).sum.toDouble / math.max(1, traced.size),
      "streaming.batches" -> active.size.toDouble,
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.ingest_ms" -> h.spanMs("streaming.ingest"),
      "streaming.compact_ms" -> h.spanMs("streaming.compact")) ++ scanFacts.layers(h)
  }
}
