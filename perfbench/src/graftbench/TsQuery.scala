package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

/** `ts_query`: a read-heavy op stream against a compacted store built in
  * set-up. Point reads are Zipf-skewed over series with ranges biased to
  * recent days; scans and a fixed sample of declared rows ride along. */
final class TsQuery(a: Args) extends Workload {
  import Reads._

  private val Users = 40
  private val Days = 30
  private val PerDay = 1500
  val Declared: Seq[String] = Seq("q05_ts_range", "q17_asof", "q30_lag_delta", "q31_running_sum",
    "q32_moving_avg", "q33_last_point", "q47_series_scan", "q48_downsample", "q49_rate",
    "q50_gapfill", "q51_sma", "q09_join_broadcast", "q10_join_smj", "q19_agg_tpch_q1",
    "q22_rollup", "q34_topk_group", "q35_multisort")
  private val Scans = Seq("downsample", "latestAll", "rangeAgg", "readBox")
  /** Which `operators` layer metric each declared row and scan feeds. */
  private val operatorOf: Map[String, String] = Map(
    "q17_asof" -> "operators.asof_ms", "q48_downsample" -> "operators.downsample_ms",
    "downsample" -> "operators.downsample_ms", "rangeAgg" -> "operators.rollup_ms") ++
    Seq("q05_ts_range", "q30_lag_delta", "q31_running_sum", "q32_moving_avg", "q33_last_point",
      "q47_series_scan", "q49_rate", "q50_gapfill", "q51_sma", "latestAll", "readBox")
      .map(_ -> "operators.ts_window_ms") ++
    Seq("q09_join_broadcast", "q10_join_smj", "q19_agg_tpch_q1", "q22_rollup",
      "q34_topk_group", "q35_multisort").map(_ -> "operators.relational_ms")

  private val dataDir = s"${a.work}/data"
  private val storeDir = s"${a.work}/store"
  private val rollupDir = s"${a.work}/rollup"
  private val zDir = s"${a.work}/zorder"
  private val resultDir = s"${a.work}/declared"
  private var points: Vector[Gen.Point] = Vector.empty
  private var bySeries: Map[(Long, String), Vector[Gen.Point]] = Map.empty
  private var seriesKeys: Vector[(Long, String)] = Vector.empty
  private var store: graft.GraftStore = _
  private val rnd = new SplittableRandom(a.seed ^ 0x5EEDL)
  private lazy val zipf = new Zipf(seriesKeys.size)
  private var declaredNext = 0
  private var declaredOrder: Vector[String] = Vector.empty
  private val declaredRows = scala.collection.mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  /** (series key, from µs, until µs, result) of each range read, and of each latest read. */
  private val seriesReads = ArrayBuffer.empty[((Long, String), Long, Long, Seq[(Long, Long, Double)])]
  private val latestReads = ArrayBuffer.empty[((Long, String), Option[(Long, Double)])]
  private var latestAllRows = -1L
  private val scanFacts = new ScanFacts
  private var catalogS = 0.0

  private val lastUs = Gen.Epoch + Days * Gen.DayMicros

  def primary = "point"

  def prepare(h: Harness): Unit = {
    val spark = h.spark
    points = Gen.events(a.seed, Users, Days, PerDay)
    bySeries = points.groupBy(p => (p.user, p.kind))
    seriesKeys = bySeries.keys.toVector.sorted
    Files.deleteTree(new java.io.File(dataDir))
    new java.io.File(dataDir).mkdirs()
    val star = Gen.starTables(Gen.star(a.seed, customers = 150, orders = 1500)).map {
      case (t, rows) => t -> spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.starSchemas(t))
    }
    val tables = star ++ Map("events" -> Gen.eventsFrame(spark, points),
      "documents" -> Gen.documentsFrame(spark, Gen.documents(a.seed, 200)),
      "embeddings" -> spark.createDataFrame(
        java.util.Arrays.asList(Gen.embeddings(a.seed, 100): _*), Gen.embeddingsSchema))
    // tables are written concurrently: each write is one small job
    tables.toSeq.map { case (t, df) =>
      new Thread(() => Gen.writeSingle(df, s"$dataDir/$t.parquet"))
    }.map { t => t.start(); t }.foreach(_.join())
    tables.keys.foreach(t => require(new java.io.File(s"$dataDir/$t.parquet").isFile, s"$t not written"))
  }

  def warmup(h: Harness): Unit = {
    val spark = h.spark
    h.phase("catalog")(graft.GraftCatalog.install(spark, dataDir))
    catalogS = h.phases("catalog")
    val events = graft.Tables.events(spark, dataDir)
    h.phase("stores") {
      store = graft.GraftStore.create(spark, storeDir, events)
      graft.sources.RollupStore.build(events, rollupDir)
      graft.sources.ZOrderLayout.writeEvents(events, zDir, files = 16)
    }
    declaredOrder = new scala.util.Random(a.seed).shuffle(Declared).toVector
    // full-scale warm-up: every declared row, every scan kind, and point reads
    h.phase("warmup") {
      Declared.foreach(declared(h, _))
      Scans.foreach(scan(h, _))
      (0 until 20).foreach(_ => pointRead(h))
    }

  }

  def step(h: Harness): Unit = {
    val r = rnd.nextDouble()
    if (r < 0.75) pointRead(h)
    else if (r < 0.93) scan(h, Scans(rnd.nextInt(Scans.size)))
    else {
      declared(h, declaredOrder(declaredNext % declaredOrder.size))
      declaredNext += 1
    }
  }

  private def pointRead(h: Harness): Unit = {
    val key @ (user, kind) = seriesKeys(zipf.draw(rnd))
    if (rnd.nextBoolean()) {
      val back = math.min(Days - 1, (-3.0 * math.log(1 - rnd.nextDouble())).toInt)
      val from = lastUs - (back + 1) * Gen.DayMicros + rnd.nextLong(Gen.DayMicros)
      val until = math.min(lastUs, from + (1 + rnd.nextInt(3)) * Gen.DayMicros)
      seriesRead(h, store, user, kind, from, until, scanFacts)
        .foreach(got => seriesReads += ((key, from, until, got)))
    } else latestRead(h, store, user, kind).foreach(got => latestReads += ((key, got)))
  }

  private def runFrame(h: Harness, layer: String, df: => DataFrame): Array[Row] =
    collectTraced(h, layer, df)._2

  private def scan(h: Harness, kind: String): Unit = {
    val spark = h.spark
    h.op("scan") {
      runFrame(h, operatorOf(kind), kind match {
        case "downsample" => store.downsample()
        case "latestAll" => store.latestAll()
        case "rangeAgg" =>
          val t0 = Gen.Epoch + rnd.nextLong(Days / 2 * Gen.DayMicros)
          graft.sources.RollupStore.rangeAgg(spark, rollupDir, graft.Tables.events(spark, dataDir),
            t0, t0 + rnd.nextLong(Days / 2 * Gen.DayMicros) + 3600L * 1000000L)
        case "readBox" =>
          val u = rnd.nextInt(Users).toLong
          val t0 = Gen.Epoch + rnd.nextLong((Days - 5) * Gen.DayMicros)
          graft.sources.ZOrderLayout.readBox(spark, zDir, u, u + 4, t0, t0 + 5 * Gen.DayMicros)
      })
    }.foreach(rows => if (kind == "latestAll") latestAllRows = rows.length.toLong)
  }

  private def declared(h: Harness, name: String): Unit = {
    val q = graft.SparkEntry.queries(name)
    var schema: org.apache.spark.sql.types.StructType = null
    h.op("declared") {
      runFrame(h, operatorOf(name), { val df = q(h.spark, dataDir); schema = df.schema; df })
    }.foreach(rows => if (!declaredRows.contains(name)) declaredRows(name) = (rows, schema))
  }

  def checks(h: Harness): Seq[Check] = {
    val badSeries = seriesReads.count { case (k, from, until, got) =>
      got != expectedSeries(bySeries(k), from, until)
    }
    val badLatest = latestReads.count { case (k, got) =>
      val last = bySeries(k).maxBy(p => (p.tsMicros, p.eventId))
      !got.contains((last.tsMicros, last.value))
    }
    new java.io.File(resultDir).mkdirs()
    declaredRows.foreach { case (n, (rows, schema)) =>
      Gen.writeSingle(h.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        s"$resultDir/$n.parquet")
    }
    Seq(
      Check("ts_query.point_series", badSeries == 0 && seriesReads.nonEmpty,
        s"${seriesReads.size} range reads, $badSeries differ from the generator"),
      Check("ts_query.point_latest", badLatest == 0 && latestReads.nonEmpty,
        s"${latestReads.size} latest reads, $badLatest differ from the generator"),
      Check("ts_query.latest_all", latestAllRows == seriesKeys.size,
        s"latestAll returned $latestAllRows rows for ${seriesKeys.size} series"),
      Check("ts_query.declared_ran", Declared.forall(declaredRows.contains),
        s"${declaredRows.size} of ${Declared.size} declared rows returned a result"))
  }

  override def oracle: Map[String, (String, String)] =
    Declared.map(n => n -> ((s"$resultDir/$n.parquet", graft.SparkEntry.oracleSql(n)))).toMap
  override def oracleTables: String = dataDir

  def throughput(h: Harness, windowS: Double): (Double, String) =
    (h.measuredOps.count(_.ok) / windowS, "op")

  def metrics(h: Harness, windowS: Double): Seq[(String, Double, String)] = {
    val p = h.latencies("point")
    Seq(("point_p50_ms", Stats.median(p), "ms"), ("point_p90_ms", Stats.pct(p, 0.9), "ms"),
      ("scan_p50_ms", Stats.median(h.latencies("scan") ++ h.latencies("declared")), "ms"),
      ("query_ops_per_s", throughput(h, windowS)._1, "1/s"),
      ("point_reads", p.size.toDouble, "count"))
  }

  def layers(h: Harness): Map[String, Double] =
    Map("session.plan_ms" -> h.spanMs("session.plan"), "session.catalog_s" -> catalogS) ++
      scanFacts.layers(h) ++
      operatorOf.values.toSeq.distinct.map(l => l -> h.spanMs(l)) ++
      h.engineLayer(Set("point")).map { case (k, v) => k.replace("engine.", "engine.point.") -> v }
}
