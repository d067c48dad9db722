package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One workload: set-up (generation, stores, full-scale warm-up), a step of
  * the closed loop, untimed checks, and its metrics. */
trait Workload {
  /** Op kind whose latency the contract line reports as `op_p50_ms`. */
  def primary: String
  /** Generate the inputs and write them where the program reads them.
    * Runs [[Main.SetupReps]] times; set-up time takes the median. */
  def prepare(h: Harness): Unit
  /** Build stores from the inputs and warm up with a full-scale pass. */
  def warmup(h: Harness): Unit
  /** Latencies behind `op_p50_ms`. */
  def primaryLatencies(h: Harness): Seq[Double] = h.latencies(primary)
  def step(h: Harness): Unit
  def checks(h: Harness): Seq[Check]
  /** Work items per second over the timed window: (value, what an item is). */
  def throughput(h: Harness, windowS: Double): (Double, String)
  /** The workload's end-to-end metrics by name: (value, unit). */
  def metrics(h: Harness, windowS: Double): Seq[(String, Double, String)]
  /** Per-layer metrics of a traced run. */
  def layers(h: Harness): Map[String, Double]
  /** Declared rows for the oracle compare: name → (result file, DuckDB SQL). */
  def oracle: Map[String, (String, String)] = Map.empty
  /** Directory holding the `<table>.parquet` files the oracle SQL reads. */
  def oracleTables: String = null
}

final case class Check(name: String, ok: Boolean, detail: String)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String, slots: Int, commit: String)

object Main {
  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), m.getOrElse("slots", "4").toInt, m.getOrElse("commit", "unknown"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "ts_ingest" => new TsIngest(a)
    case "ts_query" => new TsQuery(a)
    case "text_dedup" => new TextDedup(a)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def proc(file: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc", file))

  private def loadAvg(): Double =
    scala.util.Try(proc("loadavg").split(" ")(0).toDouble).getOrElse(-1.0)

  /** Jiffies of the `cpu` line of /proc/stat (user … steal). */
  private def cpuJiffies(): Array[Long] =
    scala.util.Try(proc("stat").linesIterator.next().split("\\s+").slice(1, 9).map(_.toLong))
      .getOrElse(Array.fill(8)(0L))

  private def peakRssMb(): Double =
    scala.util.Try(proc("self/status").linesIterator.find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors()
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    if (loadStart > nproc)
      warnings += "load average at start %.2f exceeds %d cores: contended run".formatLocal(java.util.Locale.ROOT, loadStart, nproc)
    val spark = graft.GraftSession.build("graftbench", s"local[${a.slots}]", a.slots.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val h = new Harness(spark, a.trace)
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val prepareS = (1 to SetupReps).map(_ => timed(w.prepare(h)))
    val warmupS = timed(w.warmup(h))
    val setupS = sessionS + Stats.median(prepareS) + warmupS

    h.measuring = true
    val cpu0 = cpuJiffies()
    val start = System.nanoTime()
    val deadline = start + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) w.step(h)
    val windowS = (System.nanoTime() - start) / 1e9
    h.measuring = false
    // host share of the timed window: busy (all but idle + iowait) and
    // stolen by the hypervisor, in percent of every core's time
    val cpu = cpuJiffies().zip(cpu0).map { case (b, a) => b - a }
    val cpuTotal = math.max(1L, cpu.sum).toDouble
    val busyPct = 100.0 * (cpuTotal - cpu(3) - cpu(4)) / cpuTotal
    val stealPct = 100.0 * cpu(7) / cpuTotal
    if (stealPct > 5)
      warnings += "%.1f%% of CPU time was stolen by the host during the timed window"
        .formatLocal(java.util.Locale.ROOT, stealPct)

    val checks = w.checks(h)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val rss = peakRssMb()
    val (tput, item) = w.throughput(h, windowS)
    val prim = w.primaryLatencies(h)
    val errorRate = h.failed.toDouble / math.max(1, h.attempted)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", rss, "MB"),
      ("error_rate", errorRate, "ratio")) ++ w.metrics(h, windowS)
    val contract = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", tput, "1/s"),
      ("op_p50_ms", Stats.median(prim), "ms"),
      ("peak_rss_mb", rss, "MB"))
    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else h.engineLayer() ++ w.layers(h) ++
        Map("session.warmup_s" -> warmupS, "trace.overhead_pct" -> h.tracingOverheadPct)
    val loadEnd = loadAvg()

    val spanFile = a.out.stripSuffix(".json") + ".spans.json"
    if (a.trace) {
      val self = h.trace.selfMs
      val arr = Report.mapper.createArrayNode()
      h.trace.spans.sortBy(_.id).foreach(s => arr.add(Report.obj("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "self_ms" -> self(s.id))))
      Report.mapper.writeValue(new java.io.File(spanFile), arr)
    }
    val kinds = h.measuredOps.groupBy(_.kind).map { case (k, os) =>
      val ms = os.filter(o => o.ok && !o.traced).map(_.ms)
      k -> Report.obj("n" -> os.size, "failed" -> os.count(!_.ok), "p50_ms" -> Stats.median(ms),
        "p90_ms" -> Stats.pct(ms, 0.9), "mean_ms" -> (if (ms.isEmpty) Double.NaN else ms.sum / ms.size))
    }
    val doc = Report.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "window_s" -> windowS,
      "context" -> Report.obj("nproc" -> nproc, "task_slots" -> a.slots,
        "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
        "window_cpu_busy_pct" -> busyPct, "window_cpu_steal_pct" -> stealPct,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version, "git_commit" -> a.commit, "seed" -> a.seed,
        "session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmupS,
        "throughput_item" -> item, "primary_op" -> w.primary, "setup_phases_s" -> h.phases),
      "warnings" -> warnings.toSeq,
      "attempted" -> h.attempted, "failed" -> h.failed,
      "errors" -> h.errors.take(20).toSeq,
      "checks" -> checks.map(c => Report.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "metrics" -> contract.map { case (n, v, u) => n -> Report.metric(v, u) }.toMap,
      "e2e" -> e2e.map { case (n, v, u) => n -> Report.metric(v, u) }.toMap,
      "per_layer" -> layers.map { case (n, v) => n -> Report.metric(v, unitOf(n)) },
      "ops" -> kinds,
      "oracle_tables" -> w.oracleTables,
      "oracle" -> w.oracle.map { case (n, (f, sql)) => n -> Report.obj("file" -> f, "sql" -> sql) },
      "spans_file" -> (if (a.trace) spanFile else null))
    Report.mapper.writeValue(new java.io.File(a.out), doc)
    warnings.foreach(x => System.err.println(s"[graftbench] WARNING $x"))
    spark.stop()
  }

  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms" else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_pct")) "%" else if (name.contains("_per_")) "ratio"
    else if (name.endsWith("_over_median") || name.endsWith("precision")) "ratio"
    else "count"
}
