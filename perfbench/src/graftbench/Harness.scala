package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The closed-loop client: one thread issues each op after the previous
  * one returns, times it, and attributes its Spark jobs to it. In a traced
  * run every other op of each kind records spans; the untraced rest give
  * the tracing overhead. */
final class Harness(val spark: SparkSession, traceRun: Boolean) {
  final case class Op(id: Long, kind: String, ms: Double, ok: Boolean, traced: Boolean,
                      w0: Long, w1: Long, measured: Boolean)

  val trace = new Trace
  val engine = new EngineListener
  spark.sparkContext.addSparkListener(engine)
  val ops: ArrayBuffer[Op] = ArrayBuffer.empty
  val errors: ArrayBuffer[String] = ArrayBuffer.empty
  /** Set while the timed window runs; ops outside it are set-up and warm-up. */
  var measuring = false
  private var nextId = 0L
  private val perKind = scala.collection.mutable.Map.empty[String, Long]

  def op[T](kind: String)(f: => T): Option[T] = {
    val id = nextId
    nextId += 1
    // the first timed op of each kind is traced, then every other one
    val traced = traceRun && measuring && {
      val n = perKind.getOrElse(kind, 0L)
      perKind(kind) = n + 1
      n % 2 == 0
    }
    val sc = spark.sparkContext
    sc.setLocalProperty(EngineListener.OpKey, id.toString)
    trace.begin(id, traced)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(trace(kind)(f))
      catch {
        case NonFatal(e) =>
          errors += s"$kind: $e"
          e.printStackTrace()
          None
      }
    ops += Op(id, kind, (System.nanoTime() - t0) / 1e6, r.isDefined, traced, w0,
      System.currentTimeMillis(), measuring)
    trace.end()
    sc.setLocalProperty(EngineListener.OpKey, null)
    r
  }

  /** Seconds spent in each named set-up phase. */
  val phases: scala.collection.mutable.LinkedHashMap[String, Double] =
    scala.collection.mutable.LinkedHashMap.empty

  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** A span around a call into one layer (recorded only inside traced ops). */
  def span[T](name: String)(f: => T): T = trace(name)(f)

  def measured(kind: String): Seq[Op] = ops.filter(o => o.measured && o.kind == kind).toSeq
  def measuredOps: Seq[Op] = ops.filter(_.measured).toSeq
  def attempted: Int = measuredOps.size
  def failed: Int = measuredOps.count(!_.ok)

  /** Latencies of `kind`'s successful untraced ops. In a traced run only
    * those are free of tracing cost. */
  def latencies(kind: String): Seq[Double] =
    measured(kind).filter(o => o.ok && !o.traced).map(_.ms)

  /** Tracing overhead: the traced ops' mean latency over the untraced ops'
    * mean, per op kind, weighted by each kind's untraced time. */
  def tracingOverheadPct: Double = {
    val byKind = measuredOps.filter(_.ok).groupBy(_.kind).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else {
        val mu = u.map(_.ms).sum / u.size
        Some((t.map(_.ms).sum / t.size - mu) * os.size, mu * os.size)
      }
    }
    val base = byKind.map(_._2).sum
    if (base == 0) 0.0 else 100.0 * byKind.map(_._1).sum / base
  }

  /** Engine-layer figures over the traced measured ops (all measured ops
    * when `ofKinds` is empty, else those of the given kinds). */
  def engineLayer(ofKinds: Set[String] = Set.empty): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val os = measuredOps.filter(o => o.traced && (ofKinds.isEmpty || ofKinds(o.kind)))
    val n = math.max(1, os.size).toDouble
    val st = os.map(o => engine.byOp.getOrElse(o.id, new engine.OpStats))
    def per(f: engine.OpStats => Double) = st.map(f).sum / n
    val skews = st.map(_.maxOverMedian).filter(_ > 0)
    Map(
      "engine.jobs_per_op" -> per(_.jobs.toDouble),
      "engine.stages_per_op" -> per(_.stages.toDouble),
      "engine.tasks_per_op" -> per(_.tasks.toDouble),
      "engine.driver_gap_ms" -> os.map(o =>
        (o.w1 - o.w0 - engine.jobCoverMs(o.id, o.w0, o.w1)).toDouble).sum / n,
      "engine.task_busy_ms" -> per(_.busyMs),
      "engine.max_task_over_median" ->
        (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "engine.single_task_stages" -> per(_.singleTaskStages.toDouble),
      "engine.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "engine.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "engine.spill_bytes" -> per(_.spill.toDouble),
      "engine.gc_ms" -> per(_.gcMs),
      "engine.failed_tasks" -> st.map(_.failedTasks).sum.toDouble)
  }

  /** Mean ms per call of the spans named `name` (0 when none ran). */
  def spanMs(name: String): Double = {
    val ms = trace.spans.filter(_.name == name).map(_.ms)
    if (ms.isEmpty) 0.0 else ms.sum / ms.size
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
