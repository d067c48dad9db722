package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is fully materialized through the noop
  * sink (count() would let Catalyst prune sorts/projections and under-report). */
object Bench {

  /** Full classpath of the running Bench, classloader-derived: under sbt
    * `java.class.path` is just the launcher jar — the project classes and
    * the Spark jars live in a URLClassLoader layer, so walk those instead
    * (union with the property for the spark-submit / plain-java case).
    * Shared with CrossProcessSpec's probe children. */
  private[graft] def currentClasspath(): String = {
    def urls(cl: ClassLoader): Seq[String] = cl match {
      case null => Nil
      case u: java.net.URLClassLoader =>
        u.getURLs.toSeq.flatMap(x =>
          scala.util.Try(java.nio.file.Paths.get(x.toURI).toString).toOption) ++
          urls(u.getParent)
      case other => urls(other.getParent)
    }
    (urls(getClass.getClassLoader) ++
      sys.props.getOrElse("java.class.path", "").split(java.io.File.pathSeparator))
      .filter(_.nonEmpty).distinct.mkString(java.io.File.pathSeparator)
  }

  /** The parent JVM's own flags, minus anything that must not be
    * inherited by a spawned child: agents and debugger transports in any
    * spelling (-agentlib/-agentpath/-javaagent/-Xrunjdwp) would make the
    * child bind an already-used debug port or park on suspend=y. Shared
    * with CrossProcessSpec's probe children. */
  private[graft] def forwardableJvmArgs(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-agentpath") ||
        a.startsWith("-javaagent") || a.startsWith("-Xrunjdwp"))
  }

  /** Rows whose SHARED figure is ≥2× their committed controlled median
    * (`tools/bench_medians.json`) AND ≥1 s — the set that NEEDS
    * adjudication this run, independent of the same-run isolation
    * children (r15 verdict item 4: `shared_over_isolated_flags` compares
    * against same-run children, so a contended isolation pass silently
    * invalidated its own adjudication; the committed history cannot be
    * polluted by this run). The 1 s absolute floor keeps sub-second
    * scheduler jitter (0.05 s → 0.12 s is 2.4×, and noise) out of the
    * flag set. Sorted worst inflation first. */
  private[graft] def historyFlags(allRows: Seq[(String, Double)],
                                  history: Map[String, Double]): Seq[(String, Double)] =
    allRows.flatMap { case (n, sh) =>
      history.get(n).filter(h => h > 0 && sh >= 2 * h && sh >= 1.0)
        .map(h => n -> sh / h)
    }.sortBy(-_._2)

  /** Parse an isolation spec ("off" | "slowest:N[,heavy:T:R]") against the
    * shared-run rows, the curated watchlist, and the committed per-row
    * median history into an ORDERED plan: (row, target fresh-JVM
    * children), plus the heavy threshold when one was set. PURE (BenchSpec
    * pins it) and DEFENSIVE: it runs after the multi-hour shared pass, so
    * a malformed clause degrades to "skip that clause", never throws the
    * run away.
    *
    * Round-15 contract: NO silent row cap. The r14 `take(16)` dropped 5 of
    * the 21 >5 s rows from the isolation set with nothing in the artifact
    * saying so — exactly the adjudication hole the pass exists to close.
    * The wall budget (main) is the only cap now, and rows it cuts land in
    * the artifact's `isolation_skipped` map instead of vanishing.
    *
    * Round-16 contract: ADJUDICATION-FIRST ordering. Rows inflated ≥2× vs
    * their committed controlled median ([[historyFlags]]) head the plan,
    * worst inflation first, each with median-of-R reps — so a
    * budget-bounded run spends its children on the rows that NEED
    * adjudication before any merely-slow row (r15 spent its budget on a
    * static slowest-N order and skipped exactly the inflated rows —
    * x99_align at 10× and x64_rollup at 10× both landed in
    * `isolation_skipped: budget`). Unflagged rows follow in the previous
    * slowest-shared-first order. */
  private[graft] def planIsolation(allRows: Seq[(String, Double)], spec: String,
                                   watch: Seq[String],
                                   history: Map[String, Double] = Map.empty)
      : (Seq[(String, Int)], Option[Double]) = {
    if (spec == "off") return (Nil, None)
    val parts = spec.split(",").map(_.trim)
    val slowN = parts.collectFirst {
      case s if s.startsWith("slowest:") => s.stripPrefix("slowest:").trim.toIntOption
    }.flatten.getOrElse(0)
    val heavy = parts.collectFirst {
      case s if s.startsWith("heavy:") =>
        s.stripPrefix("heavy:").split(":") match {
          case Array(t, r) => t.toDoubleOption.zip(r.toIntOption)
          case _           => None
        }
    }.flatten
    val flagged = historyFlags(allRows, history).map(_._1)
    if (slowN == 0 && heavy.isEmpty)
      // an unparsable spec degrades clause-wise, not to zero: the
      // slowest/heavy selections are skipped, but the curated watchlist
      // and the history-flagged rows are adjudication work that a spec
      // typo must not cancel — say exactly that (r15 ADVICE: the old
      // message claimed the whole pass was skipped while watch rows ran)
      System.err.println(s"[bench] unparsable SPARK_GRAFT_ISOLATE '$spec' — " +
        "slowest/heavy clauses skipped; watchlist and history-flagged rows " +
        s"still get children (${(watch ++ flagged).distinct.size} planned)")
    val have = allRows.map(_._1).toSet
    val shared = allRows.toMap
    val slowest = allRows.sortBy(-_._2).take(slowN).map(_._1)
    val heavyRows = heavy.map { case (thr, _) =>
      allRows.filter(_._2 > thr).map(_._1)
    }.getOrElse(Nil)
    // heavy membership, the curated watchlist, and the history-flagged
    // rows win the rep count (toMap keeps the last entry): a flagged or
    // watched row is by definition a suspicious mover, so it gets
    // median-of-R treatment regardless of rank (flagged rows get at
    // least 3 even with no heavy clause — a single cold child cannot
    // adjudicate, r13 verdict item 1)
    val heavyReps = heavy.map(_._2).getOrElse(1)
    val flagReps = math.max(heavyReps, 3)
    val reps = (slowest.map(_ -> 1) ++
      watch.filter(have).map(_ -> heavyReps) ++
      heavyRows.map(_ -> heavyReps) ++
      flagged.map(_ -> flagReps)).toMap
    val unflagged = (slowest ++ watch.filter(have) ++ heavyRows).distinct
      .filterNot(flagged.contains).sortBy(n => -shared(n))
    val ordered = flagged ++ unflagged
    (ordered.map(n => n -> reps(n)), heavy.map(_._1))
  }

  /** Flatten a plan into the child spawn order. Rows in `adjudicateFirst`
    * (the history-flagged set) run their FULL median-of-R reps before any
    * other child — a budget cut must not leave a flagged row at n=1,
    * which cannot adjudicate (the r15 hole this ordering closes: coverage
    * children of merely-slow rows spent the budget while the flagged
    * rows' extra reps queued at the back). The remaining rows keep the
    * coverage-first shape: one child per row (every planned row gets at
    * least one isolated figure before any budget cut), then the extra
    * median-of-R children, worst shared rows first. PURE (BenchSpec pins
    * both shapes). */
  private[graft] def isolationSchedule(plan: Seq[(String, Int)],
                                       adjudicateFirst: Set[String] = Set.empty): Seq[String] = {
    val (flag, rest) = plan.partition(p => adjudicateFirst(p._1))
    flag.flatMap { case (n, r) => Seq.fill(math.max(1, r))(n) } ++
      rest.map(_._1) ++
      rest.flatMap { case (n, r) => Seq.fill(math.max(0, r - 1))(n) }
  }

  /** Re-time one query in a FRESH JVM: spawn a child `java graft.Bench`
    * with SPARK_GRAFT_ONLY=<name> (cold JIT, cold codegen cache, its own
    * heap) and read the timing back from the child's persisted bench line.
    * The parent's --add-opens/-Xmx style JVM flags are forwarded so the
    * child can start Spark under Java 17 the same way. The child's line is
    * deleted once read; its log is kept only when it gave no timing. */
  private def isolateOne(name: String, sfDir: String, cpus: String,
                         timeoutSec: Long = 480L): Option[(String, Double, Option[Double])] = {
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempFile(s"bench-iso-$name", ".json")
    val logf = java.nio.file.Files.createTempFile(s"bench-iso-$name", ".log")
    val timing = try {
      val cmd = (Seq(sys.props("java.home") + "/bin/java") ++ forwardableJvmArgs() ++
        Seq("-cp", currentClasspath(), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      pb.redirectOutput(logf.toFile)
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.environment().put("SPARK_GRAFT_TWICE", "1")
      pb.environment().remove("SPARK_GRAFT_ISOLATE")
      val proc = pb.start()
      if (!proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        System.err.println(s"[bench] isolate $name timed out (log $logf)"); None
      } else {
        // the cold figure is in the child's `queries` map, the same-JVM
        // re-time (TWICE) in its `warm` map
        val line = Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(out.toFile))
        def sec(map: String) = line.flatMap(l => Option(l.get(map)))
          .flatMap(m => Option(m.get(name))).filter(_.isNumber).map(_.asDouble)
        val t = sec("queries").map(cold => (name, cold, sec("warm")))
        if (t.isEmpty) System.err.println(s"[bench] isolate $name: no timing in child " +
          s"output (exit ${proc.exitValue()}, log $logf)")
        t
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] isolate $name failed: ${e.getMessage} (log $logf)"); None
    } finally java.nio.file.Files.deleteIfExists(out)
    if (timing.isDefined) java.nio.file.Files.deleteIfExists(logf)
    timing
  }

  /** A JSON string literal: quotes, backslashes and control characters
    * escaped (Jackson's encoder), so any query name or path stays one
    * valid token. */
  private def jsonStr(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder
      .getInstance.quoteAsString(s)) + "\""

  /** A fixed-point JSON number. `Locale.ROOT`: under a comma-decimal
    * default locale (de_DE) a bare `f"%.2f"` emits `1,50`, which is not
    * JSON. */
  private def jsonNum(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** `{"k":v,...}` with escaped keys and `num`-rendered values. */
  private def jsonObj[V](kvs: Seq[(String, V)])(num: V => String): String =
    kvs.map { case (k, v) => jsonStr(k) + ":" + num(v) }.mkString("{", ",", "}")

  /** Generated-class compiles, their total compile time and the codegen
    * cache capacity. */
  private[graft] case class Codegen(compiles: Long, compileMs: Long, cacheMax: Int) {
    def since(start: Codegen): Codegen =
      copy(compiles = compiles - start.compiles, compileMs = compileMs - start.compileMs)
  }

  /** This JVM's codegen counters so far. */
  private def codegenNow(spark: SparkSession): Codegen = Codegen(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L,
    spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt)

  /** Per-row (median cold, median warm) over the fresh-JVM children. */
  private def isolatedMedians(runs: Seq[(String, Seq[(Double, Option[Double])])])
      : Seq[(String, Double, Option[Double])] =
    runs.map { case (n, rs) =>
      val colds = rs.map(_._1).sorted
      val warms = rs.flatMap(_._2).sorted
      (n, colds(colds.size / 2), warms.drop(warms.size / 2).headOption)
    }

  /** The full artifact line. Totals are third-party-reproducible from the
    * artifact alone (the r10 nit: `value` vs Σqueries measured different
    * things with nothing in the line saying so): `value` stays the
    * DECLARED shared-pass wall (the cross-round comparable), and the
    * breakdown keys state exactly which rows each total sums. Shared and
    * warm figures print as raw doubles, which the isolation pass parses
    * back out of its children's lines. PURE (BenchSpec parses it).
    *
    *  - `isolated_stats`: per-row spread over the fresh-JVM children (the
    *    `isolated` map carries the median); n=1 rows are in here too — a
    *    single-child figure is still an isolated figure, and the coverage
    *    contract counts it.
    *  - `shared_over_isolated_flags`: always present, {} when clean (r12
    *    verdict item 5), so "zero flags" is distinguishable from a
    *    pre-flag bench version that never computed them.
    *  - `vs_history_flags` + `history_rows` (`history`, None on ONLY runs,
    *    whose figures carry unamortized session cost): flags vs the
    *    COMMITTED median, so a contended same-run isolation pass cannot
    *    invalidate the adjudication (r15 verdict item 4); {} with rows>0
    *    is "computed, clean", {} with rows=0 is "history missing".
    *  - `isolation_skipped` (COVERAGE CONTRACT, r14 verdict item 2): every
    *    planned row is in `isolated_stats` or here with a reason —
    *    "pending" at an incremental write, so even a kill -9 leaves an
    *    artifact that names its own holes. Always present.
    *  - `host_load` (r15 verdict item 6): start, pre-isolation, and the
    *    max sampled before any child.
    *  - `codegen`: this JVM's generated-class compiles and their compile
    *    time after the warm-up, and the codegen cache capacity — so a row
    *    that paid for recompiles is visible in the artifact.
    *  - `failed`: every row that threw, with its message (it has no time
    *    in `queries`). Always present, {} when clean. */
  private[graft] def fullLine(rows: Seq[(String, Double)], declaredRows: Int,
                              declaredTotal: Double, warm: Seq[(String, Double)],
                              isoRuns: Seq[(String, Seq[(Double, Option[Double])])],
                              flagged: Seq[(String, Double)],
                              history: Option[(Seq[(String, Double)], Int)],
                              skipped: Seq[(String, String)],
                              load: Seq[(String, Double)], sf: String,
                              codegen: Codegen,
                              failed: Seq[(String, String)] = Nil): String = {
    val isolated = isolatedMedians(isoRuns)
    val isoStats = isoRuns.map { case (n, rs) =>
      val colds = rs.map(_._1).sorted
      n -> (colds.head, colds(colds.size / 2), colds.last, rs.size)
    }
    def opt(key: String, obj: String, present: Boolean) =
      if (present) s""","$key":$obj""" else ""
    val stagedTotal = rows.map(_._2).sum - declaredTotal
    s"""{"metric":"total","value":$declaredTotal,"unit":"sec",""" +
      s""""declared_rows":$declaredRows,"staged_rows":${rows.size - declaredRows},""" +
      s""""staged_total_sec":$stagedTotal,"queries":${jsonObj(rows)(_.toString)}""" +
      opt("warm", jsonObj(warm)(_.toString), warm.nonEmpty) +
      opt("isolated", jsonObj(isolated.map(t => t._1 -> t._2))(_.toString), isolated.nonEmpty) +
      opt("isolated_warm", jsonObj(isolated.collect { case (k, _, Some(w)) => k -> w })(_.toString),
        isolated.exists(_._3.isDefined)) +
      opt("isolated_stats", jsonObj(isoStats) { case (mn, md, mx, n) =>
        s"""{"min":${jsonNum(mn, 3)},"med":${jsonNum(md, 3)},"max":${jsonNum(mx, 3)},"n":$n}"""
      }, isoStats.nonEmpty) +
      s""","shared_over_isolated_flags":${jsonObj(flagged)(jsonNum(_, 2))}""" +
      history.fold("") { case (flags, n) =>
        s""","vs_history_flags":${jsonObj(flags)(jsonNum(_, 2))},"history_rows":$n""" } +
      s""","isolation_skipped":${jsonObj(skipped)(jsonStr)}""" +
      s""","codegen":{"compiles":${codegen.compiles},"compile_ms":${codegen.compileMs},""" +
      s""""cache_max":${codegen.cacheMax}}""" +
      s""","failed":${jsonObj(failed)(jsonStr)}""" +
      s""","host_load":${jsonObj(load)(jsonNum(_, 2))},"sf":${jsonStr(sf)}}"""
  }

  /** Compact driver line (r16 verdict item 1): the driver's BENCH artifact
    * keeps only a ~2000-char stdout TAIL, so the full ~10 KB line has NEVER
    * been parseable there — every BENCH_r10–r16 carries `"parsed": null`
    * and the driver's PERF per-query comparison has been empty for seven
    * rounds. This summary fits the tail: the contract keys
    * (metric/value/unit/queries/sf) with `queries` trimmed to the slowest
    * rows until the whole line fits `maxChars`, plus `rows_shown`/
    * `rows_total` (so truncation is explicit, never silent), the count of
    * rows that threw (`failed_rows`; the full line names them) and a
    * pointer to the full artifact. The FULL line still prints and persists
    * with every row — nothing leaves the record; the tail just gains a line
    * it can parse. PURE (BenchSpec pins the size bound and the trimming). */
  private[graft] def compactLine(declaredTotal: Double, declaredRows: Int,
                                 stagedRows: Int, stagedTotal: Double,
                                 allRows: Seq[(String, Double)], sf: String,
                                 cpus: String, fullArtifact: String,
                                 maxChars: Int = 1800, failedRows: Int = 0): String = {
    val sorted = allRows.sortBy(-_._2)
    def render(n: Int): String = {
      val shown = sorted.take(math.max(n, 1))
      s"""{"metric":"total","value":${jsonNum(declaredTotal, 3)},"unit":"sec",""" +
        s""""declared_rows":$declaredRows,"staged_rows":$stagedRows,""" +
        s""""staged_total_sec":${jsonNum(stagedTotal, 2)},"cpus":${jsonStr(cpus)},""" +
        s""""queries":${jsonObj(shown)(jsonNum(_, 2))},""" +
        s""""rows_shown":${shown.size},"rows_total":${sorted.size},""" +
        s""""failed_rows":$failedRows,""" +
        s""""full_artifact":${jsonStr(fullArtifact)},"sf":${jsonStr(sf)}}"""
    }
    Iterator.iterate(40)(_ - 5)
      .map(n => (n, render(n)))
      .collectFirst { case (n, s) if s.length <= maxChars || n <= 1 => s }
      .getOrElse(render(1))
  }

  /** 1-minute system load average — the r15/r14 postmortems both traced
    * artifact pollution to co-resident build/test JVMs, with every in-JVM
    * metric flat. Stamping the load into the artifact lets a reader
    * adjudicate "contended run" from the artifact alone. The MXBean reads
    * /proc/loadavg itself on Linux; -1 (unsupported platform) lands in
    * the stamp as-is — self-describing, and below every warning bar. */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** The one row protocol: Bench times every row, declared or staged,
    * through [[row]], and builds every untimed setup that rows share
    * through [[family]].
    *
    * [[row]] skips a name `SPARK_GRAFT_ONLY` does not select. Otherwise it
    * runs the row's warm-up, times `q` once and, under SPARK_GRAFT_TWICE,
    * times it again into `warm`. A row that mutates its store takes
    * neither the warm-up nor the re-time: its op consumed its own
    * precondition. `release` frees the block store after every timed run,
    * outside the timed region. A row that throws gets no time: it lands in
    * `failed` with its message, so it never reads as a fast row.
    *
    * [[family]] runs its build only when one of its rows is selected. A
    * build that throws fails each of its selected rows that has not run.
    * Its temp dirs and tables are dropped in a `finally`, so a row that
    * throws never leaks its store. */
  private[graft] final class Rows(only: Option[Set[String]], twice: Boolean,
                                  release: () => Unit,
                                  drop: (Seq[String], Seq[String]) => Unit) {
    val times = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val warm = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def selected(name: String): Boolean = only.forall(_(name))

    private def timed(q: => Unit): Double = {
      val t0 = System.nanoTime()
      try { q; (System.nanoTime() - t0) / 1e9 } finally release()
    }

    private def fail(names: Seq[String], e: Throwable): Unit = names.foreach { n =>
      val msg = Option(e.getMessage).getOrElse(e.toString)
      System.err.println(s"[bench] $n failed: $msg")
      failed(n) = msg
    }

    def row(name: String, warmup: => Unit = (), mutating: Boolean = false)(q: => Unit): Unit =
      if (selected(name)) try {
        if (!mutating) warmup
        val d = timed(q)
        val w = if (twice && !mutating) Some(timed(q)) else None
        times += name -> d
        w.foreach(warm += name -> _)
      } catch { case e: Throwable => fail(Seq(name), e) }

    /** The temp dirs and catalog tables one family builds. */
    final class Scratch {
      private[Rows] val dirs, tables = scala.collection.mutable.ListBuffer.empty[String]
      def dir(prefix: String): String = {
        val d = java.nio.file.Files.createTempDirectory(prefix).toString
        dirs += d
        d
      }
      def table(names: String*): Unit = tables ++= names
    }

    def family(names: String*)(build: Scratch => Unit): Unit =
      if (names.exists(selected)) {
        val s = new Scratch
        try build(s)
        catch { case e: Throwable =>
          fail(names.filter(n => selected(n) && !failed.contains(n) && !times.exists(_._1 == n)), e)
        } finally drop(s.dirs.toSeq, s.tables.toSeq)
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // idle-host gate (r15 verdict item 6): sample BEFORE Spark starts —
    // a warm host here means another JVM is competing for the cores the
    // shared pass is about to time. Warn loudly; the stamp lands in the
    // artifact either way so a third party can re-adjudicate.
    val loadStart = loadAvg()
    if (loadStart > 4.0)
      System.err.println(f"[bench] WARNING host load $loadStart%.1f at start " +
        "— co-resident JVMs pollute shared figures (the r14/r15 lesson); " +
        "quiesce builds/tests before trusting this artifact")
    val spark = GraftSession.build("graft-bench", s"local[$cpus]", cpus)
    // —— shared-run pollution control (r11 verdict item 1) ————————————
    // The r11 artifact rose 255.8 → 284.5 s while isolated figures held:
    // heavy staged/graph rows late in the suite paid for state the shared
    // JVM accumulated and never released — eager localCheckpoint blocks
    // pinned in the block manager by every prior row (released only if the
    // driver GCs), cached relations, and the temp stores/catalog entries
    // of earlier staged rows. scrub() releases all of it deterministically
    // after every staged family (and once after the declared pass), so a
    // staged row's shared figure measures its plan again, not the suite's
    // sediment.
    def scrubLight(): Unit = {
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(r =>
        try { r.unpersist(false); () } catch { case _: Throwable => () })
    }
    def scrub(dirs: Seq[String], tables: Seq[String]): Unit = {
      tables.foreach(t =>
        try spark.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Throwable => () })
      scrubLight()
      dirs.foreach { d =>
        try {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          ()
        } catch { case _: Throwable => () }
      }
    }
    // Optional isolation: SPARK_GRAFT_ONLY=x03_langid,x05_token_count times
    // just those rows (same warmup protocol) — for separating a real
    // per-query regression from shared-run GC/JIT interference.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // SPARK_GRAFT_TWICE (set by the isolation pass's children): time each
    // row a second time in the same JVM and emit it as a "warm" map — the
    // first number is the cold fresh-JVM figure, the second is the
    // steady-state plan cost with JIT fully settled. Sequential cold
    // children swing 6.4–9.3 s on the identical x14 run (JIT/scheduler
    // noise); the warm rerun is the stable number a regression check
    // should diff. Per-row block release (r16 verdict item 7): the pinned
    // queries (pinnedOrder/x97From/x113…) each leave ~30 MB of
    // localCheckpoint blocks; left until the end of the pass, they drifted
    // the sub-second rows late in the suite (124 of 271 rows >10% off their
    // medians in the r16 controlled close), so every timed run releases
    // them.
    def rowsOf(twice: Boolean) = new Rows(only, twice, () => scrubLight(), scrub)
    val rows = rowsOf(sys.env.contains("SPARK_GRAFT_TWICE"))
    val queries = SparkEntry.queries.filter { case (k, _) => rows.selected(k) }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val tinyDir = "/root/testdata/sf0.001"
    // Catalog + ANALYZE before timing: every query then plans with CBO
    // stats (row counts / NDVs / min-max), as a maintained warehouse would.
    try GraftCatalog.install(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] analyze skipped: ${e.getMessage}") }
    // Warm EVERY query once on the smallest sf (50-6000 rows, seconds total)
    // so the timed run skips the first-call codegen compile + JIT of each
    // plan it shares with the warm-up — e.g. x12's SRP kernel costs ~3s of
    // one-time compilation that a single global warmup query never touches.
    // Only in part: a full run generates thousands of classes, more than the
    // codegen cache holds, and some plans differ between sf0.001 and the
    // timed sf. One full sf0.01 run (4 cores) still compiled 5,413 classes
    // (96 s) in its timed rows at Spark's 100-entry default and 3,423 (51 s)
    // at GraftSession.CodegenCacheMaxEntries — the artifact's `codegen`
    // object carries the count. An ONLY/isolation run warms
    // 3×: a full pass's 90+ sibling warmups cross C2 compile thresholds on
    // shared code paths that one warmup doesn't, and the gap is real — x14
    // (multi-job CC iteration, the worst case) timed 9.8 s in a fresh JVM
    // after one warmup vs 6.4 s after three (measured 2026-08-13). Extra
    // warmups run at sf0.001 so they cost ~1 s each, not query time.
    val warmupReps = if (only.isDefined) 3 else 1
    (1 to warmupReps).foreach { _ =>
      queries.values.foreach { fn =>
        try noop(fn(spark, tinyDir)) catch { case _: Throwable => () }
      }
    }
    val codegenStart = codegenNow(spark)
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) => rows.row(name)(noop(fn(spark, sfDir))) }
    val declared = rows.times.toList
    // release the declared pass's accumulated blocks before any staged row
    scrubLight()
    // Staged-row warm-up: in an ONLY/isolation child, first mirror the
    // declared rows' warmup protocol (3× at sf0.001) on the SAME code path
    // — a staged row timed in a fresh JVM with zero warmup would carry
    // first-call codegen/JIT that its shared-run figure (taken in a JVM
    // warmed by 243 sibling queries) never pays, and the isolated-vs-shared
    // comparison is exactly what the isolation pass exists for.
    def tiny(q: String => Unit): Unit =
      if (only.isDefined) (1 to 3).foreach { _ =>
        try q(tinyDir) catch { case _: Throwable => () }
      }
    def staged(name: String)(q: String => org.apache.spark.sql.DataFrame): Unit =
      rows.row(name, warmup = tiny(d => noop(q(d))))(noop(q(sfDir)))
    // Store rows: one warm materialization at sfDir (codegen/JIT — the
    // protocol every store row has used since r8) before the timed run; a
    // mutating row takes neither it nor the re-time.
    def stored(name: String, mutating: Boolean = false)(q: => Unit): Unit =
      rows.row(name, warmup = q, mutating = mutating)(q)
    // Pipeline measurement: cluster resolution over q53's ALREADY-computed
    // pairs (materialized to parquet untimed), isolating the CC stage — the
    // declared x14 stays standalone for the oracle, but a real dedup
    // pipeline reuses the pair list and pays only this cost. r8 verdict
    // item 5: every graph CONSUMER gets a *_only staged row over the same
    // materialized pair parquet, so the bench separates "pair scan" (priced
    // once, q53's row) from each marginal analytic.
    def graph(r: Rows, gd: String): Unit =
      r.family("x14_cc_only", "x33_survivors_only", "x48_split_only", "x82_hist_only",
               "x97_audit_only", "x112_tri_only", "x118_abl_only", "x121_synd_only",
               "x186_core_only") { f =>
        import org.apache.spark.sql.functions.{col, split}
        import operators.TextOps
        val pairsDir = f.dir("x14pairs")
        val toks = Tables.documents(spark, gd)
          .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
        graft.functions.MinHashLSH.verifiedPairs(toks, 0.8)
          .select("id_a", "id_b", "j").write.mode("overwrite").parquet(pairsDir)
        val pairs = spark.read.parquet(pairsDir)
        r.row("x14_cc_only")(noop(TextOps.x14DedupClustersFrom(spark, gd, pairs)))
        // later pipeline stages over the CC stage's MATERIALIZED output: CC
        // runs untimed to parquet; survivor selection alone is one window +
        // one agg, the x48 split alone is one join + hash CASE + 3-group agg
        r.family("x33_survivors_only", "x48_split_only") { g =>
          val labelsDir = g.dir("x14labels")
          TextOps.x14DedupClustersFrom(spark, gd, pairs)
            .select("doc_id", "cluster_id").write.mode("overwrite").parquet(labelsDir)
          val labels = spark.read.parquet(labelsDir)
          r.row("x33_survivors_only")(noop(TextOps.x33SurvivorsFromLabels(spark, gd, labels)))
          r.row("x48_split_only")(
            noop(TextOps.x48Aggregate(TextOps.x48SplitFromLabels(spark, gd, labels))))
        }
        r.row("x82_hist_only")(noop(TextOps.x82From(spark, gd, pairs)))
        r.row("x97_audit_only")(noop(TextOps.x97From(spark, gd, pairs)))
        r.row("x112_tri_only")(noop(TextOps.x112From(spark, gd, pairs)))
        r.row("x118_abl_only")(noop(TextOps.x118From(spark, gd, pairs)))
        r.row("x121_synd_only")(noop(TextOps.x121From(spark, gd, pairs)))
        r.row("x186_core_only")(noop(TextOps.x186KCoreFrom(spark, gd, pairs)))
      }
    // the family's warm-up is the whole family at sf0.001, through rows whose
    // times are discarded (so its warm re-times happen only at sfDir)
    tiny(d => graph(rowsOf(twice = false), d))
    graph(rows, sfDir)
    // x77's production path: LSH-blocked candidates → levenshtein verify —
    // priced against the declared brute-force x77 row (r8 verdict item 3)
    staged("x77_lsh")(d => operators.TextOps.x77FuzzyLsh(spark, d))
    // x148's production path: IVF candidate edges → the same mutual-top-1
    // kernel — priced against the declared brute-force n² row (r9 item 1)
    staged("x148_ivf")(d => operators.VectorOps.x148MutualNnIvf(spark, d))
    // x148's ARBITRATED path (r11 item 3): the sampled recall gate walks
    // the nprobe curve; on this isotropic fixture it rejects the index,
    // so the row prices probe + exact fallback — the entry a production
    // pipeline actually calls
    staged("x148_auto")(d => operators.VectorOps.x148AutoMutualNn(spark, d))
    // x08's ARBITRATED search (the serving-layer gate, x148_auto's top-k
    // sibling): on this isotropic fixture the gate rejects every nprobe
    // and the row prices probe + exact-scan fallback
    staged("x08_auto")(d => operators.VectorOps.x08AutoSearch(spark, d))
    // x171's production path: banded char-gram candidates → the same
    // Levenshtein adjudication kernel — priced against the declared
    // length-blocked row (whose Σ|block|² candidate volume is the
    // 100×-scale concern the banded front end removes)
    staged("x171_banded")(d => operators.TextOps.x171BandedEditDistance(spark, d))
    // x93's tolerance-accepting shape: 2×32 bands (≈1e-4 miss at the j=0.5
    // floor) vs the declared verified-exact 2×128 row — the band-depth
    // trade priced per-round instead of only in BASELINE's bandstress table
    staged("x93_b32")(d => operators.TextOps.x93ContainmentWith(spark, d, numPerm = 64))
    // Layout measurement: x83's BM25 served from the persisted postings
    // store (build untimed — write-once index, amortized like bucketing).
    // Quantifies the inverted-index contract vs the inline scan+explode.
    rows.family("x83_store") { f =>
      val store = new sources.PostingsStore(spark, f.dir("postings"))
      store.build(Tables.documents(spark, sfDir))
      stored("x83_store")(noop(store.bm25(Seq("hash", "join", "filter"), k = 20)))
    }
    // Layout measurement: q10's exact contract query over the co-bucketed
    // orders/lineitem pair (write cost untimed — bucketing is a write-once
    // layout decision amortized over every subsequent join). Quantifies
    // what deleting the join Exchange+Sort is worth vs the plain q10 row.
    rows.family("q10_bucketed") { f =>
      import org.apache.spark.sql.functions.{col, lit, sum}
      import graft.functions.Rounding.dround
      f.table("orders_bucketed", "lineitem_bucketed")
      sources.BucketedFacts.writePair(spark, sfDir, f.dir("q10bkt"))
      stored("q10_bucketed")(noop(spark.table("orders_bucketed").hint("merge")
        .join(spark.table("lineitem_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("rev"))
        .orderBy(col("rev").desc, col("o_orderkey"))
        .limit(100)))
    }
    // Layout measurement: the TS contract queries over the engine's OWN
    // storage (BucketedLayout day-partitioned, series-bucketed) — the store
    // write is untimed (write-once, amortized like bucketing above).
    // Quantifies what the layout buys q47 (day pruning + clustered series)
    // and q48 (bucket = partition column; ts never read) vs the flat rows.
    rows.family("q47_store", "q48_store") { f =>
      val storeDir = f.dir("tsstore")
      // bucket count sized to the data: at sf0.1 a day holds ~20k rows, so
      // 2 files/day keeps file-open overhead from dominating a layout
      // whose wins (directory pruning, clustered series runs) are sized
      // for days that are thousands of times larger; at 100 TB the same
      // knob goes UP for parallelism
      sources.BucketedLayout.migrate(spark, sfDir, storeDir, seriesBuckets = 2)
      stored("q47_store")(noop(operators.TimeSeriesOps.q47Store(spark, storeDir)))
      stored("q48_store")(noop(operators.TimeSeriesOps.q48Store(spark, storeDir)))
    }
    // Retention measurement (r13 verdict item 5): dropOlderThan(day) on
    // the bucketed layout + the RollupStore cascade — catena's
    // whole-partition drop. Store builds untimed; the timed op is pure
    // directory metadata (one delete per retired day × resolution), so
    // this row pins that retention stays O(days), never O(rows).
    rows.family("retention_drop") { f =>
      val evDir = f.dir("retn-events")
      val ruDir = f.dir("retn-rollup")
      sources.BucketedLayout.migrate(spark, sfDir, evDir, seriesBuckets = 2)
      sources.RollupStore.build(
        sources.BucketedLayout.readEvents(spark, evDir).drop("day"), ruDir)
      val cutoffDayId = java.time.Instant.parse("2024-01-10T00:00:00Z")
        .toEpochMilli * 1000L / (24L * 3600L * 1000000L)
      stored("retention_drop", mutating = true) {
        sources.BucketedLayout.dropDaysBefore(spark, evDir, "2024-01-10")
        sources.RollupStore.dropDaysBefore(spark, ruDir, cutoffDayId)
      }
    }
    // Pipeline measurement: x42's increment against the persisted
    // SignatureStore (store write untimed — computed once at ingest,
    // amortized over every increment). Quantifies what the store buys vs
    // the declared x42 row, which recomputes the corpus's bands and sets
    // from the raw table on every call.
    rows.family("x42_store") { f =>
      import org.apache.spark.sql.functions.{col, split, pmod, lit}
      f.table("sig_docs", "sig_sets", "sig_splits")
      val toks = Tables.documents(spark, sfDir)
        .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
      sources.SignatureStore.write(spark,
        toks.filter(pmod(col("id"), lit(7L)) =!= 0), f.dir("sigstore"),
        buckets = cpus.toInt)
      stored("x42_store")(noop(sources.SignatureStore.incrementPairs(spark,
        toks.filter(pmod(col("id"), lit(7L)) === 0), 0.8)))
    }
    // Incremental cluster maintenance: mergeLabels over the standing
    // labels + the increment's pairs (both materialized untimed — the
    // standing state a production pipeline already holds) vs x14_cc_only,
    // the full CC recompute the increment avoids.
    rows.family("x42_cc_incr") { f =>
      import org.apache.spark.sql.functions.{col, split, pmod, lit}
      val tmpDir = f.dir("ccincr")
      val toks = Tables.documents(spark, sfDir)
        .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
      val corpus = toks.filter(pmod(col("id"), lit(7L)) =!= 0)
      val batch = toks.filter(pmod(col("id"), lit(7L)) === 0)
      functions.ConnectedComponents.labels(corpus.select("id"),
          functions.MinHashLSH.verifiedPairs(corpus, 0.8).select("id_a", "id_b"))
        .write.parquet(s"$tmpDir/labels")
      functions.MinHashLSH.crossVerifiedPairs(batch, corpus, 0.8).select("id_a", "id_b")
        .union(functions.MinHashLSH.verifiedPairs(batch, 0.8).select("id_a", "id_b"))
        .write.parquet(s"$tmpDir/pairs")
      stored("x42_cc_incr")(noop(functions.ConnectedComponents.mergeLabels(
        spark.read.parquet(s"$tmpDir/labels"), batch.select("id"),
        spark.read.parquet(s"$tmpDir/pairs"))))
    }
    // Layout measurement: x08's IVF search over the cell-partitioned
    // VectorStore (build untimed — write-once, amortized like the other
    // stores). Quantifies what persisting the assignment buys vs the
    // declared x08 row, which re-derives centroids + assigns the whole
    // corpus on every call.
    rows.family("x08_store") { f =>
      import org.apache.spark.sql.functions.col
      val store = new VectorStore(spark, f.dir("vecstore"))
      store.build(Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
      stored("x08_store")(noop(store.searchContractProbes()))
    }
    // Layout measurement: x58's 2-D box over the z-ordered layout (write
    // untimed — write-once, amortized). Quantifies what Morton clustering
    // + the sidecar min/max index buy vs the declared x58 row's flat scan:
    // file-level skipping on BOTH box dimensions before any task launches.
    rows.family("x58_zorder") { f =>
      val storeDir = f.dir("zstore")
      sources.ZOrderLayout.writeEvents(Tables.events(spark, sfDir), storeDir)
      val day10 = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
      val day15 = java.time.Instant.parse("2024-01-15T00:00:00Z").toEpochMilli * 1000L
      stored("x58_zorder")(noop(operators.TimeSeriesOps.boxAgg(
        sources.ZOrderLayout.readBox(spark, storeDir, 3, 7, day10, day15))))
    }
    // Mutation measurement: applying x56's classified diff to the
    // MergeStore (initial load untimed) vs x56_rewrite, the full-table
    // rewrite the merge avoids. Copy-on-write cost is O(changed buckets).
    // Both rows MUTATE their store — the one staged family that cannot
    // carry a warm re-time (the op consumed its own precondition).
    rows.family("x56_merge", "x56_rewrite") { _ =>
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val docs = Tables.documents(spark, sfDir)
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 1)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 2)
        .withColumn("text", when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .withColumn("n_chars", when(col("doc_id") % 10 === 3,
          col("n_chars") + 5).otherwise(col("n_chars")))
      val upserts = newSnap.filter(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 3)
      val deletes = docs.filter(col("doc_id") % 10 === 2).select("doc_id")
      def loaded(name: String)(op: String => Unit): Unit = rows.family(name) { f =>
        val dir = f.dir("mergestore")
        sources.MergeStore.write(oldSnap, dir, buckets = 16)
        stored(name, mutating = true)(op(dir))
      }
      loaded("x56_merge")(dir => sources.MergeStore.merge(spark, dir, upserts, deletes))
      loaded("x56_rewrite")(dir => sources.MergeStore.write(newSnap, dir, buckets = 16))
    }
    // Rollup measurement: x64's misaligned range contract answered through
    // the RollupStore router (build untimed — the once-per-partition
    // materialization) vs the declared x64 row's raw scan.
    rows.family("x64_rollup") { f =>
      val storeDir = f.dir("rollup")
      sources.RollupStore.build(Tables.events(spark, sfDir), storeDir)
      stored("x64_rollup")(noop(operators.TimeSeriesOps.rangeContract(
        sources.RollupStore.rangeAgg(spark, storeDir, Tables.events(spark, sfDir),
          operators.TimeSeriesOps.X64T0, operators.TimeSeriesOps.X64T1))))
    }
    // Isolation pass: re-time the N slowest shared-run queries, EACH IN A
    // FRESH JVM (child process → cold JIT/GC, the same protocol a judge
    // uses to separate real regressions from shared-run interference), and
    // emit both numbers side by side so the round artifact carries its own
    // isolated figures. Defaults to slowest:10 on full runs (r8 item 7:
    // every row over ~5 s ships an isolated number) —
    // SPARK_GRAFT_ISOLATE=slowest:N overrides, =off disables. Child
    // failures/timeouts degrade softly (row skipped, shared line intact).
    // The parent session stops BEFORE the children run: a live local[32]
    // executor pool holding the shared pass's heap inflated child timings
    // ~70% (x14 9.9 s with the parent alive vs 5.85 s on an idle machine
    // — measured 2026-08-13), defeating the pass's whole purpose.
    // Round-curated watchlist (r9 item 4): rows whose SHARED figure moved
    // suspiciously vs the prior round get pinned isolated numbers in the
    // artifact regardless of rank. One name per line, '#' comments; the
    // file is re-curated each round (absent → no extras).
    val watch: Seq[String] = try {
      val p = java.nio.file.Paths.get("tools/isolate_watch.txt")
      if (java.nio.file.Files.exists(p))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      else Nil
    } catch { case _: Throwable => Nil }
    // Committed per-row controlled medians (r15 verdict item 4): the
    // cross-ROUND anchor the same-run flags cannot provide. A JSON object
    // {"row": seconds, ...}, updated each round from the round's
    // controlled runs (BASELINE.md records the protocol); only its numeric
    // top-level members are medians. Absent file → no history flags,
    // previous behavior.
    val history: Map[String, Double] = try {
      val p = new java.io.File("tools/bench_medians.json")
      if (!p.exists) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(p).properties.asScala
          .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_medians.json unreadable: ${e.getMessage}")
      Map.empty
    }
    // r10 verdict item 2: the isolation set draws from ALL rows — declared
    // AND staged/store — so a staged row can never again ship a >2× move
    // without an isolated figure (x77_lsh and x186_core_only both slipped
    // through r10's declared-only slowest-10 exactly this way).
    val allRows = rows.times.toList
    // Isolation spec grammar: "off" | "slowest:N[,heavy:T:R]".
    //  - slowest:N — the N slowest shared rows, one fresh-JVM child each.
    //  - heavy:T:R — every row whose SHARED figure exceeds T seconds gets
    //    R children; the artifact reports the per-row min/median/max and
    //    the flag adjudication uses the MEDIAN (r13 verdict item 1: two
    //    runs of identical code swung 1.34×, so a single cold child is
    //    too noisy to certify the heavy tail — median-of-3 is the round
    //    artifact's stable number).
    // Round 15 (the r14 postmortem — the driver's bench died rc=124 with
    // NO parsed artifact because the isolation pass alone ran past the
    // driver's wall budget):
    //  - the pass runs under a WALL BUDGET (SPARK_GRAFT_ISOLATE_BUDGET
    //    seconds, default 600): one coverage child per planned row first,
    //    then the extra median-of-R children worst-rows-first; rows the
    //    budget cuts land in the artifact's `isolation_skipped` map —
    //    degradation is explicit, never silent (no more r14 take(16));
    //  - the artifact file is written BEFORE the first child and
    //    re-written after EVERY child, so even a killed run leaves the
    //    complete shared totals plus whatever isolation fit.
    val isoSpec = sys.env.getOrElse("SPARK_GRAFT_ISOLATE", "slowest:10,heavy:5:3")
    val isoBudgetSec = sys.env.get("SPARK_GRAFT_ISOLATE_BUDGET")
      .flatMap(_.toIntOption).getOrElse(600)
    val sharedMap = allRows.toMap
    val (plan, _) =
      if (only.nonEmpty) (Nil, None) // only after a full shared pass
      else planIsolation(allRows, isoSpec, watch, history)
    val plannedNames = plan.map(_._1)
    // history flags are a FULL-run concept: an ONLY run's per-row figures
    // carry unamortized session cost (BASELINE.md r16: up to ~1.8× the
    // committed median on sub-second rows), so computing flags there
    // would stamp spurious entries into the very artifacts adjudication
    // reads. ONLY artifacts carry neither key; the official artifact
    // always carries both (see renderLine).
    val histFlags = if (only.isEmpty) historyFlags(allRows, history) else Nil
    // per-row fresh-JVM children observed so far: (cold, warm) pairs
    val runsByName = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ListBuffer[(Double, Option[Double])]]
    val skipReasons = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def isoRuns = runsByName.toSeq.map { case (n, runs) => n -> runs.toSeq }
    // Structural adjudication (r11 verdict item 1c): any row whose SHARED
    // figure is ≥2× its isolated MEDIAN in the SAME artifact is flagged in
    // the line itself — BASELINE.md must carry a named cause for each.
    def flaggedNow: Seq[(String, Double)] =
      isolatedMedians(isoRuns).flatMap { case (k, isoSec, _) =>
        sharedMap.get(k).filter(sh => isoSec > 0 && sh >= 2 * isoSec)
          .map(sh => k -> sh / isoSec)
      }
    // load samples the isolation loop fills in as it goes (renderLine is
    // re-rendered incrementally after every child)
    var loadPreIso: Option[Double] = None
    var maxChildLoad: Option[Double] = None
    // read once: the isolation children run in their own JVMs, after this
    // session stops
    val codegen = codegenNow(spark).since(codegenStart)
    def renderLine(): String = fullLine(
      allRows, declared.size, declared.map(_._2).sum, rows.warm.toList,
      isoRuns, flaggedNow, if (only.isEmpty) Some((histFlags, history.size)) else None,
      plannedNames.filterNot(runsByName.contains)
        .map(n => n -> skipReasons.getOrElse(n, "pending")),
      Seq("start" -> loadStart) ++ loadPreIso.map("pre_isolation" -> _) ++
        maxChildLoad.map("max_pre_child" -> _),
      sfDir, codegen, rows.failed.toSeq)
    // The driver's artifact keeps only the stdout TAIL, which truncates the
    // per-query map on a 95-query run — persist the complete line to a file
    // (override path via SPARK_GRAFT_BENCH_OUT) so every round's numbers
    // survive verbatim. A SPARK_GRAFT_ONLY partial run does NOT write the
    // default path: it would silently clobber the last full-round record
    // the file exists to preserve (pass BENCH_OUT explicitly to capture it).
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse(
      if (only.isDefined) None
      else Some(sys.props.getOrElse("user.dir", ".") + "/bench_last.json"))
    // Round-stamped FULL artifact (r11 verdict item 6): BENCH_r*.json as
    // written by the driver carries "parsed": null + a truncated tail, so
    // cross-round per-row diffs required tail-scraping. Stamp the complete
    // line with the NEXT round number (1 + highest driver artifact in cwd)
    // so BENCH_full_r<N>.json sits beside the driver's BENCH_r<N>.json
    // with the full queries/warm/isolated dicts. The path is computed ONCE
    // and re-written incrementally with the main artifact.
    val fullStampPath: Option[java.nio.file.Path] =
      if (only.isEmpty && !sys.env.contains("SPARK_GRAFT_BENCH_OUT")) try {
        val cwd = java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."))
        val re = "BENCH_r0*([0-9]+)\\.json".r
        val listing = java.nio.file.Files.list(cwd)
        val next = try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .flatMap(p => re.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
            .foldLeft(0)(math.max) + 1
        } finally listing.close()
        Some(cwd.resolve(f"BENCH_full_r$next%02d.json"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not resolve full-artifact path: ${e.getMessage}")
        None
      } else None
    // temp-sibling + ATOMIC_MOVE (r15 ADVICE): the incremental rewrite
    // runs after every isolation child, and the wall-budget kill it
    // defends against (rc=124) could land MID-write — a truncating
    // in-place write would then leave a torn artifact where the old
    // single-write code left the prior complete line. Every observable
    // file state is now a complete line.
    def persist(line: String): Unit =
      (outPath.map(java.nio.file.Paths.get(_)).toSeq ++ fullStampPath).foreach { p =>
        try {
          val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
          java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
          try java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
            java.nio.file.Files.move(tmp, p,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          ()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] could not persist $p: ${e.getMessage}")
        }
      }
    // shared artifact on disk BEFORE the first child — a timeout after
    // this point can no longer cost the round its parsed totals
    persist(renderLine())
    if (plan.nonEmpty) {
      val maxChildren = plan.map(_._2).sum
      System.err.println(s"[bench] isolation plan: ${plan.size} rows, up to " +
        s"$maxChildren fresh-JVM children (${plan.size} coverage + " +
        s"${maxChildren - plan.size} median reps), wall budget ${isoBudgetSec}s " +
        "(SPARK_GRAFT_ISOLATE_BUDGET)")
      // The parent session stops BEFORE the children run: a live local[32]
      // executor pool holding the shared pass's heap inflated child timings
      // ~70% (x14 9.9 s with the parent alive vs 5.85 s on an idle machine
      // — measured 2026-08-13), defeating the pass's whole purpose.
      spark.stop()
      loadPreIso = Some(loadAvg())
      val t0 = java.lang.System.nanoTime()
      def elapsedSec = (java.lang.System.nanoTime() - t0) / 1e9
      isolationSchedule(plan, histFlags.map(_._1).toSet).foreach { name =>
        if (elapsedSec >= isoBudgetSec) {
          if (!runsByName.contains(name) && !skipReasons.contains(name))
            skipReasons(name) = "budget"
        } else {
          val l = loadAvg()
          if (maxChildLoad.forall(_ < l)) maxChildLoad = Some(l)
          // a child may not outlive the remaining budget by more than its
          // grace minute — one hung child must not eat the whole pass
          val childTimeout =
            math.min(480L, math.max(90L, (isoBudgetSec - elapsedSec).toLong + 60L))
          isolateOne(name, sfDir, cpus, childTimeout) match {
            case Some((_, cold, warm)) =>
              runsByName.getOrElseUpdate(name,
                scala.collection.mutable.ListBuffer.empty) += ((cold, warm))
            case None =>
              if (!runsByName.contains(name)) skipReasons(name) = "child_failed"
          }
          persist(renderLine()) // incremental: every child's result lands
        }
      }
      val cut = plannedNames.count(n => skipReasons.get(n).contains("budget"))
      if (cut > 0)
        System.err.println(s"[bench] isolation budget exhausted after " +
          f"$elapsedSec%.0f s — $cut planned rows recorded as " +
          "isolation_skipped=budget (raise SPARK_GRAFT_ISOLATE_BUDGET to cover them)")
    }
    flaggedNow.foreach { case (k, r) =>
      System.err.println(f"[bench] FLAG $k: shared ${sharedMap(k)}%.2f s is " +
        f"$r%.1fx its isolated figure — BASELINE.md must adjudicate this row")
    }
    histFlags.foreach { case (k, r) =>
      // say what actually happened: with isolation off (or the row
      // somehow unplanned) no child adjudicated it — don't claim one did
      val ran = if (runsByName.contains(k))
        s"its ${runsByName(k).size} front-loaded children are in isolated_stats"
      else "NO child ran for it (isolation off or budget-cut)"
      System.err.println(f"[bench] HISTORY FLAG $k: shared ${sharedMap(k)}%.2f s " +
        f"is $r%.1fx its committed controlled median — $ran; adjudicate or " +
        "update tools/bench_medians.json with a cause")
    }
    val line = renderLine()
    println(line)
    persist(line)
    // FINAL stdout line: the compact summary the driver's 2000-char tail
    // can hold (r16 verdict item 1) — printed LAST so a tail parse finds a
    // complete JSON object instead of the full line's truncated head.
    val declaredTotal = declared.map(_._2).sum
    println(compactLine(
      declaredTotal, declared.size, allRows.size - declared.size,
      allRows.map(_._2).sum - declaredTotal, allRows, sfDir, cpus,
      outPath.map(p => java.nio.file.Paths.get(p).getFileName.toString)
        .orElse(fullStampPath.map(_.getFileName.toString))
        .getOrElse("bench_last.json"), failedRows = rows.failed.size))
    if (plan.isEmpty) spark.stop()
  }
}
