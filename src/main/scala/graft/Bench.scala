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
    * child can start Spark under Java 17 the same way. */
  private def isolateOne(name: String, sfDir: String, cpus: String,
                         timeoutSec: Long = 480L): Option[(String, Double, Option[Double])] = try {
    import scala.jdk.CollectionConverters._
    val javaBin = sys.props("java.home") + "/bin/java"
    val jvmArgs = forwardableJvmArgs()
    val out = java.nio.file.Files.createTempFile(s"bench-iso-$name", ".json")
    val logf = java.nio.file.Files.createTempFile(s"bench-iso-$name", ".log").toFile
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", currentClasspath(), "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    pb.redirectErrorStream(true)
    pb.redirectOutput(logf)
    pb.environment().put("SPARK_GRAFT_ONLY", name)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
    pb.environment().put("SPARK_GRAFT_TWICE", "1")
    pb.environment().remove("SPARK_GRAFT_ISOLATE")
    val proc = pb.start()
    if (!proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      System.err.println(s"[bench] isolate $name timed out"); return None
    }
    val line = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    val re = (java.util.regex.Pattern.quote(jsonStr(name)) + ":([0-9.eE+-]+)").r
    // first occurrence = the cold "queries" entry; the "warm" map (second
    // same-JVM run) follows it in the line when the child ran under TWICE
    val warm = Some(line.indexOf("\"warm\":")).filter(_ >= 0)
      .flatMap(i => re.findFirstMatchIn(line.substring(i)).map(_.group(1).toDouble))
    re.findFirstMatchIn(line).map(m => (name, m.group(1).toDouble, warm)).orElse {
      System.err.println(s"[bench] isolate $name: no timing in child output " +
        s"(exit ${proc.exitValue()}, log ${logf.getPath})")
      None
    }
  } catch { case e: Throwable =>
    System.err.println(s"[bench] isolate $name failed: ${e.getMessage}"); None
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
    *    that paid for recompiles is visible in the artifact. */
  private[graft] def fullLine(rows: Seq[(String, Double)], declaredRows: Int,
                              declaredTotal: Double, warm: Seq[(String, Double)],
                              isoRuns: Seq[(String, Seq[(Double, Option[Double])])],
                              flagged: Seq[(String, Double)],
                              history: Option[(Seq[(String, Double)], Int)],
                              skipped: Seq[(String, String)],
                              load: Seq[(String, Double)], sf: String,
                              codegen: Codegen): String = {
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
      s""","host_load":${jsonObj(load)(jsonNum(_, 2))},"sf":${jsonStr(sf)}}"""
  }

  /** Compact driver line (r16 verdict item 1): the driver's BENCH artifact
    * keeps only a ~2000-char stdout TAIL, so the full ~10 KB line has NEVER
    * been parseable there — every BENCH_r10–r16 carries `"parsed": null`
    * and the driver's PERF per-query comparison has been empty for seven
    * rounds. This summary fits the tail: the contract keys
    * (metric/value/unit/queries/sf) with `queries` trimmed to the slowest
    * rows until the whole line fits `maxChars`, plus `rows_shown`/
    * `rows_total` (so truncation is explicit, never silent) and a pointer
    * to the full artifact. The FULL line still prints and persists with
    * every row — nothing leaves the record; the tail just gains a line it
    * can parse. PURE (BenchSpec pins the size bound and the trimming). */
  private[graft] def compactLine(declaredTotal: Double, declaredRows: Int,
                                 stagedRows: Int, stagedTotal: Double,
                                 allRows: Seq[(String, Double)], sf: String,
                                 cpus: String, fullArtifact: String,
                                 maxChars: Int = 1800): String = {
    val sorted = allRows.sortBy(-_._2)
    def render(n: Int): String = {
      val shown = sorted.take(math.max(n, 1))
      s"""{"metric":"total","value":${jsonNum(declaredTotal, 3)},"unit":"sec",""" +
        s""""declared_rows":$declaredRows,"staged_rows":$stagedRows,""" +
        s""""staged_total_sec":${jsonNum(stagedTotal, 2)},"cpus":${jsonStr(cpus)},""" +
        s""""queries":${jsonObj(shown)(jsonNum(_, 2))},""" +
        s""""rows_shown":${shown.size},"rows_total":${sorted.size},""" +
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
    // Optional isolation: SPARK_GRAFT_ONLY=x03_langid,x05_token_count times
    // just those queries (same warmup protocol) — for separating a real
    // per-query regression from shared-run GC/JIT interference.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
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
        try fn(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }
    val codegenStart = codegenNow(spark)
    // SPARK_GRAFT_TWICE (set by the isolation pass's children): time each
    // query a second time in the same JVM and emit it as a "warm" map —
    // the first number is the cold fresh-JVM figure, the second is the
    // steady-state plan cost with JIT fully settled. Sequential cold
    // children swing 6.4–9.3 s on the identical x14 run (JIT/scheduler
    // noise); the warm rerun is the stable number a regression check
    // should diff. Idempotent STAGED rows join the warm map too (r11
    // verdict item 5) — only genuinely mutating rows (x56_merge/rewrite)
    // cannot be re-timed.
    val twice = sys.env.contains("SPARK_GRAFT_TWICE")
    val stagedWarm = scala.collection.mutable.ListBuffer[(String, Double)]()
    // —— shared-run pollution control (r11 verdict item 1) ————————————
    // The r11 artifact rose 255.8 → 284.5 s while isolated figures held:
    // heavy staged/graph rows late in the suite paid for state the shared
    // JVM accumulated and never released — eager localCheckpoint blocks
    // pinned in the block manager by every prior row (released only if the
    // driver GCs), cached relations, and the temp stores/catalog entries
    // of earlier staged rows. scrub() releases all of it deterministically
    // after every staged row (and once after the declared pass), so a
    // staged row's shared figure measures its plan again, not the suite's
    // sediment.
    def scrubLight(): Unit = {
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(r =>
        try { r.unpersist(false); () } catch { case _: Throwable => () })
    }
    def scrub(dirs: Seq[String], tables: Seq[String] = Nil): Unit = {
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
    // —— sediment instrumentation (r14 verdict item 3) ————————————————
    // SPARK_GRAFT_PROFILE=1 logs one [prof] line per timed row: heap, GC
    // time delta, JIT code-cache occupancy, loaded classes, codegen-cache
    // entries, block-store usage, and the local shuffle dirs' file count/
    // bytes — the candidate mechanisms behind the measured 1.9–2.4×
    // shared-over-isolated drift on heavy rows late in the suite. Opt-in:
    // the shuffle-dir walk is not free and belongs in experiments only.
    val profile = sys.env.contains("SPARK_GRAFT_PROFILE")
    lazy val gcBeans = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    }
    def profLine(name: String, wall: Double): Unit = if (profile) try {
      import scala.jdk.CollectionConverters._
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      val gcMs = gcBeans.map(_.getCollectionTime).sum
      val codeMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed).sum / (1 << 20)
      val classes = java.lang.management.ManagementFactory
        .getClassLoadingMXBean.getLoadedClassCount
      val codegen = try {
        val clazz = Class.forName(
          "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
        val mod = clazz.getField("MODULE$").get(null)
        val member = clazz.getDeclaredMethods.find(_.getName == "cache")
          .map { m => m.setAccessible(true); m.invoke(mod) }
          .orElse(clazz.getDeclaredFields.find(_.getName == "cache")
            .map { f => f.setAccessible(true); f.get(mod) })
        // a NonFateSharingLoadingCache in Spark 4 — take its public size()
        member.map(c => c.getClass.getMethod("size")
          .invoke(c).asInstanceOf[Long]).getOrElse(-1L)
      } catch { case _: Throwable => -1L }
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / (1 << 20)
      val rdds = spark.sparkContext.getPersistentRDDs.size
      var files = 0L; var bytes = 0L
      val tmpDir = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      val ls = java.nio.file.Files.list(tmpDir)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("blockmgr-") ||
                     p.getFileName.toString.startsWith("spark-"))
        .foreach { root =>
          val w = java.nio.file.Files.walk(root)
          try w.iterator().asScala.foreach { p =>
            if (java.nio.file.Files.isRegularFile(p)) {
              files += 1; bytes += java.nio.file.Files.size(p)
            }
          } finally w.close()
        }
      finally ls.close()
      System.err.println(f"[prof] $name wall=$wall%.2f gcMsTotal=$gcMs " +
        f"heapMB=$heapMb codeCacheMB=$codeMb classes=$classes " +
        f"codegenCache=$codegen storageMB=$storageMb persistedRdds=$rdds " +
        f"shuffleFiles=$files shuffleMB=${bytes / (1 << 20)}")
    } catch { case e: Throwable =>
      System.err.println(s"[prof] $name failed: ${e.getMessage}")
    }
    def timeOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val d = (System.nanoTime() - t0) / 1e9
      profLine(name, d)
      // Per-row block release (r16 verdict item 7): the pinned queries
      // (pinnedOrder/x97From/x113…) each leave ~30 MB of localCheckpoint
      // blocks that the old code released only AFTER the whole declared
      // pass — by the tail of the suite the block manager carried every
      // prior row's sediment, drifting the sub-second rows (124 of 271
      // rows >10% off their medians in the r16 controlled close). The
      // release runs OUTSIDE the timed region; a re-run (TWICE) rebuilds
      // its own checkpoint anyway because fn constructs a fresh DataFrame.
      scrubLight()
      d
    }
    val timedAll = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val d1 = timeOne(name, fn)
      val d2 = if (twice) Some(timeOne(name, fn)) else None
      (name, d1, d2)
    }
    val results = timedAll.map { case (n, d, _) => n -> d }
    val warmRows = timedAll.collect { case (n, _, Some(d2)) => n -> d2 }
    // release the declared pass's accumulated blocks before any staged row
    scrubLight()
    // Pipeline measurement: cluster resolution over q53's ALREADY-computed
    // pairs (materialized to parquet untimed), isolating the CC stage — the
    // declared x14 stays standalone for the oracle, but a real dedup
    // pipeline reuses the pair list and pays only this cost.
    // With SPARK_GRAFT_ONLY set, each pipeline timing row is emitted only
    // when ITS name is in the filter (no unrequested sibling measurement).
    val wantCc   = only.forall(_("x14_cc_only"))
    val wantSurv = only.forall(_("x33_survivors_only"))
    val wantSplit = only.forall(_("x48_split_only"))
    val wantCore = only.forall(_("x186_core_only"))
    // r8 verdict item 5: every graph CONSUMER gets a *_only staged row over
    // the same materialized pair parquet, so the bench separates "pair
    // scan" (priced once, q53's row) from each marginal analytic.
    val wantHist  = only.forall(_("x82_hist_only"))
    val wantAudit = only.forall(_("x97_audit_only"))
    val wantTri   = only.forall(_("x112_tri_only"))
    val wantAbl   = only.forall(_("x118_abl_only"))
    val wantSynd  = only.forall(_("x121_synd_only"))
    val anyGraph = wantCc || wantSurv || wantSplit || wantCore ||
      wantHist || wantAudit || wantTri || wantAbl || wantSynd
    def graphRows(gd: String): Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions.{col, split}
      val pairsDir = java.nio.file.Files.createTempDirectory("x14pairs").toString
      val toks = Tables.documents(spark, gd)
        .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
      graft.functions.MinHashLSH.verifiedPairs(toks, 0.8)
        .select("id_a", "id_b", "j").write.mode("overwrite").parquet(pairsDir)
      val pairs = spark.read.parquet(pairsDir)
      // per-row protocol: timed run, warm re-time in TWICE mode (recorded
      // only for the real sfDir pass, not the children's sf0.001 warmups),
      // then a light scrub so the next row starts from a clean block store
      def row(want: Boolean, name: String)(q: => org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
        if (!want) Nil else {
          val t0 = System.nanoTime()
          q.write.format("noop").mode("overwrite").save()
          val d = (System.nanoTime() - t0) / 1e9
          if (twice && gd == sfDir) {
            val t2 = System.nanoTime()
            q.write.format("noop").mode("overwrite").save()
            stagedWarm += name -> ((System.nanoTime() - t2) / 1e9)
          }
          scrubLight()
          Seq(name -> d)
        }
      val ccRow = row(wantCc, "x14_cc_only")(
        operators.TextOps.x14DedupClustersFrom(spark, gd, pairs))
      // later pipeline stages over the CC stage's MATERIALIZED output: CC
      // runs untimed to parquet; survivor selection alone is one window +
      // one agg, the x48 split alone is one join + hash CASE + 3-group agg
      val downstream = if (!wantSurv && !wantSplit) Nil else {
        val labelsDir = java.nio.file.Files.createTempDirectory("x14labels").toString
        operators.TextOps.x14DedupClustersFrom(spark, gd, pairs)
          .select("doc_id", "cluster_id").write.mode("overwrite").parquet(labelsDir)
        val labels = spark.read.parquet(labelsDir)
        val out =
          row(wantSurv, "x33_survivors_only")(
            operators.TextOps.x33SurvivorsFromLabels(spark, gd, labels)) ++
          row(wantSplit, "x48_split_only")(
            operators.TextOps.x48Aggregate(
              operators.TextOps.x48SplitFromLabels(spark, gd, labels)))
        scrub(Seq(labelsDir))
        out
      }
      val consumerRows =
        row(wantHist, "x82_hist_only")(
          operators.TextOps.x82From(spark, gd, pairs)) ++
        row(wantAudit, "x97_audit_only")(
          operators.TextOps.x97From(spark, gd, pairs)) ++
        row(wantTri, "x112_tri_only")(
          operators.TextOps.x112From(spark, gd, pairs)) ++
        row(wantAbl, "x118_abl_only")(
          operators.TextOps.x118From(spark, gd, pairs)) ++
        row(wantSynd, "x121_synd_only")(
          operators.TextOps.x121From(spark, gd, pairs)) ++
        row(wantCore, "x186_core_only")(
          operators.TextOps.x186KCoreFrom(spark, gd, pairs))
      val out = ccRow ++ downstream ++ consumerRows
      scrub(Seq(pairsDir))
      out
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x14_cc_only failed: ${e.getMessage}"); Nil
    }
    val ccOnly = if (!anyGraph) Nil
    else {
      // isolation child: mirror the declared rows' 3× sf0.001 warmup on
      // the same pipeline (see stagedQ below for why), timings discarded
      if (only.isDefined) (1 to 3).foreach(_ => graphRows("/root/testdata/sf0.001"))
      graphRows(sfDir)
    }
    // Staged-row timing helper: in an ONLY/isolation child, first mirror
    // the declared rows' warmup protocol (3× at sf0.001) on the SAME code
    // path — a staged row timed in a fresh JVM with zero warmup would
    // carry first-call codegen/JIT that its shared-run figure (taken in a
    // JVM warmed by 243 sibling queries) never pays, and the isolated-vs-
    // shared comparison is exactly what the isolation pass exists for.
    def stagedQ(name: String)(q: String => org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
      if (only.exists(!_(name))) Nil else try {
        if (only.isDefined) (1 to 3).foreach { _ =>
          try q("/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
        val t0 = System.nanoTime()
        q(sfDir).write.format("noop").mode("overwrite").save()
        val d = (System.nanoTime() - t0) / 1e9
        if (twice) {
          val t2 = System.nanoTime()
          q(sfDir).write.format("noop").mode("overwrite").save()
          stagedWarm += name -> ((System.nanoTime() - t2) / 1e9)
        }
        scrubLight()
        Seq(name -> d)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); Nil
      }
    // Store-row timing core: one warm materialization (codegen/JIT — the
    // protocol every store row has used since r8), the timed run, a warm
    // re-time under TWICE (idempotent rows only — a mutating row's op
    // cannot re-run), then the per-row scrub of temp tables/dirs/blocks.
    def timeBuilt(name: String, dirs: Seq[String],
                  tables: Seq[String] = Nil, mutating: Boolean = false)
                 (q: => Unit): Seq[(String, Double)] = {
      if (!mutating) q // warm (codegen/JIT)
      val t0 = System.nanoTime()
      q
      val d = (System.nanoTime() - t0) / 1e9
      if (twice && !mutating) {
        val t2 = System.nanoTime()
        q
        stagedWarm += name -> ((System.nanoTime() - t2) / 1e9)
      }
      scrub(dirs, tables)
      Seq(name -> d)
    }
    // x77's production path: LSH-blocked candidates → levenshtein verify —
    // priced against the declared brute-force x77 row (r8 verdict item 3)
    val x77Lsh = stagedQ("x77_lsh")(d => operators.TextOps.x77FuzzyLsh(spark, d))
    // x148's production path: IVF candidate edges → the same mutual-top-1
    // kernel — priced against the declared brute-force n² row (r9 item 1)
    val x148Ivf = stagedQ("x148_ivf")(d => operators.VectorOps.x148MutualNnIvf(spark, d))
    // x148's ARBITRATED path (r11 item 3): the sampled recall gate walks
    // the nprobe curve; on this isotropic fixture it rejects the index,
    // so the row prices probe + exact fallback — the entry a production
    // pipeline actually calls
    val x148Auto = stagedQ("x148_auto")(d => operators.VectorOps.x148AutoMutualNn(spark, d))
    // x08's ARBITRATED search (the serving-layer gate, x148_auto's top-k
    // sibling): on this isotropic fixture the gate rejects every nprobe
    // and the row prices probe + exact-scan fallback
    val x08Auto = stagedQ("x08_auto")(d => operators.VectorOps.x08AutoSearch(spark, d))
    // x171's production path: banded char-gram candidates → the same
    // Levenshtein adjudication kernel — priced against the declared
    // length-blocked row (whose Σ|block|² candidate volume is the
    // 100×-scale concern the banded front end removes)
    val x171Banded = stagedQ("x171_banded")(d =>
      operators.TextOps.x171BandedEditDistance(spark, d))
    // x93's tolerance-accepting shape: 2×32 bands (≈1e-4 miss at the j=0.5
    // floor) vs the declared verified-exact 2×128 row — the band-depth
    // trade priced per-round instead of only in BASELINE's bandstress table
    val x93B32 = stagedQ("x93_b32")(d =>
      operators.TextOps.x93ContainmentWith(spark, d, numPerm = 64))
    // Layout measurement: x83's BM25 served from the persisted postings
    // store (build untimed — write-once index, amortized like bucketing).
    // Quantifies the inverted-index contract vs the inline scan+explode.
    val x83Store = if (only.exists(!_("x83_store"))) Nil else try {
      val idxDir = java.nio.file.Files.createTempDirectory("postings").toString
      val store = new sources.PostingsStore(spark, idxDir)
      store.build(Tables.documents(spark, sfDir))
      timeBuilt("x83_store", Seq(idxDir)) {
        store.bm25(Seq("hash", "join", "filter"), k = 20)
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x83_store failed: ${e.getMessage}"); Nil
    }
    // Layout measurement: q10's exact contract query over the co-bucketed
    // orders/lineitem pair (write cost untimed — bucketing is a write-once
    // layout decision amortized over every subsequent join). Quantifies
    // what deleting the join Exchange+Sort is worth vs the plain q10 row.
    val q10Bucketed = if (only.exists(!_("q10_bucketed"))) Nil else try {
      import org.apache.spark.sql.functions.{col, lit, sum}
      import graft.functions.Rounding.dround
      val bktDir = java.nio.file.Files.createTempDirectory("q10bkt").toString
      sources.BucketedFacts.writePair(spark, sfDir, bktDir)
      timeBuilt("q10_bucketed", Seq(bktDir),
                tables = Seq("orders_bucketed", "lineitem_bucketed")) {
        spark.table("orders_bucketed").hint("merge")
          .join(spark.table("lineitem_bucketed"),
                col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey")
          .agg(dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("rev"))
          .orderBy(col("rev").desc, col("o_orderkey"))
          .limit(100)
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] q10_bucketed failed: ${e.getMessage}"); Nil
    }
    // Layout measurement: the TS contract queries over the engine's OWN
    // storage (BucketedLayout day-partitioned, series-bucketed) — the store
    // write is untimed (write-once, amortized like bucketing above).
    // Quantifies what the layout buys q47 (day pruning + clustered series)
    // and q48 (bucket = partition column; ts never read) vs the flat rows.
    val want47 = only.forall(_("q47_store"))
    val want48 = only.forall(_("q48_store"))
    val tsStore = if (!want47 && !want48) Nil else try {
      val storeDir = java.nio.file.Files.createTempDirectory("tsstore").toString
      // bucket count sized to the data: at sf0.1 a day holds ~20k rows, so
      // 2 files/day keeps file-open overhead from dominating a layout
      // whose wins (directory pruning, clustered series runs) are sized
      // for days that are thousands of times larger; at 100 TB the same
      // knob goes UP for parallelism
      sources.BucketedLayout.migrate(spark, sfDir, storeDir, seriesBuckets = 2)
      (if (want47) timeBuilt("q47_store", Nil) {
        operators.TimeSeriesOps.q47Store(spark, storeDir)
          .write.format("noop").mode("overwrite").save()
      } else Nil) ++
      (if (want48) timeBuilt("q48_store", Seq(storeDir)) {
        operators.TimeSeriesOps.q48Store(spark, storeDir)
          .write.format("noop").mode("overwrite").save()
      } else Nil)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] q47/q48_store failed: ${e.getMessage}"); Nil
    }
    // Retention measurement (r13 verdict item 5): dropOlderThan(day) on
    // the bucketed layout + the RollupStore cascade — catena's
    // whole-partition drop. Store builds untimed; the timed op is pure
    // directory metadata (one delete per retired day × resolution), so
    // this row pins that retention stays O(days), never O(rows).
    val retentionDrop = if (only.exists(!_("retention_drop"))) Nil else try {
      val evDir = java.nio.file.Files.createTempDirectory("retn-events").toString
      val ruDir = java.nio.file.Files.createTempDirectory("retn-rollup").toString
      sources.BucketedLayout.migrate(spark, sfDir, evDir, seriesBuckets = 2)
      sources.RollupStore.build(
        sources.BucketedLayout.readEvents(spark, evDir).drop("day"), ruDir)
      val cutoffDayId = java.time.Instant.parse("2024-01-10T00:00:00Z")
        .toEpochMilli * 1000L / (24L * 3600L * 1000000L)
      timeBuilt("retention_drop", Seq(evDir, ruDir), mutating = true) {
        sources.BucketedLayout.dropDaysBefore(spark, evDir, "2024-01-10")
        sources.RollupStore.dropDaysBefore(spark, ruDir, cutoffDayId)
        ()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] retention_drop failed: ${e.getMessage}"); Nil
    }
    // Pipeline measurement: x42's increment against the persisted
    // SignatureStore (store write untimed — computed once at ingest,
    // amortized over every increment). Quantifies what the store buys vs
    // the declared x42 row, which recomputes the corpus's bands and sets
    // from the raw table on every call.
    val x42Store = if (only.exists(!_("x42_store"))) Nil else try {
      import org.apache.spark.sql.functions.{col, split, pmod, lit}
      val storeDir = java.nio.file.Files.createTempDirectory("sigstore").toString
      val toks = Tables.documents(spark, sfDir)
        .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
      sources.SignatureStore.write(spark,
        toks.filter(pmod(col("id"), lit(7L)) =!= 0), storeDir,
        buckets = cpus.toInt)
      timeBuilt("x42_store", Seq(storeDir),
                tables = Seq("sig_docs", "sig_sets", "sig_splits")) {
        sources.SignatureStore.incrementPairs(spark,
            toks.filter(pmod(col("id"), lit(7L)) === 0), 0.8)
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x42_store failed: ${e.getMessage}"); Nil
    }
    // Incremental cluster maintenance: mergeLabels over the standing
    // labels + the increment's pairs (both materialized untimed — the
    // standing state a production pipeline already holds) vs x14_cc_only,
    // the full CC recompute the increment avoids.
    val x42CcIncr = if (only.exists(!_("x42_cc_incr"))) Nil else try {
      import org.apache.spark.sql.functions.{col, split, pmod, lit}
      val tmpDir = java.nio.file.Files.createTempDirectory("ccincr").toString
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
      timeBuilt("x42_cc_incr", Seq(tmpDir)) {
        functions.ConnectedComponents.mergeLabels(
            spark.read.parquet(s"$tmpDir/labels"), batch.select("id"),
            spark.read.parquet(s"$tmpDir/pairs"))
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x42_cc_incr failed: ${e.getMessage}"); Nil
    }
    // Layout measurement: x08's IVF search over the cell-partitioned
    // VectorStore (build untimed — write-once, amortized like the other
    // stores). Quantifies what persisting the assignment buys vs the
    // declared x08 row, which re-derives centroids + assigns the whole
    // corpus on every call.
    val x08Store = if (only.exists(!_("x08_store"))) Nil else try {
      import org.apache.spark.sql.functions.col
      val storeDir = java.nio.file.Files.createTempDirectory("vecstore").toString
      val store = new VectorStore(spark, storeDir)
      store.build(Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
      timeBuilt("x08_store", Seq(storeDir)) {
        store.searchContractProbes()
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x08_store failed: ${e.getMessage}"); Nil
    }
    // Layout measurement: x58's 2-D box over the z-ordered layout (write
    // untimed — write-once, amortized). Quantifies what Morton clustering
    // + the sidecar min/max index buy vs the declared x58 row's flat scan:
    // file-level skipping on BOTH box dimensions before any task launches.
    val x58Store = if (only.exists(!_("x58_zorder"))) Nil else try {
      val storeDir = java.nio.file.Files.createTempDirectory("zstore").toString
      sources.ZOrderLayout.writeEvents(Tables.events(spark, sfDir), storeDir)
      val day10 = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
      val day15 = java.time.Instant.parse("2024-01-15T00:00:00Z").toEpochMilli * 1000L
      timeBuilt("x58_zorder", Seq(storeDir)) {
        operators.TimeSeriesOps.boxAgg(
            sources.ZOrderLayout.readBox(spark, storeDir, 3, 7, day10, day15))
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x58_zorder failed: ${e.getMessage}"); Nil
    }
    // Mutation measurement: applying x56's classified diff to the
    // MergeStore (initial load untimed) vs x56_rewrite, the full-table
    // rewrite the merge avoids. Copy-on-write cost is O(changed buckets).
    // Both rows MUTATE their store — the one staged family that cannot
    // carry a warm re-time (the op consumed its own precondition).
    val mergeRows = if (only.exists(o => !o("x56_merge") && !o("x56_rewrite"))) Nil else try {
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
      val wantMerge = only.forall(_("x56_merge"))
      val wantRewrite = only.forall(_("x56_rewrite"))
      (if (wantMerge) {
        val dir = java.nio.file.Files.createTempDirectory("mergestore").toString
        sources.MergeStore.write(oldSnap, dir, buckets = 16)
        timeBuilt("x56_merge", Seq(dir), mutating = true) {
          sources.MergeStore.merge(spark, dir, upserts, deletes)
        }
      } else Nil) ++
      (if (wantRewrite) {
        val dir = java.nio.file.Files.createTempDirectory("mergestore").toString
        sources.MergeStore.write(oldSnap, dir, buckets = 16)
        timeBuilt("x56_rewrite", Seq(dir), mutating = true) {
          sources.MergeStore.write(newSnap, dir, buckets = 16)
        }
      } else Nil)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x56_merge failed: ${e.getMessage}"); Nil
    }
    // Rollup measurement: x64's misaligned range contract answered through
    // the RollupStore router (build untimed — the once-per-partition
    // materialization) vs the declared x64 row's raw scan.
    val x64Rollup = if (only.exists(!_("x64_rollup"))) Nil else try {
      val storeDir = java.nio.file.Files.createTempDirectory("rollup").toString
      sources.RollupStore.build(Tables.events(spark, sfDir), storeDir)
      timeBuilt("x64_rollup", Seq(storeDir)) {
        operators.TimeSeriesOps.rangeContract(
            sources.RollupStore.rangeAgg(spark, storeDir, Tables.events(spark, sfDir),
              operators.TimeSeriesOps.X64T0, operators.TimeSeriesOps.X64T1))
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] x64_rollup failed: ${e.getMessage}"); Nil
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
    // cross-ROUND anchor the same-run flags cannot provide. Flat JSON
    // object {"row": seconds, ...}, updated each round from the round's
    // controlled runs (BASELINE.md records the protocol); absent file →
    // no history flags, previous behavior.
    val history: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("tools/bench_medians.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        """"([^"]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_medians.json unreadable: ${e.getMessage}")
      Map.empty
    }
    // r10 verdict item 2: the isolation set draws from ALL rows — declared
    // AND staged/store — so a staged row can never again ship a >2× move
    // without an isolated figure (x77_lsh and x186_core_only both slipped
    // through r10's declared-only slowest-10 exactly this way).
    val allRows = results ++ ccOnly ++ x77Lsh ++ x148Ivf ++ x148Auto ++
      x08Auto ++ x171Banded ++ x93B32 ++ x83Store ++ q10Bucketed ++ tsStore ++
      x42Store ++ x42CcIncr ++ x08Store ++ x58Store ++ mergeRows ++
      x64Rollup ++ retentionDrop
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
      allRows, results.size, results.map(_._2).sum, warmRows ++ stagedWarm,
      isoRuns, flaggedNow, if (only.isEmpty) Some((histFlags, history.size)) else None,
      plannedNames.filterNot(runsByName.contains)
        .map(n => n -> skipReasons.getOrElse(n, "pending")),
      Seq("start" -> loadStart) ++ loadPreIso.map("pre_isolation" -> _) ++
        maxChildLoad.map("max_pre_child" -> _),
      sfDir, codegen)
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
    val declaredTotal = results.map(_._2).sum
    println(compactLine(
      declaredTotal, results.size, allRows.size - results.size,
      allRows.map(_._2).sum - declaredTotal, allRows, sfDir, cpus,
      outPath.map(p => java.nio.file.Paths.get(p).getFileName.toString)
        .orElse(fullStampPath.map(_.getFileName.toString))
        .getOrElse("bench_last.json")))
    if (plan.isEmpty) spark.stop()
  }
}
