package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench isolation PLANNER — pure, so its coverage contract is
  * pinnable without running children: every shared row above the heavy
  * threshold is planned (r14 shipped a silent take(16) that dropped 5 of
  * 21 >5 s rows from the isolation set), the schedule runs one coverage
  * child per row before any median rep (so a budget cut degrades depth,
  * never coverage), and malformed specs degrade instead of throwing away
  * a multi-hour shared pass. */
class BenchSpec extends AnyFunSuite {

  private val rows: Seq[(String, Double)] =
    (1 to 21).map(i => (f"heavy_$i%02d", 5.0 + i)) ++ // 6.0 .. 26.0 s
      (1 to 30).map(i => (f"light_$i%02d", 0.1 * i))  // all under 5 s

  test("every row above the heavy threshold is planned — no silent cap") {
    val (plan, _) = Bench.planIsolation(rows, "slowest:10,heavy:5:3", Nil)
    val planned = plan.map(_._1).toSet
    val over = rows.filter(_._2 > 5.0).map(_._1)
    assert(over.size === 21)
    over.foreach(n => assert(planned.contains(n),
      s"$n exceeds the 5 s heavy bar but is not in the isolation plan — " +
        "the r14 take(16) hole"))
    // and each heavy row carries the median-of-R rep count
    plan.filter(p => over.contains(p._1)).foreach { case (n, r) =>
      assert(r === 3, s"$n planned with $r reps, expected heavy:_:3")
    }
  }

  test("plan is ordered worst shared row first; schedule is coverage-first") {
    val (plan, thr) = Bench.planIsolation(rows, "slowest:10,heavy:5:3", Nil)
    assert(thr === Some(5.0))
    val shared = rows.toMap
    val order = plan.map(p => shared(p._1))
    assert(order === order.sorted.reverse, s"plan not shared-desc: $plan")
    val sched = Bench.isolationSchedule(plan)
    // one child per planned row BEFORE any repeat: a budget cut then costs
    // median depth, never a row's only isolated figure
    val firstSeen = sched.distinct
    assert(sched.take(plan.size) === firstSeen,
      "schedule repeats a row before covering every planned row once")
    assert(sched.size === plan.map(_._2).sum)
  }

  test("slowest-only rows get one child; watch rows get the median reps") {
    val (plan, _) =
      Bench.planIsolation(rows, "slowest:25,heavy:5:3", Seq("light_30", "ghost_row"))
    val byName = plan.toMap
    // light_30 (3.0 s: slowest-25 member, under the heavy bar) is watched →
    // median-of-R treatment regardless of rank
    assert(byName("light_30") === 3)
    // a slowest-only member that is neither heavy nor watched runs once
    assert(byName("light_27") === 1)
    // a watch row that no longer exists in the run is dropped, not spawned
    assert(!byName.contains("ghost_row"))
  }

  test("malformed and off specs degrade to an empty plan, never throw") {
    assert(Bench.planIsolation(rows, "off", Nil)._1.isEmpty)
    assert(Bench.planIsolation(rows, "garbage", Nil)._1.isEmpty)
    assert(Bench.planIsolation(rows, "slowest:x,heavy:y", Nil)._1.isEmpty)
    // a half-valid spec keeps the valid clause
    val (plan, thr) = Bench.planIsolation(rows, "slowest:2,heavy:bad", Nil)
    assert(plan.size === 2 && thr.isEmpty)
    assert(plan.forall(_._2 === 1))
  }

  test("an unparsable spec keeps the watchlist and history-flagged rows " +
       "(adjudication work a spec typo must not cancel — r15 ADVICE)") {
    val hist = Map("heavy_05" -> 2.0) // shared 10.0 → 5× inflated
    val (plan, thr) =
      Bench.planIsolation(rows, "garbage", Seq("light_12"), hist)
    assert(thr.isEmpty)
    assert(plan.map(_._1).toSet === Set("heavy_05", "light_12"),
      s"watch + flagged rows must survive a spec typo: $plan")
  }

  // —— round-16: committed-history adjudication ————————————————————————

  test("historyFlags: ≥2× the committed median AND ≥1 s, worst first; " +
       "sub-second jitter and unknown rows never flag") {
    val hist = Map(
      "heavy_01" -> 6.0,   // shared 6.0 → 1.0× — clean
      "heavy_02" -> 3.0,   // shared 7.0 → 2.33× — flagged
      "heavy_03" -> 0.8,   // shared 8.0 → 10.0× — flagged, worst
      "light_05" -> 0.1)   // shared 0.5 → 5× but under the 1 s floor
    val flags = Bench.historyFlags(rows, hist)
    assert(flags.map(_._1) === Seq("heavy_03", "heavy_02"),
      s"expected worst-inflation-first flags, got $flags")
    assert(math.abs(flags.head._2 - 10.0) < 1e-9)
  }

  test("history-flagged rows head the plan and the schedule — every " +
       "flagged row's child runs before any unflagged row's (r15 verdict " +
       "item 3: the budget must cover adjudication first)") {
    val hist = Map("heavy_02" -> 3.0, "heavy_03" -> 0.8, "light_01" -> 5.0)
    val (plan, _) = Bench.planIsolation(rows, "slowest:10,heavy:5:3",
      Seq("light_30"), hist)
    val flagged = Set("heavy_02", "heavy_03")
    // plan order: flagged rows (worst inflation first), then the rest
    assert(plan.take(2).map(_._1) === Seq("heavy_03", "heavy_02"))
    // flagged rows get at least median-of-3 even when heavy gives 3
    plan.take(2).foreach { case (n, r) => assert(r >= 3, s"$n reps $r") }
    // schedule: a flagged row's FULL median-of-R runs before any
    // unflagged child at all — a budget cut may drop coverage of
    // merely-slow rows but must never leave a flagged row at n=1
    // (n=1 cannot adjudicate)
    val sched = Bench.isolationSchedule(plan, flagged)
    val firstUnflagged = sched.indexWhere(n => !flagged(n))
    flagged.foreach { f =>
      assert(sched.take(firstUnflagged).count(_ == f) >= 3,
        s"flagged $f must get all its reps before any unflagged child: " +
          s"${sched.take(8)}")
    }
    // the unflagged tail keeps the coverage-first shape: one child per
    // remaining row before any of their extra reps
    val tail = sched.drop(firstUnflagged)
    val restRows = plan.map(_._1).filterNot(flagged)
    assert(tail.take(restRows.size) === restRows,
      s"unflagged coverage must precede unflagged reps: ${tail.take(6)}")
    // light_01 (0.1 s shared, history 5.0) is FASTER than history — never
    // flagged, and not dragged into the plan by the history map
    assert(!plan.map(_._1).contains("light_01"))
  }

  test("a history-flagged row outside slowest-N/heavy still gets planned " +
       "children (the r15 x99/x64 hole: inflated rows were budget-skipped)") {
    // light_25 shared 2.5 s, history 0.5 s → 5× inflated but under the
    // 5 s heavy bar and outside slowest-10
    val hist = Map("light_25" -> 0.5)
    val (plan, _) = Bench.planIsolation(rows, "slowest:10,heavy:5:3", Nil, hist)
    val byName = plan.toMap
    assert(plan.head._1 === "light_25", s"flagged row must head the plan: $plan")
    assert(byName("light_25") === 3, "flagged row needs median-of-3")
  }

  test("no history file → previous behavior exactly (worst shared first)") {
    val (withEmpty, _) = Bench.planIsolation(rows, "slowest:10,heavy:5:3", Nil)
    val shared = rows.toMap
    val order = withEmpty.map(p => shared(p._1))
    assert(order === order.sorted.reverse)
  }

  // —— round-17: the driver-parseable compact line ——————————————————————

  test("compactLine fits the driver's tail, parses as one JSON object, " +
       "and trims queries to the slowest rows with explicit truncation") {
    // 271 rows like the real artifact — far over any 1800-char budget
    val many = (1 to 271).map(i => (f"some_query_name_$i%03d", i * 0.37))
    val line = Bench.compactLine(377.5, 244, 27, 64.9, many,
      "/root/testdata/sf0.1", "32", "bench_last.json")
    assert(!line.contains("\n"))
    assert(line.length <= 1800, s"line is ${line.length} chars")
    // structurally one JSON object: starts/ends with braces, balanced
    assert(line.head == '{' && line.last == '}')
    assert(line.count(_ == '{') === line.count(_ == '}'))
    // contract keys present
    Seq("\"metric\":\"total\"", "\"value\":377.500", "\"unit\":\"sec\"",
        "\"declared_rows\":244", "\"staged_rows\":27", "\"cpus\":\"32\"",
        "\"queries\":{", "\"rows_total\":271", "\"full_artifact\":\"bench_last.json\"",
        "\"sf\":\"/root/testdata/sf0.1\"").foreach { k =>
      assert(line.contains(k), s"missing $k in: $line")
    }
    // the rows kept are the SLOWEST ones (the judge's per-query signal)
    assert(line.contains("\"some_query_name_271\":100.27"))
    assert(!line.contains("\"some_query_name_001\":"))
    // truncation is explicit: rows_shown < rows_total and consistent
    val shown = "\"rows_shown\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
    assert(shown < 271 && shown >= 1)
    assert(line.sliding(2).count(_ == "\":") >= shown, "per-row entries present")
  }

  test("compactLine with few rows keeps them all and stays well under budget") {
    val few = Seq("a" -> 1.0, "b" -> 2.0)
    val line = Bench.compactLine(3.0, 2, 0, 0.0, few, "sf", "8", "x.json")
    assert(line.contains("\"rows_shown\":2") && line.contains("\"rows_total\":2"))
    assert(line.contains("\"b\":2.00") && line.contains("\"a\":1.00"))
    assert(line.length <= 1800)
  }

  test("compactLine and fullLine are valid JSON under a comma-decimal locale " +
       "and with quotes in row names") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val rows = Seq("q\"quoted\\row" -> 1.5, "plain" -> 0.25)
      val compact = mapper.readTree(Bench.compactLine(1.75, 2, 0, 0.0, rows,
        "/data/sf\"0.1", "4", "bench \"last\".json"))
      assert(compact.get("value").asDouble === 1.75)
      assert(compact.get("queries").get("q\"quoted\\row").asDouble === 1.5)
      assert(compact.get("sf").asText === "/data/sf\"0.1")
      assert(compact.get("full_artifact").asText === "bench \"last\".json")
      val full = mapper.readTree(Bench.fullLine(rows, 1, 1.5, Seq("plain" -> 0.5),
        Seq("q\"quoted\\row" -> Seq((1.25, Some(1.0)), (1.5, None))),
        Seq("q\"quoted\\row" -> 2.5), Some((Seq("plain" -> 3.25), 7)),
        Seq("x\"skipped" -> "budget"), Seq("start" -> 0.5), "/data/sf\"0.1",
        Bench.Codegen(12, 3456, 1000)))
      assert(full.get("queries").get("q\"quoted\\row").asDouble === 1.5)
      assert(full.get("staged_total_sec").asDouble === 0.25)
      assert(full.get("isolated_stats").get("q\"quoted\\row").get("max").asDouble === 1.5)
      assert(full.get("isolated_warm").get("q\"quoted\\row").asDouble === 1.0)
      assert(full.get("shared_over_isolated_flags").get("q\"quoted\\row").asDouble === 2.5)
      assert(full.get("vs_history_flags").get("plain").asDouble === 3.25)
      assert(full.get("history_rows").asInt === 7)
      assert(full.get("isolation_skipped").get("x\"skipped").asText === "budget")
      assert(full.get("host_load").get("start").asDouble === 0.5)
      assert(full.get("sf").asText === "/data/sf\"0.1")
      val codegen = full.get("codegen")
      assert(codegen.get("compiles").asLong === 12 && codegen.get("compile_ms").asLong === 3456)
      assert(codegen.get("cache_max").asInt === 1000)
    } finally java.util.Locale.setDefault(prev)
  }

  test("failed rows are named in the full line and counted in the compact line, " +
       "under a comma-decimal locale and with quotes in names and messages") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val rows = Seq("plain" -> 0.25)
      def full(failed: Seq[(String, String)]) = mapper.readTree(Bench.fullLine(
        rows, 1, 0.25, Nil, Nil, Nil, None, Nil, Seq("start" -> 0.5), "sf",
        Bench.Codegen(0, 0, 1000), failed))
      val clean = full(Nil).get("failed")
      assert(clean.isObject && clean.size === 0, "a clean run carries failed: {}")
      val failed = full(Seq("x\"bad" -> "boom: \"quoted\"\nsecond line")).get("failed")
      assert(failed.get("x\"bad").asText === "boom: \"quoted\"\nsecond line")
      val compact = mapper.readTree(Bench.compactLine(0.25, 1, 0, 0.0, rows, "sf", "4",
        "bench_last.json", failedRows = 2))
      assert(compact.get("failed_rows").asInt === 2)
      assert(compact.get("value").asDouble === 0.25)
      assert(mapper.readTree(Bench.compactLine(0.25, 1, 0, 0.0, rows, "sf", "4",
        "bench_last.json")).get("failed_rows").asInt === 0)
    } finally java.util.Locale.setDefault(prev)
  }
}
