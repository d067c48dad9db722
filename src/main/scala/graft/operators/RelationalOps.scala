package graft.operators

import graft.Tables
import graft.functions.Rounding.dround
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.1–§2.4: scans, filters/predicates, joins, aggregation.
  *
  * Every method is one declared query of the §2 contract: a DataFrame
  * program (Catalyst logical plan — no RDDs, no driver-side loops) whose
  * result hash-matches the DuckDB oracle twin in [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes are per-operator in each scaladoc; shared posture:
  * filters/projections sit directly above the parquet scan so pushdown +
  * column pruning reach the reader; aggregations are partial+final hash
  * aggregates (map-side combine); joins broadcast the dimension side and
  * shuffle-hash/sort-merge the fact-fact side with AQE skew handling.
  */
object RelationalOps {

  // ---- §2.1 scans --------------------------------------------------------

  /** Q01 parquet scan + count. Scale: count aggregates per-file row-group
    * metadata-backed scans; no shuffle beyond the final single-row agg. */
  def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(count(lit(1)).as("n"))

  /** Q02 projection pruning: only 3 of 11 columns may reach the scan
    * (ReadSchema audit in BenchSpec). Scale: range-partitioned global sort. */
  def q02(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")
      .select("l_orderkey", "l_quantity")

  /** Q03 multi-table catalog: every table registered and counted. */
  def q03(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    Tables.all.sorted
      .map(n => s.table(n).agg(count(lit(1)).as("n")).select(lit(n).as("tbl"), col("n")))
      .reduce(_.unionByName(_))
      .orderBy("tbl")
  }

  // ---- §2.2 filters ------------------------------------------------------

  /** Q04 comparison + AND/OR/NOT predicates, pushed to parquet. */
  def q04(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value") > 100 && col("event_type") =!= "error")
      .select("event_id")
      .orderBy("event_id")

  /** Q05 timestamp BETWEEN (catena Seek(ts) analogue). Scale: at 100 TB the
    * events table is day-partitioned so this prunes to 3 partitions; the
    * residual min/max row-group skip happens inside parquet. */
  def q05(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts").between(lit("2024-01-10 00:00:00").cast("timestamp"),
                                lit("2024-01-12 00:00:00").cast("timestamp")))
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .orderBy("event_id")

  /** Q06 IN-list predicate. */
  def q06(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .agg(count(lit(1)).as("n"))

  /** Q07 LIKE prefix → StartsWith, pushdown-eligible. */
  def q07(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_type").like("PROMO%"))
      .select("p_partkey")
      .orderBy("p_partkey")

  /** Q08 3-valued NULL semantics: COUNT(*) vs COUNT(col). */
  def q08(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(when(col("value") > 300, col("value")).as("x"))
      .agg(count(lit(1)).as("n"), count(col("x")).as("nn"))

  // ---- §2.3 joins --------------------------------------------------------

  /** Q09 inner equi-join, broadcast: nation (25) and region (5) are
    * broadcast to every task — zero shuffle of the 15k/15M-customer side.
    * Scale: dims < 10 MB stay broadcast at any fact size; AQE demotes if not. */
  def q09(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy("r_name")

  /** Q10 fact-fact join: forced sort-merge via the MERGE hint (both sides
    * large at scale; broadcast impossible). Shuffles both sides on the
    * order key once; the per-orderkey aggregate reuses that partitioning. */
  def q10(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).hint("merge")
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("rev"))
      .orderBy(col("rev").desc, col("o_orderkey"))
      .limit(100)

  /** Q11 left outer join, orders-per-customer including zero. */
  def q11(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Q12 full outer join; unmatched counts on both sides. */
  def q12(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey")).distinct()
    Tables.part(s, d)
      .join(li, col("p_partkey") === col("l_partkey"), "full")
      .agg(
        count(when(col("l_partkey").isNull, 1)).as("part_only"),
        count(when(col("p_partkey").isNull, 1)).as("li_only"),
        count(when(col("p_partkey").isNotNull && col("l_partkey").isNotNull, 1)).as("matched"))
  }

  /** Q13 left semi (EXISTS). Scale: semi-join shuffles only the distinct
    * keys of the probe side under AQE; no payload columns move. */
  def q13(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(Tables.lineitem(s, d), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")

  /** Q14 left anti (NOT EXISTS). */
  def q14(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")

  /** Q15 cross join (both sides tiny; BroadcastNestedLoop). */
  def q15(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).crossJoin(Tables.nation(s, d)).agg(count(lit(1)).as("n"))

  /** Q16 theta/range self-join on price bands, routed through the reusable
    * [[RangeJoin.banded]] primitive (the full banding/scale rationale —
    * log-space bands for a RELATIVE ±0.1% radius, candidate mass constant
    * at every price level, ~7× fewer candidates than linear banding on the
    * fixture — lives in [[RangeJoin]]'s scaladoc). */
  def q16(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    def band(c: Column) = RangeJoin.logBand(c, 0.001)
    RangeJoin.banded(
        o.select(col("o_orderkey").as("k1"), col("o_totalprice").as("p1")),
        o.select(col("o_orderkey").as("k2"), col("o_totalprice").as("p2")),
        band(col("p1")), band(col("p2")),
        col("p2").between(col("p1") * 0.999, col("p1") * 1.001) && col("k1") < col("k2"))
      .agg(count(lit(1)).as("n"))
  }

  // ---- §2.4 aggregation --------------------------------------------------

  /** Q19 TPC-H Q1-shape multi-aggregate: partial+final HashAggregate, all
    * combine map-side; only |groups| rows shuffle. */
  def q19(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dround(sum("l_quantity"), 4).as("sum_qty"),
        dround(sum("l_extendedprice"), 4).as("sum_base"),
        dround(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q20 exact COUNT(DISTINCT): two-phase expand. */
  def q20(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("event_type")

  /** Q21 approximate distinct (HyperLogLog++). Sketch VALUES differ across
    * engines, so the declared output is the cross-engine-computable verdict
    * instead (r4 verdict item): per group, the exact count plus
    * `ok = |approx − exact| / exact ≤ 0.05` — each engine runs its OWN HLL
    * and both land inside the tolerance (Spark HLL++ at rsd 0.01 and
    * DuckDB's sketch are both ~1% off at these cardinalities), so the
    * booleans hash-match and the tolerance contract is finally visible in
    * the driver's correctness file, not only in `sbt test`.
    * Scale: the sketch is the 100 TB path (constant-size state per group vs
    * Q20's expand); the exact side here exists only to make the tolerance
    * checkable and is Q20's own plan. */
  def q21(s: SparkSession, d: String): DataFrame = {
    // the exact and approx aggregates run SEPARATELY and join on the tiny
    // group key: one agg mixing countDistinct with the HLL++ sketch makes
    // Spark Expand the input (2× rows) and drop to object/sort aggregates
    // for BOTH — measured 3.65 s vs 0.9 s split at sf0.1. HLL registers
    // are max-merged, so the approx value is partitioning- and
    // order-insensitive either way.
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    val approx = Tables.events(s, d).groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"))
    exact.join(approx, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("approx") - col("n_exact")).cast("double") /
          col("n_exact").cast("double") <= 0.05).cast("int").as("ok"))
      .orderBy("event_type")
  }

  /** Q22 ROLLUP with GROUPING flags over the geo join, via the SQL entry
    * point (SURVEY §3.2 #1) — DataFrame-side rollup().agg(grouping…) then
    * referencing the grouping columns trips a DetectAmbiguousSelfJoin
    * false-positive on the Expand-duplicated attributes in Spark 4.1. */
  def q22(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql("""
      WITH base AS (
        SELECT r_name, n_name, l_extendedprice * (1 - l_discount) AS rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey)
      SELECT CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n,
             COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
             ROUND(SUM(rev) * 10000) / 10000 AS revenue -- dround inline: DuckDB binary ROUND (sums strictly positive, no -0 case)
      FROM base GROUP BY ROLLUP(r_name, n_name)
      ORDER BY g_r, g_n, r_name, n_name""")
  }

  /** Q23 CUBE over (event_type, day). */
  def q23(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .cube("event_type", "d")
      .agg(grouping("event_type").cast("int").as("g_t"),
           grouping("d").cast("int").as("g_d"),
           count(lit(1)).as("n"))
      .select(col("g_t"), col("g_d"),
              coalesce(col("event_type"), lit("ALL")).as("event_type"),
              coalesce(col("d"), lit("ALL")).as("d"),
              col("n"))
      .orderBy("g_t", "g_d", "event_type", "d")

  /** Q24 HAVING (filter above the aggregate; rounded on both engines so the
    * threshold compare is FP-stable). */
  def q24(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(dround(avg("value"), 4).as("avg_val"))
      .filter(col("avg_val") > 45)
      .orderBy("event_type")

  /** Q25 exact percentiles (oracle: quantile_cont — twinning pre-validated). */
  def q25(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(dround(expr("percentile(value, 0.5)"), 4).as("p50"),
           dround(expr("percentile(value, 0.9)"), 4).as("p90"),
           dround(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type")

  /** x34 quantile sketch with a tolerance verdict — q21's oracle pattern
    * extended to the second sketch family: each engine runs its OWN
    * approximate-percentile sketch (Spark: Greenwald-Khanna
    * `percentile_approx`; DuckDB: t-digest `approx_quantile` — different
    * algorithms, both rank-error-bounded far below 5%) against its own
    * exact percentile, and the declared output is the exact values plus
    * the cross-engine-comparable booleans `|approx−exact|/exact ≤ 0.05`.
    * Sketch internals stay private; the tolerance CONTRACT is what the
    * driver hash-checks. At 100 TB the sketch is the only viable
    * percentile (exact percentile materializes the per-group value set —
    * see Q25's scaladoc); this query is the accuracy gate a pipeline runs
    * at small scale before trusting the sketch at large. */
  def x34QuantileSketch(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("e50"),
           expr("percentile(value, 0.9)").as("e90"),
           expr("percentile_approx(value, 0.5, 10000)").as("a50"),
           expr("percentile_approx(value, 0.9, 10000)").as("a90"))
      .select(col("event_type"),
        dround(col("e50"), 4).as("p50"), dround(col("e90"), 4).as("p90"),
        // multiplication form |a−e| ≤ 0.05·|e|: no division, so a negative
        // exact percentile still measures (abs) and e=0 demands a=0 exactly
        // instead of going NaN-false — the gate never silently stops grading
        (abs(col("a50") - col("e50")) <= lit(0.05) * abs(col("e50"))).cast("int").as("ok50"),
        (abs(col("a90") - col("e90")) <= lit(0.05) * abs(col("e90"))).cast("int").as("ok90"))
      .orderBy("event_type")

  /** x63 mergeable distinct-count sketches — the PRE-AGGREGATION pattern
    * q21's one-shot HLL++ cannot express: per-(event_type, day) Apache
    * DataSketches HLL sketches (`hll_sketch_agg`, the store shape a
    * warehouse materializes once per partition) are UNIONED per type
    * (`hll_union_agg`) and only then estimated — so the corpus-wide
    * distinct count is answerable from |types|·|days| fixed-size sketch
    * blobs without ever rescanning the events, and stays answerable for
    * any day range by unioning a subset. That mergeability is the whole
    * point at 100 TB: the daily sketch build is the only corpus scan, and
    * every subsequent distinct-count query is sketch-sized work.
    *
    * Declared output follows q21/x34's tolerance-verdict pattern (sketch
    * estimates are engine-specific, verdicts are not): exact distinct +
    * "union-of-daily-sketches estimate within 5%" boolean, both engines
    * computing the verdict against their own sketch. */
  def x63SketchUnion(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).withColumn("day", to_date(col("ts")))
    val daily = e.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val unioned = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
    val exact = e.groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
    exact.join(unioned, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") <=
          lit(0.05) * col("n_exact").cast("double")).cast("int").as("ok"))
      .orderBy("event_type")
  }

  /** Q26 statistical aggregates. */
  def q26(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(dround(stddev_samp(col("value")), 4).as("sd"),
           dround(var_samp(col("value")), 4).as("vr"),
           dround(corr(col("value"), col("user_id").cast("double")), 4).as("cr"))
      .orderBy("event_type")

  /** Q27 deterministic array agg: sorted distinct set joined to a string
    * (oracle: string_agg(DISTINCT … ORDER BY …) — pre-validated). */
  def q27(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types"))
      .orderBy("user_id")

  /** Q28 DISTINCT rows. */
  def q28(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select("event_type", "user_id")
      .distinct()
      .orderBy("event_type", "user_id")

  /** x88 Benford first-digit audit — the fabricated-data smell test a
    * data-quality gate runs over monetary columns: the distribution of
    * leading significant digits of l_extendedprice. The digit derives
    * INTEGER-only: exact cents (decimal(18,2) cast, the x25/x86 path)
    * formatted as an integer string, first character — no log10, whose
    * last-ulp libm differences across engines would flip the digit
    * exactly at powers of ten. One map-side-combined hash agg onto ≤9
    * rows + a scalar total broadcast; trivially 100 TB-safe. */
  def x88Benford(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(substring((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").cast("string"), 1, 1).as("digit"))
    val agg = li.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = agg.agg(sum("n").as("tot"))
    agg.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        dround(col("n").cast("double") / col("tot").cast("double"), 4).as("share"))
      .orderBy("digit")
  }

  /** x104 star-join revenue rollup — the TPC-H Q5 shape, the canonical
    * join-ORDER workload: lineitem ⋈ orders (selective one-year date
    * filter) ⋈ customer ⋈ supplier ⋈ nation ⋈ region('ASIA'), with Q5's
    * correlated "local supplier" constraint (c_nationkey = s_nationkey)
    * riding the supplier join. The suite's Q09–Q18 pin each join
    * ALGORITHM in isolation; this row pins the composite: one query where
    * picking the wrong join order or missing the date pushdown costs 10×.
    *
    * Plan posture: nation/region are hint-broadcast (constant-size dims);
    * supplier and the fact chain are left to stats+AQE — supplier is
    * 1e4·SF rows, broadcastable at this fixture but legitimately a
    * shuffle join at 100 TB, exactly the call AQE should make from
    * runtime sizes, not a hardcoded hint. The o_orderdate range reaches
    * the orders scan as a pushed filter (PlanSpec), so the fact⋈fact
    * SMJ/SHJ shuffles one year of orders, not six. Revenue sums go
    * through dround (order-insensitive at 4dp; DeterminismSpec). */
  def x104StarJoin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01")
            && col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** x131 shipping-priority candidates — the TPC-H Q3 shape: orders from
    * one market segment placed before a cut date with lineitems still
    * shipping after it, top 10 by outstanding revenue. Q3 is the
    * canonical "selective dim filter + two-fact join + top-k" pattern:
    * the segment filter reaches the customer SCAN (1/5 selectivity,
    * broadcastable side), the date predicates reach both fact scans as
    * pushed filters, and the top-10 compiles to TakeOrderedAndProject —
    * never a full sort of the group table. Revenue through dround (q10's
    * order-insensitivity precedent); order date emitted as a formatted
    * DATE STRING so neither engine's timestamp rendering is in the hash. */
  def x131ShipPriority(s: SparkSession, d: String): DataFrame = {
    val cut = "1998-01-01"
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d).filter(col("o_orderdate") < lit(cut)),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d).filter(col("l_shipdate") > lit(cut)),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** x132 dominant-supplier assignment — the ARGMAX join TPC-H Q2 poses
    * (no partsupp table in this fixture, so the cost axis is shipped
    * QUANTITY): for each part, the supplier that shipped the most units
    * (ties → lowest suppkey), with its share of the part's total. The
    * pattern — per-group argmax over a two-key aggregate, then a
    * share against the group total — is the "preferred vendor/primary
    * replica/top referrer" query shape.
    *
    * Scale: one (part, supp) hash agg over the fact table (map-side
    * combined), then the argmax window runs per PART over that
    * aggregate — partition size = suppliers-per-part, bounded by
    * |suppliers|, never corpus-sized; the part total is a second
    * aggregate of the same table joined back. Quantities are integral
    * doubles — summed exactly and carried as BIGINT. */
  def x132DominantSupplier(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("l_quantity").cast("long").as("qty"), count(lit(1)).as("n_ship"))
    val tot = ps.groupBy("l_partkey").agg(sum("qty").cast("long").as("part_qty"))
    val w = Window.partitionBy("l_partkey").orderBy(col("qty").desc, col("l_suppkey"))
    ps.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(tot, "l_partkey")
      .select(col("l_partkey"), col("l_suppkey").as("top_supp"),
        col("qty"), col("n_ship"), col("part_qty"),
        dround(col("qty").cast("double") / col("part_qty").cast("double"), 4)
          .as("share"))
      .orderBy("l_partkey")
  }

  /** x115 exact median by two-pass histogram refinement — the 100 TB way
    * to get an EXACT order statistic without ever totally sorting a
    * group. q25's exact percentiles pay a per-group sort whose partition
    * is the whole group; this pays:
    *
    *  1. pass 1: an integer-bucket histogram (floor(value)) — one
    *     map-side-combined hash agg, aggregate-sized result;
    *  2. a cumulative count over the HISTOGRAM locates, per group, the
    *     bucket(s) holding the two middle order statistics (ranks
    *     ⌈n/2⌉ and ⌊n/2⌋+1) plus each bucket's rank offset;
    *  3. pass 2: a broadcast semi-join refilters the corpus to ONLY the
    *     winning buckets (selectivity ≈ 1/|buckets|) and ranks within
    *     them — the per-task sort is one bucket's residents, bounded by
    *     the histogram's resolution, not the group.
    *
    * The two middle values ship RAW (selection, no arithmetic); the one
    * double op is the declared lo + 0.5·(hi − lo) interpolation, rounded
    * once. Identical output contract to a sort-based median, priced
    * against it in the bench. */
  def x115TwoPassMedian(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"), floor(col("value")).cast("long").as("bkt"))
    val hist = ev.groupBy("event_type", "bkt").agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy("event_type").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.groupBy("event_type").agg(sum("c").as("n"))
    val marked = hist
      .withColumn("prev", coalesce(sum("c").over(wb), lit(0L)))
      .join(broadcast(tot), "event_type")
      .withColumn("k1", expr("(n + 1) div 2"))
      .withColumn("k2", expr("n div 2 + 1"))
      .filter((col("prev") < col("k1") && col("k1") <= col("prev") + col("c"))
           || (col("prev") < col("k2") && col("k2") <= col("prev") + col("c")))
      .select(col("event_type"), col("bkt"), col("prev"), col("n"), col("k1"), col("k2"))
    val wr = Window.partitionBy("event_type", "bkt").orderBy("value")
    ev.join(broadcast(marked), Seq("event_type", "bkt"))
      .withColumn("rk", col("prev") + row_number().over(wr))
      .filter(col("rk") === col("k1") || col("rk") === col("k2"))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(col("rk") === col("k1"), col("value"))).as("v_lo"),
        min(when(col("rk") === col("k2"), col("value"))).as("v_hi"))
      .select(col("event_type"), col("n"), col("v_lo"), col("v_hi"),
        dround(col("v_lo") + lit(0.5) * (col("v_hi") - col("v_lo")), 4).as("median"))
      .orderBy("event_type")
  }

  /** x128 GROUPING SETS — the ARBITRARY multi-granularity aggregation
    * surface next to Q22's hierarchical ROLLUP and Q23's full CUBE: the
    * exact set list ((source, lang), (source), (lang), ()) a dataset
    * card computes in one pass instead of four scans-with-union. Grouping
    * flags disambiguate which granularity a row belongs to; COALESCE'd
    * names keep the output NULL-free (no cross-engine NULL-ordering
    * dependence). Via the SQL entry point for the same reason as Q22
    * (DataFrame-side grouping-column reuse trips Spark 4.1's
    * DetectAmbiguousSelfJoin on the Expand duplicates).
    *
    * Scale: ONE scan — Expand replicates each row once per matching set
    * (4× here) into a single map-side-combined hash aggregate; grouping
    * keys are low-cardinality, so the exchange is aggregate-sized. */
  def x128GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql("""
      SELECT CAST(GROUPING(source) AS INT) AS g_s, CAST(GROUPING(lang) AS INT) AS g_l,
             COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
             COUNT(*) AS n_docs,
             CAST(SUM(size(split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents
      GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
      ORDER BY g_s, g_l, source, lang""")
  }

  /** x133 bilateral trade volume — the TPC-H Q7 shape: revenue flowing
    * between two specific nations (in BOTH directions), by ship year.
    * The distinguishing plan problem: the two nation constraints sit on
    * OPPOSITE ends of the fact chain (supplier side and customer side),
    * tied together by a DISJUNCTIVE pair filter that neither dim can
    * evaluate alone.
    *
    * Scale posture: each nation dim is pre-filtered to the two named
    * nations BEFORE its join — so the supplier and customer joins are
    * each ~2/25 selective semi-filters on the fact chain (broadcast
    * dims), and only the pair disjunction (FRANCE→GERMANY or
    * GERMANY→FRANCE, here NATION_1/NATION_2) evaluates post-join on the
    * already-shrunk stream. The two-year l_shipdate range reaches the
    * lineitem scan as a pushed filter. Revenue through dround. */
  def x133TradeVolume(s: SparkSession, d: String): DataFrame = {
    val n1 = broadcast(Tables.nation(s, d)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(s, d)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1999-01-01"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
           || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "yr")
  }

  /** x134 returned-revenue customers — the TPC-H Q10 shape: rank
    * customers by revenue LOST to returned items in one quarter, top 20
    * with their nation. The pattern is "top offenders with dim context":
    * a quarter-selective fact join, a returnflag filter on the line
    * side, a wide customer payload carried THROUGH the aggregate (all
    * customer attributes ride the grouping key — no second join back),
    * and a top-k that compiles to TakeOrderedAndProject, never a full
    * sort of the customer table.
    *
    * Scale: both selective predicates (quarter, returnflag) reach their
    * scans as pushed filters; nation is broadcast; c_acctbal ships RAW
    * (selection, no arithmetic — no FP ordering in the hash). */
  def x134ReturnedRevenue(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01")
            && col("o_orderdate") < lit("1997-04-01")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** x135 promo revenue share — the TPC-H Q14 shape: the fraction of one
    * month's revenue earned by parts of one type, as a CONDITIONAL
    * aggregate — two sums in ONE pass over the joined stream (never two
    * scans + a join of scalars). The month filter reaches the lineitem
    * scan; part is the broadcast side; output is a single row.
    *
    * Determinism: both sums dround at 4dp first; the share divides the
    * ROUNDED values (deterministic inputs → deterministic ratio) and
    * rounds once more at 6dp — same arithmetic in the twin. */
  def x135PromoShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-03-01")
        && col("l_shipdate") < lit("1997-04-01"))
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg(
        dround(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))), 4).as("promo_rev"),
        dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("total_rev"))
      .select(col("promo_rev"), col("total_rev"),
        dround(col("promo_rev") / col("total_rev"), 6).as("promo_share"))

  /** x136 disjunctive-predicate revenue — the TPC-H Q19 shape: an OR of
    * three conjunctive blocks, each tying PART attributes (brand, size)
    * to LINEITEM attributes (quantity band), so no single block is
    * evaluable before the join. The optimizer test it encodes: the
    * union of each side's constraints IS extractable — brand ∈ {12,23,34}
    * and size ≤ 15 push to the part SCAN, quantity ≤ 30 pushes to the
    * lineitem scan — so the BHJ probes a pre-shrunk build side and the
    * full disjunction evaluates only on join survivors. Single-row
    * output: item count + dround revenue. */
  def x136DisjunctiveRevenue(s: SparkSession, d: String): DataFrame = {
    val p = broadcast(Tables.part(s, d)
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        && col("p_size") <= 15))
    Tables.lineitem(s, d).filter(col("l_quantity") <= 30)
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11))
      || (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20))
      || (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_items"),
        dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
  }

  /** x137 dormant rich customers — the TPC-H Q22 shape: customers whose
    * balance beats the average POSITIVE balance yet who placed no order
    * in the trailing window (this fixture gives EVERY customer some
    * order, so Q22's "never ordered" is vacuous; "no order since
    * 2000-01-01" keeps the identical anti-join shape non-degenerate at
    * every SF — 5/55/646 rows). Two classic sub-shapes in one query: a
    * scalar-subquery threshold and a NOT EXISTS anti-join.
    *
    * Determinism is EXACT, not rounded: balances convert to integer
    * cents (decimal(18,2) cast → ×100 → long, the x88 trick), the
    * threshold compare is cross-multiplied — bal_cents · n_pos >
    * sum_cents — so no division, no doubles, no FP order anywhere in
    * the predicate; the output balance total divides the exact cent sum
    * by 100 once. Scale: the threshold is a broadcast 1-row aggregate;
    * the anti-join shuffles the DATE-PRUNED order custkeys only (the
    * range predicate reaches the orders scan; AQE picks BHJ when the
    * recent-customer set fits); nation is broadcast. */
  def x137DormantRich(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .withColumn("bal_cents",
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))
    val thr = cust.filter(col("bal_cents") > 0)
      .agg(sum("bal_cents").as("sum_cents"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(thr))
      .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"),
        dround(sum("bal_cents").cast("double") / lit(100.0), 2).as("total_bal"))
      .orderBy("n_name")
  }

  /** x138 national market share — the TPC-H Q8 shape: within one
    * region's customer market, the share of each ship-year's revenue
    * supplied by ONE nation's suppliers. The shape is a conditional
    * share over a scoped market: region scopes the CUSTOMER side (semi
    * filter through broadcast dims), the measured nation sits on the
    * SUPPLIER side, and both the national numerator and the market
    * denominator come out of ONE aggregate pass (no self-join of two
    * rollups).
    *
    * Scale: nation/region dims broadcast; the order-date range is the
    * only fact filter and reaches the orders scan; share divides the
    * two ROUNDED sums (x135's determinism pattern). */
  def x138MarketShare(s: SparkSession, d: String): DataFrame = {
    val custEur = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))),
        col("c_nationkey") === col("c_nk"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppN = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01")
            && col("o_orderdate") < lit("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custEur, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(
        dround(sum(when(col("supp_nation") === "NATION_3",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))), 4).as("nation_rev"),
        dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("mkt_rev"))
      .select(col("yr"), col("nation_rev"), col("mkt_rev"),
        dround(col("nation_rev") / col("mkt_rev"), 6).as("share"))
      .orderBy("yr")
  }

  /** x143 delayed-shipment priority check — the TPC-H Q4 shape: per
    * order priority, how many of one quarter's orders had AT LEAST ONE
    * lineitem still shipping 90+ days after the order date (Q4's
    * commit-vs-receipt lateness recast onto this fixture's date axes).
    * The distinguishing feature is the CORRELATED EXISTS whose predicate
    * crosses tables — l_shipdate > o_orderdate + 90 days can only
    * evaluate inside the join — compiled as a LEFT SEMI with the
    * inequality riding the equi-join as a residual condition: each order
    * emits at most once however many lineitems qualify, and no lineitem
    * payload survives the join.
    *
    * Scale: the quarter filter reaches the orders scan; the semi join
    * shuffles on orderkey with the residual evaluated post-probe; the
    * date arithmetic is integer calendar math (no FP). Output is the
    * 5-row priority rollup. */
  def x143LateShipOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-07-01")
        && col("o_orderdate") < lit("1997-10-01"))
    o.join(Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late"))
      .orderBy("o_orderpriority")
  }

  /** x144 full-pushdown scan revenue — the TPC-H Q6 shape: one
    * fact-table pass where EVERY predicate (ship-year, discount band,
    * quantity cap) is scan-evaluable and the whole query is a single
    * partial+final aggregate of two columns. Q6 is the canonical
    * scan-efficiency CANARY: there is no join or shuffle to hide behind,
    * so a missing pushdown or a too-wide ReadSchema shows up directly as
    * scan bytes/time (PlanSpec pins all three PushedFilters and the
    * 4-column ReadSchema). Predicates compare the SAME stored doubles
    * against the same literals in both engines — no arithmetic before
    * the comparison, so no FP boundary can disagree. */
  def x144ScanRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1998-01-01")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        dround(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))

  /** x145 boolean-aggregate SLA flags — the BOOL_AND / BOOL_OR /
    * COUNT_IF aggregate family (universal/existential/conditional-count
    * in ONE pass), the remaining §2.4 aggregate surface: per event type,
    * whether every value stays under the 400 ceiling, whether any value
    * breaches it, and how many exceed 100. The operational readout shape
    * — "all probes healthy / any probe failing / how many degraded" —
    * folded map-side like any other partial aggregate (bool AND/OR are
    * associative-commutative; the count is a conditional sum), onto
    * |types| rows. Predicates compare stored doubles to literals — no
    * arithmetic, no FP boundary. */
  def x145SlaFlags(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("bool_and(value < 400)").as("all_below_400"),
        expr("bool_or(value > 400)").as("any_over_400"),
        expr("count_if(value > 100)").as("n_over_100"))
      .orderBy("event_type")

  /** x139 above-average orders — the CORRELATED SCALAR SUBQUERY shape
    * ("rows beating their own group's average"): orders whose total
    * exceeds 1.5× their customer's average order value, counted per
    * order priority. SQL engines decorrelate this into exactly the plan
    * written here — a per-customer aggregate joined back to the fact on
    * the correlation key — so the DataFrame side IS the decorrelated
    * form, co-partitioned on o_custkey (one shuffle feeds both the
    * aggregate and the join probe).
    *
    * Determinism is EXACT (x137's discipline): totals convert to
    * integer cents, and "tp > 1.5 × sum/n" cross-multiplies to
    * 2·tp_cents·n_ord > 3·Σcents — no division, no doubles anywhere in
    * the predicate, so no FP boundary can flip a row between engines.
    * The output max-price ships RAW (selection, no arithmetic). */
  def x139AboveAvg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("tp_cents",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    val perCust = o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_ord"), sum("tp_cents").as("sum_cents"))
    o.join(perCust.withColumnRenamed("o_custkey", "pc_custkey"),
        col("o_custkey") === col("pc_custkey"))
      .filter(lit(2) * col("tp_cents") * col("n_ord") > lit(3) * col("sum_cents"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_above"), max("o_totalprice").as("top_price"))
      .orderBy("o_orderpriority")
  }

  /** x140 brand-coverage division — textbook RELATIONAL DIVISION
    * ("suppliers who shipped EVERY brand in the set"), the universal
    * quantifier neither TPC-H nor the join suite exercises: suppliers
    * whose H1-1997 shipments cover all five target brands. Division
    * compiles to the aggregation form — filter to the divisor set,
    * count DISTINCT divisor members per candidate, keep counts equal to
    * |set| — never to the nested NOT EXISTS(NOT EXISTS(...)) double
    * negation (a correlated anti-join per candidate×member).
    *
    * Scale: the brand filter + date range reach the scans (part is the
    * broadcast side, pre-shrunk to 5 brands); the distinct-count runs
    * over (suppkey, brand) — ≤ 5 rows per supplier after partial
    * dedup — and supplier names ride a broadcast join AFTER the
    * division, touching only the qualifying ≈38% of suppliers. All
    * integer/string output — no FP discipline needed. */
  def x140BrandCoverage(s: SparkSession, d: String): DataFrame = {
    val brands = Seq("Brand#1", "Brand#2", "Brand#3", "Brand#4", "Brand#5")
    val shipped = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1997-07-01"))
      .join(broadcast(Tables.part(s, d).filter(col("p_brand").isin(brands: _*))),
        col("l_partkey") === col("p_partkey"))
    shipped.groupBy("l_suppkey")
      .agg(countDistinct("p_brand").as("n_brands"), count(lit(1)).as("n_ship"))
      .filter(col("n_brands") === brands.size)
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_ship"))
      .orderBy("s_suppkey")
  }

  /** x149 priority split by line status — the TPC-H Q12 shape (this
    * fixture has no l_shipmode/commitdate, so the bucketing axis is
    * l_linestatus and the year filter rides l_shipdate): per status, how
    * many 1997-shipped lineitems belong to critical-priority orders
    * (1-URGENT / 2-HIGH) vs everything else. The distinguishing surface
    * is the TWO-WAY CONDITIONAL COUNT inside one aggregate — a CASE
    * split, not two scans and not a pivot — after a fact-to-fact join
    * where the selective date predicate must reach the lineitem scan.
    *
    * Scale: the year filter prunes the fact scan; the orderkey join
    * shuffles only survivors; the aggregate is map-side combined onto
    * |statuses| rows. Pure integer counts. */
  def x149PrioritySplit(s: SparkSession, d: String): DataFrame = {
    val crit = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_linestatus")
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(col("o_orderpriority").isin(crit: _*), 1L).otherwise(0L))
             .as("high_line_count"),
           sum(when(col("o_orderpriority").isin(crit: _*), 0L).otherwise(1L))
             .as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** x150 customer order-count distribution — the TPC-H Q13 shape: how
    * many customers placed 0, 1, 2 … qualifying orders (here: orders not
    * in 'P' processing status — Q13's NOT LIKE exclusion recast onto this
    * fixture's columns). The distinguishing surfaces are the LEFT OUTER
    * join that must keep zero-order customers (an inner join silently
    * drops the c_count=0 bucket — the classic Q13 bug) and the
    * HISTOGRAM-OF-AGGREGATE double grouping.
    *
    * Scale: the exclusion filter reaches the orders scan; one
    * custkey-shuffled left join; the first aggregate is customer-sized,
    * the second |distinct counts|-sized. count(o_orderkey) (not
    * count(*)) makes the null-match rows count zero. All-integer. */
  def x150OrderCountDist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_custkey")
      .join(Tables.orders(s, d).filter(col("o_orderstatus") =!= "P")
          .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** x151 top supplier vs a global scalar — the TPC-H Q15 shape: each
    * supplier's revenue over one quarter, returning the supplier(s)
    * whose revenue EQUALS the global maximum (Q15's view + scalar
    * subquery; ties must all surface, which is why this is not a
    * LIMIT 1). Revenue is computed in exact integer 1e-4 dollars
    * (cents × (100 − discount-percent), the x139 discipline), so the
    * max-equality join can never be flipped by a last-bit double
    * difference between engines — the one FP hazard this shape has.
    *
    * Scale: the quarter filter reaches the fact scan; one supplier-keyed
    * map-side-combined aggregate; the 1-row max broadcasts back onto the
    * supplier-sized aggregate. The displayed revenue is the same integer
    * divided once. */
  def x151TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1997-04-01"))
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")
        * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
    val top = rev.agg(max("rev4").as("max4"))
    rev.join(broadcast(top), col("rev4") === col("max4"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        dround(col("rev4").cast("double") / 10000.0, 4).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** x152 small-quantity-outlier revenue — the TPC-H Q17 shape: the
    * revenue locked in orders whose quantity is far below the PART's own
    * average ("what would we gain by batching micro-orders"). The
    * distinguishing surface is the correlated aggregate against the SAME
    * fact table (qty < 0.2 · avg(qty per part)), decorrelated into a
    * per-part aggregate joined back on the correlation key — and made
    * FP-exact by cross-multiplying the predicate: quantities are
    * integral doubles, so qty < sum/(5·n) ⟺ 5·qty·n < sum in exact
    * BIGINTs (no division, no doubles, no boundary to disagree on).
    * The output fold is held to the same rule: revenue sums exact
    * integer cents (ROUND(price·100) AS BIGINT, the x151 discipline)
    * and divides ONCE by 700.0 — a raw double sum's accumulation order
    * differs across engines and partitionings, and a knife-edge value
    * at the 4th decimal would break the golden hash nondeterministically.
    *
    * Scale: both sides of the self-join shuffle once on partkey (the
    * aggregate is map-side combined first); a brand filter narrows to
    * Q17's selective slice. Output is the single Q17 scalar. */
  def x152SmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#3")
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgq = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qsum"),
           count(lit(1)).as("qn"))
    li.join(avgq, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity").cast("long") * 5L * col("qn") < col("qsum"))
      .agg(count(lit(1)).as("n_items"),
        dround(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("double") / 700.0, 4).as("avg_yearly"))
  }

  /** x153 large-volume customers — the TPC-H Q18 shape: customers whose
    * single order aggregates past a quantity threshold (the "whale
    * orders" report). The distinguishing surface is HAVING on an
    * aggregate driving a SEMI join back into the fact/dim chain: the
    * order-level sum(qty) > 250 gate runs FIRST (orderkey-keyed,
    * map-side combined), and only qualifying orderkeys re-join orders
    * and customers — never the reverse join order, which would carry
    * every order through the customer join just to drop it.
    *
    * Scale: the heavy aggregate touches only (orderkey, qty); the
    * qualifying set is tiny (threshold above the p99 per-order mass), so
    * the re-joins probe with a sliver. Quantities are integral doubles →
    * exact BIGINT sums. */
  def x153WhaleOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .filter(col("total_qty") > 250L)
    big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  /** x154 sole-blame suppliers — the TPC-H Q21 shape recast onto this
    * fixture's axes (no commit/receipt dates, so "kept the order
    * waiting" becomes "shipped the order's only RETURNED items"): count,
    * per supplier, their returned lineitems on multi-supplier orders
    * where NO OTHER supplier had a return. The distinguishing surface is
    * the DOUBLE CORRELATION against the same fact table — a positive
    * EXISTS (another supplier shipped on this order) AND a negative
    * EXISTS (no other supplier's return) — compiled as a LEFT SEMI plus
    * a LEFT ANTI on orderkey with the supplier-inequality as the
    * residual, both probing dedup'd (orderkey, suppkey) pair sets rather
    * than raw lineitems.
    *
    * Scale: three passes over (orderkey, suppkey[, returnflag]) columns
    * only; each join shuffles on orderkey with map-side-dedup'd build
    * sides; the aggregate is supplier-sized. All-integer. */
  def x154SoleBlame(s: SparkSession, d: String): DataFrame = {
    val r = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey")
    val rPairs = r.distinct()
      .select(col("l_orderkey").as("r_ok"), col("l_suppkey").as("r_sk"))
    val allPairs = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("a_ok"), col("l_suppkey").as("a_sk"))
      .distinct()
    r.join(allPairs,
        col("l_orderkey") === col("a_ok") && col("l_suppkey") =!= col("a_sk"),
        "left_semi")
      .join(rPairs,
        col("l_orderkey") === col("r_ok") && col("l_suppkey") =!= col("r_sk"),
        "left_anti")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  /** x161 important parts — the TPC-H Q11 shape: parts whose revenue is
    * more than 0.05% of the WHOLE corpus's revenue (Q11's
    * "important stock" HAVING against a global scalar subquery). The
    * distinguishing surface is an aggregate filtered by a GRAND-TOTAL
    * scalar derived from the same table — the x94 in-plan-total pattern
    * applied as a HAVING — with the share predicate cross-multiplied
    * into integers (rev4·10⁴ > total4·5 in decimal(38,0): exact at any
    * corpus size; the 1e-4-dollar integers are the x151 discipline).
    *
    * Scale: one partkey-keyed map-side-combined aggregate; the 1-row
    * total broadcasts back; output is the qualifying sliver. */
  def x161ImportantParts(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rev = Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")
        * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
    val tot = rev.agg(sum("rev4").as("total4"))
    rev.crossJoin(broadcast(tot))
      .filter(dec(col("rev4")) * 10000L > dec(col("total4")) * 5L)
      .select(col("l_partkey"),
        dround(col("rev4").cast("double") / 10000.0, 4).as("revenue"),
        dround(col("rev4").cast("double") / col("total4").cast("double"), 6)
          .as("share"))
      .orderBy(col("revenue").desc, col("l_partkey"))
  }

  /** x162 supplier diversity per part class — the TPC-H Q16 shape: per
    * (brand, size), how many DISTINCT suppliers ship that class,
    * excluding a disqualified-supplier set (Q16's NOT-IN complaints
    * subquery recast: suppliers with a max-quantity, max-discount
    * RETURNED lineitem anywhere — selective at every sf, measured
    * 3/10 then 14/100 excluded). The distinguishing surfaces are the NOT IN →
    * LEFT ANTI against a derived exclusion set and COUNT(DISTINCT)
    * after it.
    *
    * Scale: the exclusion set is supplier-sized (dedup'd map-side) and
    * broadcasts into the anti join; the part dim broadcasts; the
    * count-distinct aggregate is (brand, size, supp)-keyed — two-level,
    * never row-explosive. */
  def x162SupplierDiversity(s: SparkSession, d: String): DataFrame = {
    val excluded = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R" && col("l_quantity") === 50
        && col("l_discount") === 0.1)
      .select(col("l_suppkey").as("x_supp")).distinct()
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(broadcast(excluded), col("l_suppkey") === col("x_supp"), "left_anti")
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** x163 dominant recent shippers — the TPC-H Q20 shape (no partsupp,
    * so availability becomes shipped mass): suppliers who, for at least
    * one part, shipped MORE in 1997 than half of that part's all-time
    * total — Q20's nested IN-chain (supplier ⊇ partsupp ⊇ lineitem
    * threshold) flattened into aggregate-join-aggregate. The predicate
    * 2·qty97 > qtyAll is exact (integral quantities → BIGINT sums).
    *
    * Scale: BOTH aggregates hash on (part[, supp]) with map-side
    * combine; the threshold join is (part)-keyed between two
    * aggregate-sized tables; the supplier dim broadcasts at the end.
    * Per-supplier part counts are the output — supplier-sized. */
  def x163DominantShippers(s: SparkSession, d: String): DataFrame = {
    val in97 = col("l_shipdate") >= lit("1997-01-01") &&
      col("l_shipdate") < lit("1998-01-01")
    Tables.lineitem(s, d)
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(when(in97, col("l_quantity")).otherwise(lit(0.0))).cast("long")
             .as("qty97"),
           sum(col("l_quantity")).cast("long").as("qty_all"))
      .filter(col("qty97") > 0L && col("qty97") * 2L > col("qty_all"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_parts"), sum("qty97").as("qty97_sum"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_parts"), col("qty97_sum"))
      .orderBy(col("n_parts").desc, col("s_suppkey"))
  }

  /** x167 local-supplier volume — the TPC-H Q5 shape: revenue per nation
    * within one region and one year, counting ONLY lineitems where the
    * supplier and the ordering customer share a nation. The
    * distinguishing surface is the CYCLIC join graph — customer→orders→
    * lineitem→supplier plus the c_nationkey = s_nationkey equality that
    * closes the cycle — which a left-deep plan must carry as a residual
    * on the LAST fact join (no join reorder can make it a key); the
    * classic Q5 bug (joining supplier on nationkey alone, multiplying
    * rows) is what the oracle hash pins against.
    *
    * Scale: the year filter reaches the orders scan and the region
    * filter prunes nation to |region| keys BEFORE touching any fact
    * (nation⋈region broadcast, then customers semi-filtered through it);
    * the two fact joins shuffle on their natural keys (custkey then
    * orderkey); supplier broadcasts with the nation equality as the
    * residual. Revenue in exact integer 1e-4 dollars (the x151
    * discipline) — ranking nations by revenue cannot flip on a last-bit
    * double. */
  def x167LocalSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val asiaNations = broadcast(
      Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
    Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(asiaNations, col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01")
            && col("o_orderdate") < lit("1998-01-01"))
          .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")
        * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
      .select(col("n_name"),
        dround(col("rev4").cast("double") / 10000.0, 4).as("revenue"))
      .orderBy(col("rev4").desc, col("n_name"))
  }

  /** x168 product-line profit — the TPC-H Q9 shape recast onto this
    * fixture (no partsupp, so ps_supplycost becomes the part's LIST
    * price: profit = discounted revenue − retailprice·quantity, i.e.
    * margin vs catalog). Per (supplier nation, ship year), over parts
    * whose name contains one product word — Q9's surfaces intact: a
    * LIKE-filtered part dim driving two fact dims (supplier for the
    * nation, part for the cost), a profit expression mixing columns of
    * BOTH joined tables per row, and a (nation × year) rollup.
    *
    * Scale: the LIKE prunes part BEFORE broadcast (the only
    * non-broadcast table is the fact); profit is computed per-row in
    * exact integer 1e-4 dollars — price4·(100−disc) − retail4·qty·100 —
    * summed as BIGINT (|profit4| ≤ 1e9 per row, corpus sum ≪ 2^63), one
    * divide at the end. Output is |nations|·|years| rows. */
  def x168ProductProfit(s: SparkSession, d: String): DataFrame = {
    val rods = broadcast(Tables.part(s, d)
      .filter(col("p_name").contains("rod"))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("retail2")))
    Tables.lineitem(s, d)
      .join(rods, col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).as("yr"))
      .agg(sum(
        round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long"))
        - col("retail2") * col("l_quantity").cast("long") * 100L)
        .as("profit4"))
      .select(col("n_name"), col("yr"),
        dround(col("profit4").cast("double") / 10000.0, 4).as("profit"))
      .orderBy(col("n_name"), col("yr").desc)
  }

  /** x169 cheapest qualified supplier — the TPC-H Q2 shape recast onto
    * this fixture (no partsupp: the part↔supplier relation and its
    * "cost" are DERIVED from lineitem — each supplier's best observed
    * unit sell price per part), completing the battery: for every part
    * in one size class, the EUROPE supplier(s) whose minimum unit price
    * equals the part's minimum across all Europe suppliers. Q2's
    * surfaces intact: a correlated MIN over the link relation with an
    * outer reference (the partkey), decorrelated into an aggregate
    * joined back on (partkey, min-equality) so ties ALL surface; a
    * supplier→nation→region qualification chain; the acctbal-desc
    * output order with a LIMIT.
    *
    * Determinism: unit price is exact integer 1e-4 dollars/unit —
    * (cents·100) div integral-quantity, floor==truncate since both
    * positive — so the min-equality join can never flip on a double
    * (the x151/x152 discipline).
    *
    * Scale: region prunes supplier BEFORE the fact join (broadcast);
    * the size filter prunes part likewise; the fact scans once,
    * aggregates map-side onto (part, supp) pairs; the per-part best is
    * an aggregate-sized self-join on partkey. LIMIT compiles to
    * TakeOrderedAndProject. */
  def x169CheapestSupplier(s: SparkSession, d: String): DataFrame = {
    val euSupp = broadcast(Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name")))
    val slice = broadcast(Tables.part(s, d).filter(col("p_size") === 5)
      .select(col("p_partkey"), col("p_name")))
    val offers = Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(slice, col("l_partkey") === col("p_partkey"))
      .join(euSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
      .agg(min(expr(
        "CAST(ROUND(l_extendedprice*100) AS BIGINT) * 100 div CAST(l_quantity AS BIGINT)"))
        .as("unit4"))
    val best = offers.groupBy(col("p_partkey").as("b_key"))
      .agg(min("unit4").as("best4"))
    offers.join(best, col("p_partkey") === col("b_key")
        && col("unit4") === col("best4"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("s_suppkey"),
        dround(col("unit4").cast("double") / 10000.0, 4).as("unit_price"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** x172 referential-integrity audit — the FK-orphan scan a warehouse
    * runs before trusting a load: per foreign-key edge, how many child
    * rows point at a missing parent, and how many DISTINCT dangling keys
    * there are (one bad parent vs many decides the repair strategy). The
    * fixture is referentially clean, so — the x56/x170 derive-in-query
    * precedent — each parent is read through a deterministic prime-mod
    * LOSS rule (orders %997, part %193, customer %89, nation %7), which
    * exercises all four edge classes: fact→fact (lineitem→orders),
    * fact→broadcast dim twice, and dim→tiny-dim with a high orphan share
    * (4 of 25 nations gone).
    *
    * Shape: each edge is ONE left join on its natural key (parent
    * broadcast when a dim, shuffled on the key when fact-sized) feeding
    * a 1-row fold — count, conditional orphan count, and a conditional
    * COUNT DISTINCT over only the orphaned keys. No edge re-scans
    * another's tables; the 4-row union is plan-parallel. At 100 TB each
    * edge is exactly the join the load pipeline already pays, so the
    * audit rides the same shuffle. */
  def x172RefIntegrity(s: SparkSession, d: String): DataFrame = {
    def audit(edge: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val par0 = parent.select(col(pk).as("pk"))
      val par  = if (bcast) broadcast(par0) else par0
      child.select(col(fk).as("fk"))
        .join(par, col("fk") === col("pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphan"),
          countDistinct(when(col("pk").isNull, col("fk"))).as("n_orphan_keys"))
        .select(lit(edge).as("edge"), col("n_child"), col("n_orphan"),
          col("n_orphan_keys"),
          dround(col("n_orphan").cast("double")
            / col("n_child").cast("double"), 6).as("orphan_share"))
    }
    val orders = Tables.orders(s, d)
      .filter(!(pmod(col("o_orderkey"), lit(997L)) === 13L))
    val part = Tables.part(s, d)
      .filter(!(pmod(col("p_partkey"), lit(193L)) === 7L))
    val cust = Tables.customer(s, d)
      .filter(!(pmod(col("c_custkey"), lit(89L)) === 11L))
    val nat = Tables.nation(s, d)
      .filter(!(pmod(col("n_nationkey"), lit(7L)) === 3L))
    audit("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
        orders, "o_orderkey", bcast = false)
      .unionAll(audit("lineitem->part", Tables.lineitem(s, d), "l_partkey",
        part, "p_partkey", bcast = true))
      .unionAll(audit("orders->customer", Tables.orders(s, d), "o_custkey",
        cust, "c_custkey", bcast = true))
      .unionAll(audit("supplier->nation", Tables.supplier(s, d), "s_nationkey",
        nat, "n_nationkey", bcast = true))
      .orderBy("edge")
  }

  /** x174 Pareto frontier (skyline) — the multi-objective shortlist a
    * buyer query wants and no single ORDER BY can express: parts not
    * DOMINATED on (size ↓, retail price ↑) — no other part is
    * smaller-or-equal AND priced higher-or-equal with one strict. The
    * suite's first skyline; x29's top-k and x111's M4 both collapse to
    * one axis.
    *
    * Shape: the 2-D skyline never needs the O(n²) dominance self-join —
    * fold to per-size max price (|sizes| ≤ 50 rows, map-side combined),
    * take the running max over strictly smaller sizes (window over the
    * AGGREGATE — never the part table), and keep sizes that strictly
    * improve it; parts qualify by equality join-back against the
    * broadcast frontier, so price ties at a frontier size ALL surface
    * (the x151 ties discipline). Price compared in exact integer cents —
    * frontier membership can't flip on a double. One scan + one
    * |sizes|-row window + one broadcast join at any corpus size. */
  def x174ParetoSkyline(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d).select(col("p_partkey"), col("p_size"),
      round(col("p_retailprice") * 100).cast("long").as("cents"))
    val bySize = parts.groupBy("p_size").agg(max("cents").as("max_at"))
    val w = Window.orderBy("p_size")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bySize.withColumn("max_prev", max("max_at").over(w))
      .filter(col("max_prev").isNull || col("max_at") > col("max_prev"))
    parts.join(broadcast(frontier), Seq("p_size"))
      .filter(col("cents") === col("max_at"))
      .select(col("p_partkey"), col("p_size"),
        dround(col("cents").cast("double") / 100.0, 2).as("price"))
      .orderBy("p_size", "p_partkey")
  }
}
