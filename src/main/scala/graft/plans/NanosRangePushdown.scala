package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Pushes time-range predicates through the nanos→µs timestamp conversion.
  *
  * The events table stores parquet TIMESTAMP(NANOS), which this engine reads
  * as a raw LongType nanos column and exposes as
  * `timestamp_micros(ts div 1000)` (see graft.Tables.events — Spark 4
  * cannot read ns timestamps natively). A range predicate written against
  * the *converted* column,
  * `Filter(timestamp_micros(ts div 1000) >= TIMESTAMP '…')`, is opaque to
  * the parquet source: only `IsNotNull` reaches `PushedFilters`, and the
  * scan reads every row group — the exact failure catena's partition-list
  * `Seek(ts)` exists to avoid.
  *
  * `ts ↦ timestamp_micros(ts div 1000)` is monotonic, so every comparison
  * against a literal has a sound raw-column companion:
  *
  *   - `conv(a) >  L`  ⇐  `a >  L·1000`        (superset: keeps originals)
  *   - `conv(a) >= L`  ⇐  `a >= L·1000`
  *   - `conv(a) <  L`  ⇐  `a <  L·1000`
  *   - `conv(a) <= L`  ⇐  `a <  (L+1)·1000`
  *   - `conv(a) =  L`  ⇐  both of the above with `>= / <`
  *
  * The rule ADDS the derived conjunct and KEEPS the original predicate, so
  * it never has to reason about floor-division edge cases for exactness:
  * the derived predicate is a superset filter that the parquet reader can
  * evaluate against row-group min/max stats (and, on a date-partitioned
  * layout, the partition pruner against directory values); the original
  * still applies exactly, post-scan. Runs inside the operator-optimization
  * fixed point, so `PushDownPredicates` carries the new conjunct to the
  * relation in the same pass. Idempotent: a derived conjunct that is
  * already present (semantically) is not added again.
  */
object NanosRangePushdown extends Rule[LogicalPlan] {

  private val NsPerUs = 1000L
  /** µs literals beyond this would overflow when scaled to ns. */
  private val MaxSafeMicros = Long.MaxValue / NsPerUs

  /** Matches `timestamp_micros(raw div 1000)` and yields `raw`. */
  private object ConvertedNanos {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(IntegralDivide(raw, Literal(1000L, LongType), _))
          if raw.dataType == LongType && raw.deterministic =>
        Some(raw)
      case _ => None
    }
  }

  /** Timestamp literal as its raw Long microseconds value. */
  private object TsLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(us: Long, TimestampType) if math.abs(us) < MaxSafeMicros => Some(us)
      case _ => None
    }
  }

  private def derived(cmp: Expression): Option[Expression] = cmp match {
    case GreaterThan(ConvertedNanos(a), TsLit(us))        => Some(GreaterThan(a, nsLit(us)))
    case GreaterThanOrEqual(ConvertedNanos(a), TsLit(us)) => Some(GreaterThanOrEqual(a, nsLit(us)))
    case LessThan(ConvertedNanos(a), TsLit(us))           => Some(LessThan(a, nsLit(us)))
    case LessThanOrEqual(ConvertedNanos(a), TsLit(us))    => Some(LessThan(a, nsLit(us + 1)))
    case EqualTo(ConvertedNanos(a), TsLit(us)) =>
      Some(And(GreaterThanOrEqual(a, nsLit(us)), LessThan(a, nsLit(us + 1))))
    // mirrored literal-first forms
    case GreaterThan(TsLit(us), ConvertedNanos(a))        => Some(LessThan(a, nsLit(us)))
    case GreaterThanOrEqual(TsLit(us), ConvertedNanos(a)) => Some(LessThan(a, nsLit(us + 1)))
    case LessThan(TsLit(us), ConvertedNanos(a))           => Some(GreaterThan(a, nsLit(us)))
    case LessThanOrEqual(TsLit(us), ConvertedNanos(a))    => Some(GreaterThanOrEqual(a, nsLit(us)))
    case EqualTo(TsLit(us), ConvertedNanos(a)) =>
      Some(And(GreaterThanOrEqual(a, nsLit(us)), LessThan(a, nsLit(us + 1))))
    case _ => None
  }

  private def nsLit(us: Long): Literal = Literal(us * NsPerUs, LongType)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val existing = conjuncts(cond)
      // derive only from top-level conjuncts: a comparison under OR/NOT must
      // not be strengthened independently
      val extra = existing.flatMap(derived)
        .filterNot(d => existing.exists(_.semanticEquals(d)))
      if (extra.isEmpty) f
      else Filter(extra.foldLeft(cond)(And(_, _)), child)
  }
}

/** Session extensions: the graft optimizer rules + SQL functions.
  * Install with `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NanosRangePushdown)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[graft.functions.FloatDotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) =>
        graft.functions.FloatDotProduct(children(0), children(1))))
    // ema_arr(sorted_values, alpha): the SQL spelling of SeriesFunctions.ema.
    // The builder hands the parsed argument expressions to the same Column
    // formulation, so SQL and Column callers share one expression tree —
    // an aggregate() fold, not a UDF (§2.11 SQL surface).
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("ema_arr"),
      new ExpressionInfo(graft.functions.SeriesFunctions.getClass.getName, "ema_arr"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "ema_arr(values, alpha) takes 2 arguments")
        graft.functions.SeriesFunctions.emaExpr(children(0), children(1))
      }))
    // the pair-verify kernel family, SQL-spelled: the same codegen
    // Expressions the near-dup operators run internally, so a SQL user can
    // build a custom verify stage without dropping to the Column API
    def binary(name: String, cls: Class[_], f: (Expression, Expression) => Expression): Unit =
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.size == 2, s"$name takes 2 arguments")
          f(children(0), children(1))
        }))
    // both count spellings build the one intersection kernel with its early
    // exit off (bound 0); the alias tag keeps the called name in the
    // expression's SQL and in its type-check errors
    Seq("sorted_intersect_count", "sorted_intersect_count_int").foreach { name =>
      binary(name, classOf[graft.functions.SortedIntersectAtLeast], (a, b) => {
        val e = graft.functions.SortedIntersectAtLeast(a, b, Literal(0))
        e.setTagValue(org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FUNC_ALIAS, name)
        e
      })
    }
    binary("sig_match_count", classOf[graft.functions.SigMatchCount],
      graft.functions.SigMatchCount(_, _))
    binary("first_match_index", classOf[graft.functions.FirstMatchIndex],
      graft.functions.FirstMatchIndex(_, _))

    // —— SQL TVF surface for the time-series package (r13 verdict item 8).
    // injectTableFunction builders receive the parsed argument expressions
    // and return a LOGICAL PLAN, so each TVF below hands its arguments to
    // the exact Column-API operator (SeriesApi / AsOfJoin) and returns
    // that operator's plan — SQL and Column callers share one plan tree by
    // construction (SqlSurfaceSpec pins optimized-plan equality). Table
    // inputs arrive as table/view NAMES (string literals) resolved through
    // the session catalog, the classic TVF spelling:
    //   SELECT * FROM graft_downsample('events', 'ts', 'yyyy-MM-dd',
    //                                  'event_type', 'value')
    def strArg(fn: String)(e: Expression): String = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn expects string-literal arguments, got $other")
    }
    def tvf(name: String, usage: String)
           (builder: Seq[String] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      ext.injectTableFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name, usage),
        (children: Seq[Expression]) => builder(children.map(strArg(name)))))
    def tableOf(name: String) =
      org.apache.spark.sql.SparkSession.active.table(name)
    tvf("graft_downsample",
        "graft_downsample(table, ts_col, unit, key_col, value_col) — " +
        "time-bucket x series rollup (count/avg/sum/min/max)") { args =>
      require(args.size == 5,
        "graft_downsample(table, ts_col, unit, key_col, value_col)")
      graft.operators.SeriesApi.downsample(tableOf(args(0)), args(1), args(2),
        Seq(args(3)), args(4)).queryExecution.logical
    }
    tvf("graft_gapfill",
        "graft_gapfill(table, ts_col, key_col...) — dense per-series daily " +
        "spine LEFT JOIN observed day counts") { args =>
      require(args.size >= 2, "graft_gapfill(table, ts_col, key_col...)")
      graft.operators.SeriesApi.gapFillDaily(tableOf(args(0)), args(1),
        args.drop(2)).queryExecution.logical
    }
    tvf("graft_range_agg",
        "graft_range_agg(store_dir, raw_table, t0_iso, t1_iso) — the " +
        "misaligned-range aggregate routed through the RollupStore " +
        "(hour/day pre-aggregates for the aligned interior, raw scan for " +
        "the edges; day directories partition-pruned) — the dashboard " +
        "query a SQL-first user runs most (r14 verdict item 7)") { args =>
      require(args.size == 4,
        "graft_range_agg(store_dir, raw_table, t0_iso, t1_iso)")
      def us(s: String): Long =
        try {
          // full microsecond precision: toEpochMilli*1000 would silently
          // floor a '...T00:00:00.000999Z' bound by 999 µs and answer
          // differently from the equivalent epoch-micros spelling
          val i = java.time.Instant.parse(s)
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
            i.getNano / 1000L)
        } catch { case _: java.time.format.DateTimeParseException =>
          // the power-user spelling: raw epoch MICROSECONDS
          s.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"graft_range_agg: '$s' is neither an ISO-8601 instant nor epoch micros"))
        }
      graft.sources.RollupStore.rangeAgg(
        org.apache.spark.sql.SparkSession.active, args(0), tableOf(args(1)),
        us(args(2)), us(args(3))).queryExecution.logical
    }
    tvf("graft_asof",
        "graft_asof(left_table, right_table, key_col, left_ts, right_ts, " +
        "payload_col) — last right row at-or-before each left row's ts " +
        "(the custom merge-join operator)") { args =>
      require(args.size == 6,
        "graft_asof(left_table, right_table, key_col, left_ts, right_ts, payload_col)")
      graft.operators.AsOfJoin.lastBeforeExec(tableOf(args(0)), tableOf(args(1)),
        keys = Seq(args(2)), leftTs = args(3), rightTs = args(4),
        payload = Seq(args(5))).queryExecution.logical
    }
  }
}
