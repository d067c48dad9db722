package graft

import org.apache.spark.sql.functions._

/** §2.11's SQL entry points: the typed UDAF (`latest_point`) and the
  * expression-injected aggregate fold (`ema_arr`) must both be reachable
  * from `spark.sql`, and must agree with their Column-API formulations.
  */
class SqlSurfaceSpec extends SparkSpecBase {

  test("latest_point UDAF is callable from SQL and matches max_by") {
    graft.functions.SeriesFunctions.register(spark)
    Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT user_id, event_type,
        |       latest_point(unix_micros(ts), value) AS last_value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin).collect().toSeq
    val viaCol = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type")
      .agg(max_by(col("value"), col("ts")).as("last_value"))
      .orderBy("user_id", "event_type")
      .collect().toSeq
    assert(viaSql.nonEmpty && viaSql == viaCol)
  }

  test("ema_arr is callable from SQL and matches the hand fold") {
    val got = spark.sql("SELECT ema_arr(array(1.0D, 2.0D, 3.0D), 0.5D) AS e")
      .collect().head.getDouble(0)
    // seed 1.0; 1.0*0.5 + 2.0*0.5 = 1.5; 1.5*0.5 + 3.0*0.5 = 2.25
    assert(got == 2.25)
  }

  test("ema_arr SQL output is bitwise-identical to the Column formulation") {
    Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT user_id,
        |  ema_arr(transform(array_sort(collect_list(struct(ts, value))),
        |                    s -> s.value), 0.3D) AS e
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
      .collect().toSeq
    val viaCol = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(graft.functions.SeriesFunctions.ema(
        transform(array_sort(collect_list(struct(col("ts"), col("value")))),
                  s => s.getField("value")), 0.3).as("e"))
      .orderBy("user_id")
      .collect().toSeq
    assert(viaSql.nonEmpty && viaSql == viaCol)
  }

  test("cos_sim_udf (scalar UDF surface) is bitwise-identical to the codegen cosine") {
    graft.functions.SeriesFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), col("embedding"))
    val both = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.functions.VectorExpressions.vecCosine(col("a.embedding"), col("b.embedding")).as("kernel"),
        call_udf("cos_sim_udf", col("a.embedding"), col("b.embedding")).as("viaUdf"))
      .collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getDouble(0).compareTo(r.getDouble(1)) == 0))
  }

  test("vec_dot is callable from SQL (extensions registration)") {
    val got = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    assert(got == 4.0)
  }

  test("pair-verify kernel family is callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  sorted_intersect_count(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS sic,
        |  sorted_intersect_count_int(array(1, 2, 3), array(2, 3, 4)) AS sici,
        |  sig_match_count(array(9L, 8L, 7L), array(9L, 0L, 7L)) AS smc,
        |  first_match_index(array(1L, 2L), array(9L, 2L)) AS fmi""".stripMargin)
      .collect().head
    assert(r.getInt(0) === 2 && r.getInt(1) === 2 &&
           r.getInt(2) === 2 && r.getInt(3) === 1)
  }

  test("sorted_intersect_count counts INT arrays and rejects other element types " +
       "at analysis") {
    // a literal call (constant-folded, interpreted eval) and a call over a
    // scanned column (generated code) both read INT elements
    assert(spark.sql("SELECT sorted_intersect_count(array(1, 3, 7), array(3, 5, 7))")
      .collect().head.getInt(0) === 2)
    spark.range(1).selectExpr("array(CAST(id AS INT) + 1, 3, 7) AS a", "array(3, 5, 7) AS b")
      .createOrReplaceTempView("int_sets")
    assert(spark.sql("SELECT sorted_intersect_count(a, b) FROM int_sets")
      .collect().head.getInt(0) === 2)
    Seq("array(1, 3), array(3L, 5L)", "array('a', 'b'), array('b', 'c')").foreach { args =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT sorted_intersect_count($args)").collect())
      assert(e.getMessage.contains("sorted_intersect_count"), e.getMessage)
    }
  }

  test("sig_match_count and first_match_index widen INT arrays and reject " +
       "non-integral elements at analysis") {
    assert(spark.sql("SELECT sig_match_count(array(9, 8, 7), array(9, 0, 7))")
      .collect().head.getInt(0) === 2)
    assert(spark.sql("SELECT first_match_index(array(1, 2), array(9, 2))")
      .collect().head.getInt(0) === 1)
    Seq("sig_match_count", "first_match_index").foreach { f =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $f(array(1.5D, 2.5D), array(1.5D, 3.5D))").collect())
      assert(e.getMessage.contains(f), e.getMessage)
    }
  }

  // —— the TS-package TVF surface (r13 verdict item 8): each TVF hands its
  // arguments to the Column-API operator and returns THAT plan, so SQL ≡
  // Column holds at the optimized-plan level (canonicalized — exprIds are
  // the only legitimate difference), not merely on output rows.
  private def planOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.canonicalized

  test("graft_downsample TVF: FROM-clause SQL equals SeriesApi.downsample, " +
       "same optimized plan") {
    Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      "SELECT * FROM graft_downsample('events', 'ts', 'yyyy-MM-dd', " +
        "'event_type', 'value') ORDER BY bucket, event_type")
    val viaCol = graft.operators.SeriesApi.downsample(spark.table("events"),
        "ts", "yyyy-MM-dd", Seq("event_type"), "value")
      .orderBy("bucket", "event_type")
    assert(viaSql.collect().toSeq == viaCol.collect().toSeq)
    assert(planOf(viaSql) == planOf(viaCol),
      "the TVF must produce the Column API's plan, not a lookalike")
  }

  test("graft_gapfill TVF: FROM-clause SQL equals SeriesApi.gapFillDaily, " +
       "same optimized plan") {
    Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      "SELECT * FROM graft_gapfill('events', 'ts', 'event_type') " +
        "ORDER BY d, event_type")
    val viaCol = graft.operators.SeriesApi.gapFillDaily(spark.table("events"),
        "ts", Seq("event_type"))
      .orderBy("d", "event_type")
    assert(viaSql.collect().toSeq == viaCol.collect().toSeq)
    assert(planOf(viaSql) == planOf(viaCol))
  }

  test("graft_asof TVF: FROM-clause SQL equals AsOfJoin.lastBeforeExec " +
       "(the custom merge-join operator), same optimized plan") {
    Tables.registerAll(spark, sfDir)
    val e = Tables.events(spark, sfDir)
    e.filter(col("event_type") === "error").select("user_id", "ts")
      .createOrReplaceTempView("asof_errs")
    e.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id", "value")
      .createOrReplaceTempView("asof_clks")
    val viaSql = spark.sql(
      "SELECT * FROM graft_asof('asof_errs', 'asof_clks', 'user_id', " +
        "'ts', 'ts', 'value') ORDER BY user_id, ts")
    val viaCol = graft.operators.AsOfJoin.lastBeforeExec(
        spark.table("asof_errs"), spark.table("asof_clks"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("value"))
      .orderBy("user_id", "ts")
    assert(viaSql.collect().toSeq == viaCol.collect().toSeq)
    assert(planOf(viaSql) == planOf(viaCol))
    assert(viaSql.queryExecution.executedPlan.toString
             .contains("AsOfMergeJoin"),
      "the SQL spelling must reach the custom exec operator")
  }

  test("graft_range_agg TVF: FROM-clause SQL equals RollupStore.rangeAgg " +
       "(the rollup router), same optimized plan, same rows as the raw scan") {
    Tables.registerAll(spark, sfDir)
    val storeDir = java.nio.file.Files.createTempDirectory("rollup_tvf").toString
    graft.sources.RollupStore.build(Tables.events(spark, sfDir), storeDir)
    val (t0s, t1s) = ("2024-01-05T00:30:10Z", "2024-01-20T07:45:00Z")
    val (t0, t1) = (java.time.Instant.parse(t0s).toEpochMilli * 1000L,
                    java.time.Instant.parse(t1s).toEpochMilli * 1000L)
    val viaSql = spark.sql(
      s"SELECT * FROM graft_range_agg('$storeDir', 'events', '$t0s', '$t1s') " +
        "ORDER BY event_type")
    val viaCol = graft.sources.RollupStore.rangeAgg(spark, storeDir,
        spark.table("events"), t0, t1)
      .orderBy("event_type")
    assert(viaSql.collect().toSeq == viaCol.collect().toSeq)
    assert(planOf(viaSql) == planOf(viaCol),
      "the TVF must produce the Column API router's plan, not a lookalike")
    // the routed answer equals the raw scan's (the store contract), and
    // the epoch-micros spelling parses to the same plan
    val direct = graft.operators.TimeSeriesOps.rangeContract(
      graft.sources.RollupStore.directAgg(spark.table("events"), t0, t1))
    val routed = graft.operators.TimeSeriesOps.rangeContract(viaSql)
    assert(routed.orderBy("event_type").collect().toSeq ==
      direct.orderBy("event_type").collect().toSeq)
    val viaMicros = spark.sql(
      s"SELECT * FROM graft_range_agg('$storeDir', 'events', '$t0', '$t1') " +
        "ORDER BY event_type")
    assert(planOf(viaMicros) == planOf(viaCol))
    // sub-millisecond ISO bounds keep full microsecond precision (r15
    // review finding: toEpochMilli*1000 floored them by up to 999 µs)
    val viaIsoMicros = spark.sql(
      s"SELECT * FROM graft_range_agg('$storeDir', 'events', " +
        s"'2024-01-05T00:30:10.000999Z', '$t1s') ORDER BY event_type")
    val viaColMicros = graft.sources.RollupStore.rangeAgg(spark, storeDir,
        spark.table("events"), t0 + 999L, t1)
      .orderBy("event_type")
    assert(planOf(viaIsoMicros) == planOf(viaColMicros),
      "ISO micro-precision bound was truncated to milliseconds")
  }
}
