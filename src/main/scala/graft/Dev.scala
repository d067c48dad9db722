package graft

import org.apache.spark.sql.graftbridge.Bridge

/** Dev harness: `runMain graft.Dev <sfDir> <mode or queries> [explain|time]`.
  *
  * Modes (the second argument):
  *  - `entry` — `SparkEntry.entry` on a bare session with none of the
  *    builder's configs; prints `entry rows=N`.
  *  - `stream` — two streaming ingest passes over one checkpoint into a
  *    day-bucketed sink; prints sink vs batch row counts.
  *  - `ingestbench[:k]` — rows/s of the batch bucketed write (input
  *    replicated k times) and of one streaming exactly-once pass.
  *  - `aqeplan:q1,q2,…` — the final adaptive (executed) plan of declared
  *    queries.
  *  - `taskprof:q1,q2,…` — warm once, time the second run, and print the
  *    heaviest stages' task counts and max/median task times.
  *  - `scalebench[:mult[:families]]` — the scale rehearsal: a mult× synthetic
  *    corpus timed against sf0.1 on the production-vs-declared pairs.
  *  - otherwise a comma-separated list of declared queries (default: all),
  *    shown, explained (`explain`) or timed three times (`time`);
  *    `GRAFT_DEV_CATALOG=1` installs the stats catalog first, as Bench and
  *    Verify do.
  *
  * Finished one-off experiments are retired from this file once their
  * numbers are in BASELINE.md or OPTIMIZATION_r*.md; BASELINE.md's table
  * of retired modes says where their numbers and their code live.
  */
object Dev {

  /** Per-stage task-time tracker for `taskprof`: records every task's
    * duration and reports the most skewed stages since the last
    * report/clear (max vs median task time). Both drain the listener bus
    * first, so a stage that finished just before the call is counted. */
  private[graft] final class SkewTracker(s: org.apache.spark.sql.SparkSession) {
    private val stageTimes =
      scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    private val stageNames = scala.collection.mutable.Map[Int, String]()
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) stageTimes.synchronized {
          stageTimes.getOrElseUpdate(te.stageId,
            scala.collection.mutable.ArrayBuffer[Long]()) += te.taskInfo.duration
        }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTimes.synchronized {
          stageNames(sc.stageInfo.stageId) =
            sc.stageInfo.details.linesIterator.take(1).mkString.take(120)
        }
    })
    def clear(): Unit = {
      Bridge.drainListenerBus(s)
      stageTimes.synchronized { stageTimes.clear(); stageNames.clear() }
    }
    def report(label: String): Unit = {
      Bridge.drainListenerBus(s)
      stageTimes.synchronized {
        val worst = stageTimes.toSeq.map { case (sid, ts) =>
          val srt = ts.toSeq.sorted
          (sid, srt.last, srt(srt.size / 2), srt.size)
        }.sortBy(-_._2).take(10)
        worst.foreach { case (sid, mx, med, n) =>
          println(f"[$label] stage=$sid tasks=$n max_ms=$mx med_ms=$med " +
            f"skew=${mx.toDouble / math.max(1, med)}%.1fx  ${stageNames.getOrElse(sid, "")}")
        }
        stageTimes.clear(); stageNames.clear()
      }
    }
  }

  /** The scale-rehearsal corpus synthesizer behind `scalebench`: `nDocs`
    * documents mirroring the sf0.1 generator's measured profile —
    * 30-token vocabulary, uniform token draw, token count ~
    * Uniform(10,100), lang ≈ {en .41, others .15 each}, 20 uniform
    * sources, 5% planted near-dups (a random earlier doc truncated to
    * 50–100% of its tokens + a ' dup' marker). Everything xxhash-derived
    * — deterministic at any parallelism. */
  private def synthDocs(s: org.apache.spark.sql.SparkSession,
                        nDocs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "the", "row", "agg", "key", "query", "a", "scan", "batch")
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val base = s.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("t0", expr(
        s"array_join(transform(sequence(1, cast(10 + pmod(xxhash64(doc_id, 17), 91) as int)), " +
        s"j -> element_at($vocabSql, cast(pmod(xxhash64(doc_id, j), 30) + 1 as int))), ' ')"))
      .localCheckpoint(true) // one instantiation: dups must copy the SAME base text
    val isDup = pmod(xxhash64(col("doc_id"), lit(57L)), lit(20L)) === 0 &&
      col("doc_id") > 0
    val dups = base.filter(isDup)
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id"), lit(31L)), col("doc_id")).as("src_id"),
        (lit(50L) + pmod(xxhash64(col("doc_id"), lit(73L)), lit(51L))).as("keep_pct"))
      .join(base.select(col("doc_id").as("src_id"), col("t0").as("src_t")), "src_id")
      .select(col("doc_id"), concat(
        expr("array_join(slice(split(src_t, ' '), 1, " +
          "greatest(1, cast(size(split(src_t, ' ')) * keep_pct / 100 as int))), ' ')"),
        lit(" dup")).as("text"))
    base.filter(!isDup).select(col("doc_id"), col("t0").as("text"))
      .unionByName(dups)
      .withColumn("lang", expr(
        "case when pmod(xxhash64(doc_id, 3), 100) < 41 then 'en' " +
        "when pmod(xxhash64(doc_id, 3), 100) < 56 then 'de' " +
        "when pmod(xxhash64(doc_id, 3), 100) < 71 then 'es' " +
        "when pmod(xxhash64(doc_id, 3), 100) < 86 then 'fr' else 'zh' end"))
      .withColumn("source", concat(lit("src"), pmod(xxhash64(col("doc_id"), lit(5L)), lit(20L))))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").toSeq else SparkEntry.queries.keys.toSeq.sorted
    val explain = args.length > 2 && args(2) == "explain"
    if (names == Seq("entry")) {
      // simulate the driver's smoke check: a bare session with NONE of our
      // builder configs — Tables.events must self-heal via spark.conf.set
      val bare = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
      bare.sparkContext.setLogLevel("WARN")
      val n = SparkEntry.entry(bare).count()
      println(s"entry rows=$n")
      bare.stop()
      return
    }
    if (names == Seq("stream")) {
      // drive the streaming ingest surface end-to-end: replay events through
      // the file-source stream into a day-bucketed sink, twice (same
      // checkpoint), and report sink vs batch counts
      val s = GraftSession.build("graft-dev")
      val sink = java.nio.file.Files.createTempDirectory("sink").toString
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
      graft.streaming.StreamOps.ingest(s, sfDir, sink, ckpt).awaitTermination()
      graft.streaming.StreamOps.ingest(s, sfDir, sink, ckpt).awaitTermination()
      val sunk = s.read.parquet(sink)
      println(s"stream sink rows=${sunk.count()} days=${sunk.select("day").distinct().count()} " +
        s"batch rows=${Tables.events(s, sfDir).count()}")
      s.stop()
      return
    }
    if (names.length == 1 && names.head.startsWith("ingestbench")) {
      // time the two ingest paths over sfDir events: batch bucketed insert
      // (optionally with the input replicated `k`x — "ingestbench:k" — to
      // amortize fixed day-dir/commit costs) and one streaming exactly-once
      // pass; print rows/sec for BASELINE.md
      val mult = names.head.split(":").drop(1).headOption.map(_.toInt).getOrElse(1)
      val s = GraftSession.build("graft-dev")
      val base = Tables.events(s, sfDir)
      val events = if (mult == 1) base else {
        import org.apache.spark.sql.functions._
        // k distinct copies: shift event ids so dedup/grouping stays honest
        base.crossJoin(s.range(mult).toDF("rep"))
          .withColumn("event_id", col("event_id") * mult + col("rep"))
          .drop("rep")
      }
      val n = events.count()
      val batchDir = java.nio.file.Files.createTempDirectory("ib-batch").toString
      val t0 = System.nanoTime()
      GraftStore.create(s, batchDir, events)
      val batchSec = (System.nanoTime() - t0) / 1e9
      val rawDir = java.nio.file.Files.createTempDirectory("ib-raw").toString
      val ckpt = java.nio.file.Files.createTempDirectory("ib-ckpt").toString
      val t1 = System.nanoTime()
      graft.streaming.StreamOps.ingest(s, sfDir, rawDir, ckpt).awaitTermination()
      val streamSec = (System.nanoTime() - t1) / 1e9
      println(f"ingestbench rows=$n batch_sec=$batchSec%.2f batch_rows_per_s=${n / batchSec}%.0f " +
        f"stream_sec=$streamSec%.2f stream_rows_per_s=${n / streamSec}%.0f")
      s.stop()
      return
    }
    if (names.head.startsWith("aqeplan:")) {
      // Print the FINAL adaptive (executed) plan of a declared query —
      // explain() shows the initial plan only; AQEShuffleRead coalescing,
      // runtime join conversions and exchange reuse appear here.
      val qnames = names.head.stripPrefix("aqeplan:") +: names.tail
      val s = GraftSession.build("graft-dev")
      try GraftCatalog.install(s, sfDir)
      catch { case e: Throwable => System.err.println(s"analyze skipped: ${e.getMessage}") }
      qnames.foreach { q =>
        SparkEntry.queries.get(q).foreach { fn =>
          val df = fn(s, sfDir)
          df.queryExecution.toRdd.foreachPartition(_ => ())
          println(s"=== $q (executed) ===")
          println(df.queryExecution.executedPlan.toString)
        }
      }
      s.stop()
      return
    }
    if (names.head.startsWith("taskprof:")) {
      // Generic single-task-trap hunter (the r17 x106 find, applied as an
      // audit): run each named declared query (warm once, time second)
      // with the SkewTracker and print the 3 heaviest stages' task counts
      // — any stage with tasks=1 and a dominant max_ms is a parallelism
      // cap (AQE coalescing a tiny upstream agg under a fat downstream
      // pipeline), the shape guide §2 says to pin wide explicitly.
      // Usage: taskprof:q1,q2,...
      val qnames = names.head.stripPrefix("taskprof:") +: names.tail
      val s = GraftSession.build("graft-dev")
      try GraftCatalog.install(s, sfDir)
      catch { case e: Throwable => System.err.println(s"analyze skipped: ${e.getMessage}") }
      val tracker = new SkewTracker(s)
      qnames.foreach { q =>
        SparkEntry.queries.get(q) match {
          case None => println(s"[taskprof] unknown query $q")
          case Some(fn) =>
            def run(): Unit = fn(s, sfDir).write.format("noop").mode("overwrite").save()
            run()
            tracker.clear()
            val t0 = System.nanoTime(); run()
            println(f"[taskprof] $q%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
            tracker.report(s"taskprof/$q")
        }
      }
      s.stop()
      return
    }
    if (names.length == 1 && names.head.startsWith("scalebench")) {
      // r10 verdict item 1 — SCALE REHEARSAL: synthesize a ≥10× fixture-
      // statistics corpus and MEASURE the production-vs-declared crossover
      // pairs instead of asserting them from complexity arguments.
      // The synthetic documents mirror the sf0.1 generator's profile
      // (profiled 2026-08-15 via DuckDB over the fixture): 30-token
      // vocabulary, uniform token draw, token count ~ Uniform(10,100),
      // lang ≈ {en .41, others .15 each}, 20 uniform sources, and 5% of
      // docs planted as NEAR-DUPS (a random earlier doc truncated to
      // 50–100% of its tokens + a ' dup' marker — the fixture's exact
      // mechanism). Embeddings mirror the fixture's isotropic no-locality
      // profile: 64-dim unit-normalized, label = id mod 10. Everything is
      // xxhash-derived — deterministic at any parallelism.
      // Usage: scalebench[:mult[:pairsFilter]] (default 10 → 50k docs /
      // 20k vectors; pairsFilter ∈ text,vec limits the family).
      val parts = names.head.split(":")
      val mult = parts.lift(1).map(_.toInt).getOrElse(10)
      val fam = parts.lift(2).getOrElse("text,vec").split(",").toSet
      val s = GraftSession.build("graft-dev")
      import org.apache.spark.sql.functions._
      val outDir = java.nio.file.Files.createTempDirectory(s"scale${mult}x").toString
      val nDocs = 5000L * mult
      val nVecs = 2000L * mult
      synthDocs(s, nDocs).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      val vecs = s.range(nVecs).select(col("id").as("vec_id"))
        .withColumn("raw", expr(
          "transform(sequence(1, 64), j -> pmod(xxhash64(vec_id, j), 2000001) / 1000000.0 - 1.0)"))
        .withColumn("embedding", expr(
          "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0d, (acc, v) -> acc + v * v)) as float))"))
        .withColumn("label", pmod(col("vec_id"), lit(10L)).cast("int"))
        .drop("raw")
      vecs.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      println(s"scalebench corpus: $nDocs docs / $nVecs vecs at $outDir")
      // Measurement protocol = Bench's isolation children: 3× sf0.001
      // warmup on the same code path, then one timed noop materialization
      // per size — sf0.1 and the synthetic mult× dir measured in the SAME
      // session so the flip comparison carries no cross-session noise.
      val sizes = Seq("sf0.1" -> "/root/testdata/sf0.1", s"x$mult" -> outDir)
      def timeQ(name: String)(q: String => org.apache.spark.sql.DataFrame): Unit = {
        (1 to 3).foreach { _ =>
          try q("/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
        sizes.foreach { case (tag, dd) =>
          val t0 = System.nanoTime()
          try {
            q(dd).write.format("noop").mode("overwrite").save()
            println(f"scalebench $name%-16s $tag%-6s ${(System.nanoTime() - t0) / 1e9}%9.2f s")
          } catch { case e: Throwable =>
            println(s"scalebench $name $tag FAILED: ${e.getMessage}")
          }
        }
      }
      if (fam("text") || fam("x77")) {
        timeQ("x77_declared")(d => graft.operators.TextOps.x77Fuzzy(s, d))
        timeQ("x77_lsh")(d => graft.operators.TextOps.x77FuzzyLsh(s, d))
      }
      if (fam("text") || fam("x171")) {
        timeQ("x171_declared")(d => graft.operators.TextOps.x171EditDistance(s, d))
        timeQ("x171_banded")(d => graft.operators.TextOps.x171BandedEditDistance(s, d))
      }
      if (fam("vec")) {
        // production paths FIRST: the n² brute row can OOM the local JVM
        // past ~20k vectors (itself a finding) and would take the session
        // down with everything after it
        timeQ("x148_ivf")(d => graft.operators.VectorOps.x148MutualNnIvf(s, d))
        timeQ("q54_brute")(d => graft.operators.VectorOps.q54(s, d))
        timeQ("x08_ivf")(d => graft.operators.VectorOps.x08AnnIvf(s, d))
      }
      if (fam("vec") || fam("x08store")) {
        // The x08 PRODUCTION claim is the VectorStore's partition pruning
        // (files touched ∝ nprobe·√n of the corpus), not scan arithmetic —
        // measure the persisted-layout search per size (build untimed,
        // write-once amortized like every store row in Bench).
        sizes.foreach { case (tag, dd) =>
          try {
            val sd = java.nio.file.Files.createTempDirectory(s"svec-$tag").toString
            val st = new graft.VectorStore(s, sd)
            st.build(Tables.embeddings(s, dd).select(col("vec_id"), col("embedding")))
            st.searchContractProbes().write.format("noop").mode("overwrite").save()
            val t0 = System.nanoTime()
            st.searchContractProbes().write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            // the pruning claim, measured per size: the search's win is
            // FILES TOUCHED (∝ nprobe·probes cells of ~√n total), which
            // wall time at 10⁴–10⁵ rows cannot show
            val probes = st.table.filter(col("vec_id") < 10)
              .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
            val cells = graft.operators.VectorOps
              .probeClusters(st.centroids, probes, 2)
              .select("cluster").distinct().collect().map(_.getLong(0))
            def files(df: org.apache.spark.sql.DataFrame) =
              df.select(input_file_name()).distinct().count()
            val touched = files(st.table.filter(col("cell").isin(cells: _*)))
            val totalF = files(st.table)
            println(f"scalebench x08_store        $tag%-6s $sec%9.2f s  " +
              f"files=$touched/$totalF (${100.0 * touched / totalF}%.1f%%)")
          } catch { case e: Throwable =>
            println(s"scalebench x08_store $tag FAILED: ${e.getMessage}")
          }
        }
      }
      if (fam("vec")) // brute n² LAST (see the ordering note above)
        timeQ("x148_declared")(d => graft.operators.VectorOps.x148MutualNn(s, d))
      s.stop()
      return
    }
    val spark = GraftSession.build("graft-dev")
    // GRAFT_DEV_CATALOG=1 reproduces Bench/Verify's stats-driven planning
    if (sys.env.get("GRAFT_DEV_CATALOG").contains("1"))
      GraftCatalog.install(spark, sfDir)
    val time = args.length > 2 && args(2) == "time"
    names.foreach { n =>
      println(s"=== $n ===")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (explain) df.explain("formatted")
        if (time) {
          // 3 timed materializations through the noop sink (bench conditions)
          for (i <- 1 to 3) {
            val t0 = System.nanoTime()
            SparkEntry.queries(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            println(f"$n run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        } else df.show(10, truncate = false)
      } catch { case e: Throwable =>
        println(s"FAILED: ${e.getMessage}"); e.printStackTrace()
      }
    }
    spark.stop()
  }
}
