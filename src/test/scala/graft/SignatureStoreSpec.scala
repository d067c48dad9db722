package graft

import graft.functions.MinHashLSH
import graft.sources.SignatureStore
import org.apache.spark.sql.functions._

/** The persisted signature store must be a pure amortization: an increment
  * computed against the store is bitwise-identical to
  * `crossVerifiedPairs` over the raw frames, and the store side of the
  * band probe is scanned, not shuffled, while the batch is broadcast-small.
  */
class SignatureStoreSpec extends SparkSpecBase with SigCatalogSerialized {

  private lazy val toks = Tables.documents(spark, sfDir)
    .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
  private lazy val batch = toks.filter(pmod(col("id"), lit(7L)) === 0)
  private lazy val corpus = toks.filter(pmod(col("id"), lit(7L)) =!= 0)
  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-sigstore").toString

  test("increment over the store equals crossVerifiedPairs over raw frames") {
    SignatureStore.write(spark, corpus, dir)
    val viaStore = SignatureStore.incrementPairs(spark, batch, 0.8)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = MinHashLSH.crossVerifiedPairs(batch, corpus, 0.8)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaStore.nonEmpty, "fixture should contain cross near-dup pairs")
    assert(viaStore === direct)
  }

  test("band probe broadcasts the batch side — the corpus index never shuffles") {
    SignatureStore.write(spark, corpus, dir)
    val df = SignatureStore.incrementPairs(spark, batch, 0.8)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the banded batch broadcast onto the sig_bands scan:\n$plan")
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "j").orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("admit loop: the next increment equals a recompute over the grown corpus") {
    SignatureStore.write(spark, corpus, dir)
    val b1 = batch.filter(pmod(col("id"), lit(14L)) === 0)
    val b2 = batch.filter(pmod(col("id"), lit(14L)) =!= 0)
    val p1 = SignatureStore.admit(spark, b1, 0.8, tmp("pairs1"))
    assert(pairsOf(p1) ===
      pairsOf(MinHashLSH.crossVerifiedPairs(b1, corpus, 0.8)))
    // after the admit, the store == corpus ∪ (b1 minus matched docs); the
    // second increment must behave as a from-raw recompute over exactly that
    val novel1 = b1.join(p1.select(col("id_a").as("id")).distinct(),
                         Seq("id"), "left_anti")
    assert(spark.table("sig_docs").count() === corpus.count() + novel1.count())
    assert(pairsOf(SignatureStore.incrementPairs(spark, b2, 0.8)) ===
      pairsOf(MinHashLSH.crossVerifiedPairs(b2, corpus.unionByName(novel1), 0.8)))
  }

  test("admit closes the loop: a later dup of an admitted doc is caught; zero-pair cycles admit everything") {
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.toDF("id", "text").select(col("id"), split(col("text"), " ").as("toks"))
    SignatureStore.write(spark, docs(1L -> "alpha beta gamma delta epsilon"), dir)
    // cycle 1: nothing matches the corpus → empty sink dir read-back, all admitted
    val p1 = SignatureStore.admit(spark,
      docs(10L -> "zeta eta theta iota kappa lambda"), 0.8, tmp("pairs1"))
    assert(p1.count() === 0)
    assert(spark.table("sig_docs").count() === 2)
    // cycle 2: an exact dup of the doc ADMITTED in cycle 1 — only the store
    // (not the original corpus) can catch it
    val p2 = SignatureStore.admit(spark,
      docs(20L -> "zeta eta theta iota kappa lambda"), 0.8, tmp("pairs2"))
    assert(pairsOf(p2) === Seq((20L, 10L, 1.0)))
    assert(spark.table("sig_docs").count() === 2) // matched → not admitted
  }

  test("compact collapses accumulated file generations; increment output and probe plan unchanged") {
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.toDF("id", "text").select(col("id"), split(col("text"), " ").as("toks"))
    val storeDir = tmp("store-compact")
    SignatureStore.write(spark, corpus, storeDir)
    // three admit cycles of novel docs — each appends one file per bucket
    SignatureStore.admit(spark, docs(9001L -> "aa bb cc dd ee"), 0.8, tmp("cp1"))
    SignatureStore.admit(spark, docs(9002L -> "ff gg hh ii jj"), 0.8, tmp("cp2"))
    SignatureStore.admit(spark, docs(9003L -> "kk ll mm nn oo"), 0.8, tmp("cp3"))
    def setsFiles: Int = {
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("sig_sets")).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).count(_.getPath.getName.endsWith(".parquet"))
    }
    val docsBefore = spark.table("sig_docs").count()
    val before = pairsOf(SignatureStore.incrementPairs(spark, batch, 0.8))
    val filesBefore = setsFiles
    SignatureStore.compact(spark, storeDir)
    assert(setsFiles < filesBefore, s"compact did not shrink files: $filesBefore -> $setsFiles")
    assert(spark.table("sig_docs").count() === docsBefore)
    assert(pairsOf(SignatureStore.incrementPairs(spark, batch, 0.8)) === before)
    // the compacted store still accepts appends (bucket spec survived the swap)
    SignatureStore.admit(spark, docs(9004L -> "pp qq rr ss tt"), 0.8, tmp("cp4"))
    assert(spark.table("sig_docs").count() === docsBefore + 1)
  }

  test("ST12 streamed ingest-dedup equals sequential batch-mode admits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val b1 = batch.filter(pmod(col("id"), lit(14L)) === 0)
    val b2 = batch.filter(pmod(col("id"), lit(14L)) =!= 0)
    // expected: two batch-mode admit cycles against a fresh store
    SignatureStore.write(spark, corpus, tmp("store-batchmode"))
    val e1 = pairsOf(SignatureStore.admit(spark, b1, 0.8, tmp("ep1")))
    val e2 = pairsOf(SignatureStore.admit(spark, b2, 0.8, tmp("ep2")))
    val expectedDocs = spark.table("sig_docs").count()
    // actual: the same two batches through the ST12 foreachBatch stream
    SignatureStore.write(spark, corpus, tmp("store-streamed"))
    val raw = Tables.documents(spark, sfDir).select("doc_id", "text")
    def texts(ids: org.apache.spark.sql.DataFrame) =
      raw.join(ids.select(col("id").as("doc_id")), "doc_id")
        .as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val sink = tmp("st12-pairs")
    val q = graft.streaming.StreamOps.dedupIngest(
      input.toDF().toDF("doc_id", "text"), sink, tmp("st12-ckpt"), 0.8)
    input.addData(texts(b1)); q.processAllAvailable()
    input.addData(texts(b2)); q.processAllAvailable()
    q.stop()
    def sunk(b: Int) = spark.read.schema("id_a BIGINT, id_b BIGINT, j DOUBLE")
      .parquet(s"$sink/batch_id=$b")
    assert(pairsOf(sunk(0)) === e1)
    assert(pairsOf(sunk(1)) === e2)
    assert(spark.table("sig_docs").count() === expectedDocs)
  }

  test("catalog-swap crash window heals: an increment after a crash between " +
       "DROP and RENAME completes the swap and serves identical pairs") {
    val storeDir = tmp("store-swapcrash")
    SignatureStore.write(spark, corpus, storeDir)
    val before = pairsOf(SignatureStore.incrementPairs(spark, batch, 0.8))
    SignatureStore.compact(spark, storeDir)
    val after = pairsOf(SignatureStore.incrementPairs(spark, batch, 0.8))
    assert(after === before)
    // inject the crash state: compaction dropped sig_docs and died before
    // renaming sig_docs_compact in — simulate by renaming the live table OUT
    spark.sql("ALTER TABLE sig_docs RENAME TO sig_docs_compact")
    // the next increment must complete the swap and serve the same pairs
    assert(pairsOf(SignatureStore.incrementPairs(spark, batch, 0.8)) === before,
      "increment did not heal the half-swapped catalog")
    assert(spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier("sig_docs")))
    // same for the bucketed side, healed by append's entry
    spark.sql("ALTER TABLE sig_sets RENAME TO sig_sets_compact")
    import spark.implicits._
    SignatureStore.append(spark,
      Seq((77001L, "pp qq rr ss tt")).toDF("id", "text")
        .select(col("id"), split(col("text"), " ").as("toks")))
    assert(pairsOf(SignatureStore.incrementPairs(spark, batch, 0.8)) === before,
      "append did not heal the half-swapped sig_sets")
  }

  test("replay fence: a completed admit re-run under its batch id neither " +
       "grows the store nor changes the served pairs") {
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.toDF("id", "text").select(col("id"), split(col("text"), " ").as("toks"))
    SignatureStore.write(spark, docs(1L -> "alpha beta gamma delta epsilon"),
      tmp("store-fence"))
    val sink = tmp("fence-pairs")
    val b0 = docs(30L -> "zeta eta theta iota kappa",
                  31L -> "alpha beta gamma delta epsilon")
    val p1 = pairsOf(SignatureStore.admit(spark, b0, 0.8, s"$sink/batch_id=0",
      batchId = Some(0L)))
    assert(p1 === Seq((31L, 1L, 1.0)))
    assert(spark.table("sig_docs").count() === 2) // corpus + the novel doc 30
    val setsBefore = spark.table("sig_sets").count()
    // crash-and-replay: the checkpoint never committed, the SAME batch id
    // arrives again — the fence must serve the durable pairs back untouched
    val p2 = pairsOf(SignatureStore.admit(spark, b0, 0.8, s"$sink/batch_id=0",
      batchId = Some(0L)))
    assert(p2 === p1, "fenced replay changed the served pairs")
    assert(spark.table("sig_docs").count() === 2, "fenced replay grew sig_docs")
    assert(spark.table("sig_sets").count() === setsBefore,
      "fenced replay grew sig_sets")
    // the next batch id is not fenced: a dup of doc 30 (admitted in batch 0)
    // is caught — the store state the fence protected is live and correct
    val p3 = pairsOf(SignatureStore.admit(spark,
      docs(40L -> "zeta eta theta iota kappa"), 0.8, s"$sink/batch_id=1",
      batchId = Some(1L)))
    assert(p3 === Seq((40L, 30L, 1.0)))
    assert(spark.table("sig_docs").count() === 2) // matched -> not admitted
  }

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "text").select(col("id"), split(col("text"), " ").as("toks"))
  }

  test("mid-append crash BEFORE the commit rename: partial files are never " +
       "served, the orphan stage is discarded, the replay appends exactly once") {
    val storeDir = tmp("store-stagecrash")
    SignatureStore.write(spark, docsOf(1L -> "alpha beta gamma delta epsilon"), storeDir)
    val b = docsOf(50L -> "zeta eta theta iota kappa",
                   51L -> "alpha beta gamma delta epsilon")
    // the append dies mid-stage-write: files present under the stage dir,
    // nothing committed, fence unmoved
    SignatureStore.stageAppend(spark, storeDir, "b0",
      docsOf(50L -> "zeta eta theta iota kappa"),
      MinHashLSH.Params(), splits = None)
    assert(new java.io.File(storeDir).listFiles
      .exists(_.getName.startsWith("_append_stage_")), "injection failed")
    // reads serve exactly the pre-crash store — the staged files are invisible
    assert(spark.table("sig_docs").count() === 1)
    assert(SignatureStore.incrementPairs(spark,
      docsOf(60L -> "zeta eta theta iota kappa"), 0.8).count() === 0,
      "a reader saw the dead append's partial files")
    // the replayed cycle discards the orphan and converges to one append
    val p = pairsOf(SignatureStore.admit(spark, b, 0.8, tmp("sc-pairs"),
      batchId = Some(0L)))
    assert(p === Seq((51L, 1L, 1.0)))
    assert(spark.table("sig_docs").count() === 2, "replay did not append exactly once")
    assert(!new java.io.File(storeDir).listFiles
      .exists(_.getName.startsWith("_append_stage_")), "orphan stage not discarded")
  }

  test("mid-append crash AFTER the commit rename: the next access drains the " +
       "whole batch (never a partial), fences it, and the replay is a no-op") {
    val storeDir = tmp("store-commitcrash")
    SignatureStore.write(spark, docsOf(1L -> "alpha beta gamma delta epsilon"), storeDir)
    val sink = tmp("cc-pairs")
    val b = docsOf(50L -> "zeta eta theta iota kappa",
                   51L -> "alpha beta gamma delta epsilon")
    // replicate admit's pre-crash work: durable pairs sink, stage, COMMIT —
    // then die before the fence write and before any publish move
    SignatureStore.incrementPairs(spark, b, 0.8)
      .write.mode("overwrite").parquet(sink)
    SignatureStore.stageAppend(spark, storeDir, "b0",
      docsOf(50L -> "zeta eta theta iota kappa"),
      MinHashLSH.Params(), splits = None)
    graft.sources.StagedAppend.commit(spark, storeDir, "b0")
    // a plain READER drains the committed batch to completion: the full
    // batch becomes visible atomically (never a partial subset) and the
    // drain advances the fence — committed must imply admitted
    val viaStore = pairsOf(SignatureStore.incrementPairs(spark,
      docsOf(60L -> "zeta eta theta iota kappa"), 0.8))
    assert(viaStore === Seq((60L, 50L, 1.0)),
      "committed batch was not drained for a reader")
    assert(spark.table("sig_docs").count() === 2)
    assert(graft.sources.AdmitFence.admitted(spark, storeDir, 0L),
      "draining a committed fenced batch must advance the fence")
    // the replayed admit is a pure no-op serving the durable pairs back
    val p = pairsOf(SignatureStore.admit(spark, b, 0.8, sink, batchId = Some(0L)))
    assert(p === Seq((51L, 1L, 1.0)))
    assert(spark.table("sig_docs").count() === 2,
      "replay after the commit double-appended")
    assert(!new java.io.File(storeDir).listFiles
      .exists(_.getName.startsWith("_append_ready_")), "ready dir not cleaned")
  }

  /** The store root holds exactly one data dir per catalog table — the one
    * its catalog location names — and an increment equals a recompute. */
  private def assertReclaimed(storeDir: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = spark.sessionState.catalog
    val named = Seq("sig_docs", "sig_sets", "sig_splits")
      .filter(t => cat.tableExists(TableIdentifier(t)))
      .map(t => new org.apache.hadoop.fs.Path(cat.getTableMetadata(TableIdentifier(t))
        .location).getName).toSet
    val dirs = new java.io.File(storeDir).listFiles
      .filter(f => f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    assert(dirs === named, "generation dirs the catalog does not name survived")
    assert(pairsOf(SignatureStore.incrementPairs(spark, batch, 0.8)) ===
      pairsOf(MinHashLSH.crossVerifiedPairs(batch, corpus, 0.8)))
  }

  /** A compact's staging of `sig_docs` at `sig_docs_g1`, as a crash leaves it. */
  private def stageDocsCompact(storeDir: String): Unit =
    spark.read.parquet(s"$storeDir/sig_docs").write.format("parquet")
      .option("path", s"$storeDir/sig_docs_g1").saveAsTable("sig_docs_compact")

  test("compact after a crash between DROP TABLE and the rename reclaims " +
       "the dropped generation's dir") {
    val storeDir = tmp("store-dropcrash")
    SignatureStore.write(spark, corpus, storeDir)
    stageDocsCompact(storeDir)
    spark.sql("DROP TABLE sig_docs") // EXTERNAL: the sig_docs dir stays
    SignatureStore.compact(spark, storeDir)
    assertReclaimed(storeDir)
  }

  test("compact after a crash before the DROP reclaims the orphan staging's dir") {
    val storeDir = tmp("store-stagingcrash")
    SignatureStore.write(spark, corpus, storeDir)
    stageDocsCompact(storeDir)
    SignatureStore.compact(spark, storeDir)
    assertReclaimed(storeDir)
  }

  test("write over a compacted store reclaims its generation dirs") {
    val storeDir = tmp("store-rewrite")
    SignatureStore.write(spark, corpus, storeDir)
    SignatureStore.compact(spark, storeDir)
    SignatureStore.write(spark, corpus, storeDir)
    assertReclaimed(storeDir)
  }
}
