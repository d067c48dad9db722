package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index (postings) store — the retrieval-stack member
  * of the engine's index-store family (SignatureStore = near-dup,
  * VectorStore = ANN, this = lexical search): the corpus is tokenized and
  * aggregated ONCE into (term, doc_id, tf, len, df) postings, and every
  * subsequent BM25 query reads ONLY its own terms' postings instead of
  * re-exploding the corpus (x83's inline form pays the full scan+explode
  * per query — correct as a declared query, wrong as a serving plan).
  *
  * Layout:
  *   dir/postings/tb=K/part-*.parquet  -- term-hash buckets, rows sorted
  *                                        by (term, doc_id) inside each
  *   dir/stats/part-*.parquet          -- 1 row: (n_docs, avglen)
  *
  * Read path: the query's bucket ids are computed from the SAME xxhash64
  * expression the writer used (evaluated on a |terms|-row frame — a
  * bounded control-plane collect, the VectorStore probe-cluster pattern),
  * so the scan lists only the matching `tb=` directories; within them the
  * `term IN (...)` predicate reaches parquet row groups, which the
  * per-bucket (term, doc_id) sort keeps clustered. Per-term df derives
  * from the FILTERED postings at query time (one tiny aggregate of the
  * posting lists already in hand — broadcast back onto them), so nothing
  * term-global is materialized in the index and appends can never leave
  * a stale denormalized df behind: postings ⋈ broadcast df ⋈ broadcast
  * stats → BM25 → top-k, all posting-list-sized from the first operator.
  *
  * Scale: the index build is one shuffle of the exploded corpus into
  * term-hash buckets (write-once, amortized like every store here); a
  * query's work is proportional to its terms' posting lists — the
  * inverted-index contract — and the top-k is a TakeOrdered, never a
  * corpus sort. */
class PostingsStore(spark: SparkSession, dir: String) {

  private def postingsOf(docs: DataFrame, buckets: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
        explode(col("toks")).as("term"))
    toks.groupBy("term", "doc_id", "len").agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets.toLong)))
  }

  /** The postings layout: one shuffle into term-hash buckets, rows sorted
    * by (term, doc_id) inside each so the row-group clustering holds. */
  private def writePostings(postings: DataFrame, path: String): Unit =
    postings
      .repartition(col("tb"))
      .sortWithinPartitions("term", "doc_id")
      .write.partitionBy("tb").mode("overwrite").parquet(path)

  /** Stats are ADDITIVE (n_docs, sum_len) — avglen derives at query time,
    * so append grows them by a delta row instead of a corpus re-agg. */
  private def writeStats(docs: DataFrame, path: String): Unit =
    docs.select(size(split(col("text"), " ")).cast("long").as("len"))
      .agg(count(lit(1)).as("n_docs"), sum("len").as("sum_len"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  def build(docs: DataFrame, buckets: Int = 64): Unit =
      WriterLease.withLease(spark, dir) {
    StagedAppend.reset(fsys, dir)
    // survivor generation pointers would aim the fresh build at a
    // previous store's retired generations
    GenDir.reset(fsys, dir, "postings")
    GenDir.reset(fsys, dir, "stats")
    writePostings(postingsOf(docs, buckets), s"$dir/postings")
    writeStats(docs, s"$dir/stats")
    SmallFile.write(fsys, new Path(s"$dir/buckets"), buckets.toString)
  }

  /** Incremental index growth — the SignatureStore/VectorStore `append`
    * analogue: the batch's postings land in the SAME term-hash buckets
    * and the corpus stats grow by an ADDITIVE delta row, summed at read
    * (query-time df + additive stats mean nothing else in the index
    * depends on the corpus as a whole, and an append never rewrites
    * resident state at all — the old read-modify-overwrite of the 1-row
    * stats could crash between the postings append and the stats write
    * and leave avglen permanently inconsistent).
    *
    * The postings files AND the stats delta run one [[StagedAppend]]
    * cycle, so they land together or not at all. With `batchId` the
    * [[AdmitFence]] makes REPLAY exactly-once too; unfenced retries
    * remain the caller's coordination, and ST27's file-sink manifest
    * stays the continuous path. */
  def append(docs: DataFrame, batchId: Option[Long] = None): Unit =
      WriterLease.withLease(spark, dir) {
    // heal an interrupted compact first: appending into an absent
    // postings/ would fork a fresh index and orphan every resident row
    recover()
    healAppends(dropStages = true)
    StagedAppend.append(spark, dir, batchId, liveFor)(stageAppend(docs, _))
  }

  /** The append's stage step (exposed for the crash-injection specs,
    * which kill here or after the commit). */
  private[graft] def stageAppend(docs: DataFrame, token: String): Unit = {
    val stage = StagedAppend.stagePath(dir, token).toString
    writePostings(postingsOf(docs, bucketCount), s"$stage/postings")
    writeStats(docs, s"$stage/stats")
  }

  private def liveFor(name: String): Path =
    if (name == "postings" || name == "stats") new Path(liveDir(name)) // current generation
    else new Path(s"$dir/$name")

  /** Drain the staged-append protocol (see [[StagedAppend.heal]]). */
  private def healAppends(dropStages: Boolean): Unit =
    StagedAppend.heal(spark, dir, liveFor, dropStages)

  // the FILESYSTEM of the store ROOT (not the session default — store
  // roots legitimately live on s3a/gs while defaultFS is HDFS)
  private def fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The LIVE dir for a compacted base ("postings"/"stats") —
    * pointer-resolved: after an object-store compact the current
    * generation is named by the POSTINGS pointer ([[GenDir]]); stats
    * derive from its suffix ([[resolveBoth]] — the single source of
    * truth, so appends land their stats delta in the SAME generation
    * queries read even after a crash left the bookkeeping stats pointer
    * ahead). Rename-swapped stores keep the classic names (no pointer —
    * falls through). */
  private def liveDir(base: String): String = {
    val (p, s) = resolveBoth(fsys)
    if (base == "stats") s else p
  }

  /** Resolve the postings AND stats generation dirs as one consistent
    * pair from ONE pointer read: both generations of a pointer-mode
    * compact share the same `_g<nanos>` suffix and BOTH are fully
    * written before either pointer flips ([[GenDir.rewrite]] publishes
    * `stats` before `postings`), so `postings_gN` implies `stats_gN`
    * exists — the postings pointer alone names the pair, and no
    * interleaving of reads with a concurrent flip can mix generations
    * (the r15 review showed the previous re-read loop could not actually
    * close that window: a stable postings pointer after the flip still
    * paired with a pre-flip stats read). A pointer-free store resolves
    * to the classic names. The stats pointer still exists, but only as
    * sweep bookkeeping — no query path reads it, and the sweep keeps the
    * derived stats dir alive as well. */
  private def resolveBoth(fsOnce: FileSystem): (String, String) = {
    val p = GenDir.currentName(fsOnce, dir, "postings")
    if (p == "postings") (s"$dir/postings", s"$dir/stats")
    else (s"$dir/$p", s"$dir/stats_g${p.stripPrefix("postings_g")}")
  }

  private def bucketCount: Int =
    SmallFile.text(fsys, new Path(s"$dir/buckets"))
      .getOrElse(sys.error(s"no postings store at $dir (no $dir/buckets)")).toInt

  /** BM25 top-k over the stored postings for `terms`. Reads only the
    * buckets the query terms hash to (same xxhash64 as the writer). A
    * term can hash to a bucket NO write has ever populated (sparse
    * corpus, unlucky hash) — those paths are dropped by an existence
    * probe (|terms| cheap metadata calls, control-plane-sized) instead
    * of letting the parquet reader throw on a legitimate query; no
    * surviving bucket means no posting can match, so the result is the
    * empty top-k, not an error. */
  def bm25(terms: Seq[String], k: Int = 20): DataFrame = {
    // ONE FileSystem handle per query (the hot serving path): `fsys` is a
    // def and each pointer resolution costs an exists+read, so repeated
    // resolution is wasted object-store round-trips. An absent postings
    // dir is an interrupted compact (see recover); the postings/stats
    // PAIR resolves from the single postings pointer (resolveBoth).
    val fsOnce = fsys
    if (!fsOnce.exists(GenDir.livePath(fsOnce, dir, "postings"))) recover()
    healAppends(dropStages = false) // never serve a half-published batch
    val (postingsDir, statsDir) = resolveBoth(fsOnce)
    val n = bucketCount
    import spark.implicits._
    // bucket ids via the writer's own hash expression — |terms| rows
    val tbs = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(n.toLong)).as("tb"))
      .distinct().collect().map(_.getLong(0)).sorted
    val paths = tbs.map(t => s"$postingsDir/tb=$t")
      .filter(p => fsOnce.exists(new Path(p)))
    if (paths.isEmpty) return PostingsStore.emptyResult(spark)
    val p = spark.read.option("basePath", postingsDir).parquet(paths: _*)
      .filter(col("term").isin(terms: _*))
    // stats rows are additive deltas (one per append) — fold to one row
    val stats = spark.read.parquet(statsDir)
      .agg(sum("n_docs").as("n_docs"), sum("sum_len").as("sum_len"))
    PostingsStore.score(p, stats, k)
  }

  /** Collapse every term-hash bucket back to ONE file generation — the
    * SignatureStore.compact analogue closing `append`'s small-files
    * decay (each append lands a new file set beside the residents of
    * every touched bucket; after B batches a bucket holds B generations
    * and the per-query open cost grows linearly for no data reason). One
    * [[GenDir.rewrite]] of both bases: postings in the build's own layout,
    * and the stats' additive delta rows (one per append) folded back to
    * one row. The bucket count is untouched — compaction moves bytes,
    * never meaning. The live dirs are POINTER-RESOLVED: a store migrated
    * from the object-store posture keeps its generation pointers, and
    * compacting the classic names there would rewrite a dir no reader
    * resolves. */
  def compact(): Unit = WriterLease.withLease(spark, dir) {
    recover() // first: the drain below would publish into an absent live dir
    healAppends(dropStages = true)
    val (postings, stats) = resolveBoth(fsys)
    GenDir.rewrite(spark, dir, Seq(
      // the rewrite targets a sibling dir, so the read and the write never
      // touch the same files — no eager checkpoint needed
      GenDir.Swap("postings", new Path(postings), (src, dst) =>
        writePostings(spark.read.parquet(src), dst)),
      GenDir.Swap("stats", new Path(stats), (src, dst) =>
        spark.read.parquet(src)
          .agg(sum("n_docs").as("n_docs"), sum("sum_len").as("sum_len"))
          .coalesce(1).write.mode("overwrite").parquet(dst))))
  }

  /** Heal an interrupted compact ([[GenDir.rollBack]]) for both bases, at
    * their pointer-resolved live dirs; the pointer posture has no window
    * to heal. */
  private def recover(): Unit =
    if (AtomicRename.isAtomic(spark, dir))
      Seq("postings", "stats").foreach(b => GenDir.rollBack(fsys, dir, b, new Path(liveDir(b))))
}

object PostingsStore {

  private val k1 = 1.2
  private val b  = 0.75

  /** The zero-row BM25 result (schema matches [[score]]'s output) — what
    * a query whose terms all hash to never-written buckets returns. */
  private[graft] def emptyResult(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_terms", LongType, nullable = false),
        StructField("score", DoubleType))))
  }

  /** BM25 over an already-filtered postings frame: df derives from the
    * posting lists themselves (a ≤|terms|-row aggregate, broadcast back),
    * so the index never stores a term-global that appends could stale.
    * `stats` is the additive (n_docs, sum_len) row; avglen derives here —
    * sum/count in double, bit-identical to Spark's `avg` over longs. */
  private[graft] def score(p: DataFrame, stats: DataFrame, k: Int): DataFrame = {
    val df = p.groupBy("term").agg(count(lit(1)).as("df"))
    val st = stats.select(col("n_docs"),
      (col("sum_len").cast("double") / col("n_docs")).as("avglen"))
    p.join(broadcast(df), "term").crossJoin(broadcast(st))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("part",
        col("idf") * col("tf") * lit(1.0 + k1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avglen"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        graft.functions.Rounding.dround(sum("part"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
