package graft.sources

import graft.functions.MinHashLSH
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature store — the amortization that makes x42's
  * incremental dedup a batch-only cost at 100 TB.
  *
  * `crossVerifiedPairs` recomputes two corpus-side artifacts per call,
  * both deterministic per-row kernels over the raw table: the MinHash
  * band arrays (64 splitmix rounds over every token — the expensive part)
  * and the sorted token-hash verify sets. A deployment computes them ONCE
  * at ingest and persists:
  *
  *  - `sig_docs` (id, sz, bands): ONE row per doc, band array unexploded —
  *    the probe target. The (band, sig) explosion happens at query time
  *    inside the scan stage (posexplode generator — no shuffle, no
  *    storage), which keeps the index |corpus| rows AND keeps the
  *    first-match-band candidate dedup map-side, since both sides' full
  *    band arrays ride the join. (The v1 layout stored pre-exploded rows
  *    without the array and had to dedup with a (id_a, id_b) aggregate:
  *    31.7M pre-dedup candidate rows → 1.8M pairs at sf0.1, one shuffle
  *    that cost more than the whole direct recompute. See
  *    [[MinHashLSH.hashedDocs]].)
  *  - `sig_sets` (id, set): the verify payload, BUCKETED + sorted by id
  *    ([[BucketedFacts]]' trick) so the candidate⨝sets join leaves the
  *    corpus side exchange-free once it outgrows AQE's broadcast
  *    threshold; until then AQE broadcasts it like the direct path.
  *
  * The increment itself is [[MinHashLSH.crossVerifiedFromHashed]] — the
  * SAME core the from-raw path runs, so store ≡ recompute holds by
  * construction (SignatureStoreSpec asserts it end-to-end anyway).
  */
object SignatureStore {

  /** The store's catalog tables; `sig_splits` only in a routed store. */
  private val tables = Seq("sig_docs", "sig_sets", "sig_splits")

  /** Heal compaction's catalog-swap window: a compact that crashed
    * between `DROP TABLE t` and `ALTER TABLE t_compact RENAME TO t`
    * leaves the live data fully present under the `_compact` name with
    * the serving name absent — complete the rename. (A crash BEFORE the
    * drop leaves both names; the next compact's `DROP IF EXISTS
    * t_compact` discards the orphan catalog entry.) The tables are
    * EXTERNAL, so a DROP keeps their dirs: the dropped generation's dir,
    * and an orphan staging's, stay on disk until the next compact's
    * sweep. Single-writer, like every heal here; called by the
    * readers/mutators and by compact itself. */
  private def healSwap(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = spark.sessionState.catalog
    tables.foreach { t =>
      if (!cat.tableExists(TableIdentifier(t)) &&
          cat.tableExists(TableIdentifier(s"${t}_compact")))
        spark.sql(s"ALTER TABLE ${t}_compact RENAME TO $t")
    }
  }

  /** The store's root directory, catalog-derived (survives compaction's
    * generation renames: `sig_docs_g<gen>`'s parent is still the root) —
    * where [[AdmitFence]]'s watermark lives. */
  private def storeRoot(spark: SparkSession): String =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("sig_docs"))
      .location).getParent.toString

  /** Write the corpus's signature index + verify payload as catalog tables
    * under `path`. Idempotent (overwrites). `toks`: (id, toks) with the
    * same tokenization later increments will use. */
  def write(spark: SparkSession, toks: DataFrame, path: String,
            buckets: Int = 8, p: MinHashLSH.Params = MinHashLSH.Params()): Unit =
      WriterLease.withLease(spark, path) {
    spark.sql("DROP TABLE IF EXISTS sig_docs")
    spark.sql("DROP TABLE IF EXISTS sig_sets")
    // sig_splits too, even though the PLAIN store never writes it: a
    // survivor registration from a previous ROUTED store at a different
    // root would otherwise ride into this store's catalog, and the next
    // compact would faithfully "compact" the foreign table into this
    // root — across filesystems, if the old store was local and this one
    // is an object store (caught live in the r14 flat-object soak)
    spark.sql("DROP TABLE IF EXISTS sig_splits")
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedAppend.reset(fsys, path)
    // a compacted store's `<t>_g<gen>` dirs outlive the DROPs above
    tables.foreach(GenDir.reset(fsys, path, _))
    MinHashLSH.hashedDocs(toks, p)
      .write.format("parquet")
      .option("path", s"$path/sig_docs")
      .mode("overwrite").saveAsTable("sig_docs")
    MinHashLSH.tokenSets(toks)
      .repartition(buckets, col("id"))
      .write.format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .option("path", s"$path/sig_sets")
      .mode("overwrite").saveAsTable("sig_sets")
  }

  /** Live-directory resolver for [[StagedAppend]]: each staged table name
    * maps to its CURRENT catalog location (survives compaction's
    * generation renames — resolution happens at publish time). */
  private def sigLive(spark: SparkSession): String => org.apache.hadoop.fs.Path = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    name => new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(name)).location)
  }

  /** Drain the staged-append protocol ([[StagedAppend.heal]]) and refresh
    * the catalog's file listings when anything moved. Metadata-only when
    * there is nothing to heal — one listStatus of the store root. */
  private def healAppends(spark: SparkSession, dropStages: Boolean): Unit =
    if (StagedAppend.heal(spark, storeRoot(spark), sigLive(spark), dropStages).nonEmpty)
      refreshTables(spark)

  /** Published files reach a table's readers only once its cached file
    * listing is refreshed. */
  private def refreshTables(spark: SparkSession): Unit =
    tables.foreach { t =>
      if (spark.sessionState.catalog.tableExists(
            org.apache.spark.sql.catalyst.TableIdentifier(t)))
        spark.catalog.refreshTable(t)
    }

  /** The increment: near-dup pairs (batch id, corpus id) at `threshold`,
    * with every corpus-side artifact read from the store instead of
    * recomputed. Output identical to
    * `MinHashLSH.crossVerifiedPairs(batch, corpus, threshold)`. */
  def incrementPairs(spark: SparkSession, batch: DataFrame, threshold: Double,
                     p: MinHashLSH.Params = MinHashLSH.Params()): DataFrame = {
    healSwap(spark) // complete an interrupted compact's catalog swap
    healAppends(spark, dropStages = false) // serve no half-published batch
    MinHashLSH.crossVerifiedFromHashed(
      MinHashLSH.hashedDocs(batch, p), MinHashLSH.tokenSets(batch),
      spark.table("sig_docs"), spark.table("sig_sets"), threshold)
  }

  /** Append a batch's signatures to the store — the admit step of the
    * continuous-ingest loop, through the [[StagedAppend]] protocol, so a
    * partial batch is never served. `sig_docs` grows by |batch| rows,
    * `sig_sets` gets one more file per bucket (the staged write
    * re-declares the catalog's bucket spec, so an append can never
    * silently change the bucketing — bucket ids ride the staged FILE
    * NAMES through the publish move). The per-append cost is the
    * per-row kernels over the BATCH only — the whole point of the store:
    * corpus work is never redone, at any corpus size. */
  def append(spark: SparkSession, toks: DataFrame,
             p: MinHashLSH.Params = MinHashLSH.Params()): Unit =
    appendStaged(spark, toks, p, splits = None, batchId = None)

  /** The full staged-append cycle; `splits` rides the same stage/commit/
    * publish as the signatures so [[routeAndAdmit]]'s split rows can never
    * land without their signatures (or twice). */
  private[graft] def appendStaged(spark: SparkSession, toks: DataFrame,
                                  p: MinHashLSH.Params,
                                  splits: Option[DataFrame],
                                  batchId: Option[Long]): Unit = {
    healSwap(spark) // an append into a half-swapped catalog would fork
    val root = storeRoot(spark)
    WriterLease.withLease(spark, root) {
      healAppends(spark, dropStages = true)
      if (StagedAppend.append(spark, root, batchId, sigLive(spark))(
            stageAppend(spark, root, _, toks, p, splits)))
        refreshTables(spark)
    }
  }

  /** The append's stage step (exposed for the crash-injection specs,
    * which kill the append here or after [[StagedAppend.commit]] and
    * assert convergence). */
  private[graft] def stageAppend(spark: SparkSession, root: String,
                                   token: String, toks: DataFrame,
                                   p: MinHashLSH.Params,
                                   splits: Option[DataFrame]): Unit = {
    val stage = StagedAppend.stagePath(root, token).toString
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("sig_sets"))
      .bucketSpec
      .getOrElse(sys.error("sig_sets lost its bucket spec; rebuild the store"))
    MinHashLSH.hashedDocs(toks, p)
      .write.mode("overwrite").parquet(s"$stage/sig_docs")
    // bucketed staging rides a throwaway EXTERNAL table: the bucket id is
    // encoded in each file's NAME, so the files stay a valid extension of
    // the live bucketed table after the publish move; dropping the table
    // leaves the staged files in place. The name carries the stage token:
    // a crashed attempt's leftover catalog entry is then dropped by ITS
    // OWN replay (same token ⇒ same name ⇒ the DROP IF EXISTS below)
    // instead of colliding with an unrelated batch's in-flight staging.
    // (Two SignatureStores in one session cannot actually coexist — the
    // catalog names are session-global — so the r12 ADVICE race this
    // renames away is defense-in-depth for metastore-shared sessions,
    // not a reachable in-session bug.)
    val stageTable = s"sig_sets_stage_$token"
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    MinHashLSH.tokenSets(toks)
      .repartition(spec.numBuckets, col("id"))
      .write.format("parquet")
      .bucketBy(spec.numBuckets, "id").sortBy("id")
      .option("path", s"$stage/sig_sets")
      .mode("overwrite").saveAsTable(stageTable)
    spark.sql(s"DROP TABLE $stageTable")
    splits.foreach(_.write.mode("overwrite").parquet(s"$stage/sig_splits"))
  }

  /** One cycle of the continuous-ingest dedup loop: compute the batch's
    * near-dup pairs against the store, sink them DURABLY to `pairsDir`
    * (overwrite — a replayed cycle rewrites its own output, never
    * duplicates it), then admit (append) the signatures of the batch docs
    * with no match. Returns the pairs, read back from the sink.
    *
    * The order is load-bearing: `incrementPairs` is a lazy plan over the
    * `sig_docs`/`sig_sets` tables, so any re-evaluation AFTER the append
    * (cache eviction, task retry, executor loss) would observe the store
    * growing under it. Sinking the snapshot durably before the store
    * mutates removes that window entirely — cheaper-but-unsafe
    * alternatives (persist + count) only narrow it. The read-back uses an
    * explicit schema so a zero-pair cycle (empty sink dir) stays valid.
    *
    * Intra-batch duplicates are NOT resolved here (the store loop is
    * batch-vs-corpus, like x42): a production ingest runs the x38
    * dedup-first collapse + within-batch q53 pass upstream, so `batch` is
    * already internally unique by the time it reaches the store.
    *
    * Replay fence: pass the streaming `batchId` and a cycle whose append
    * already completed ([[AdmitFence]] watermark beside the store) is not
    * re-run — the pairs come back from the durable sink (written BEFORE
    * the fence ever advances, so a fenced batch's pairs always exist) and
    * the store does not grow. The append itself is one [[StagedAppend]]
    * cycle. Batch-mode callers omit `batchId` and keep unfenced (but still
    * stage-committed) semantics. */
  def admit(spark: SparkSession, batch: DataFrame, threshold: Double,
            pairsDir: String,
            p: MinHashLSH.Params = MinHashLSH.Params(),
            batchId: Option[Long] = None): DataFrame = {
    healSwap(spark) // BEFORE storeRoot: in the DROP→RENAME crash window
    // sig_docs is absent from the catalog and the fence check's metadata
    // lookup would throw on every restart retry — the one caller that
    // could never reach the heal it needs (r11 ADVICE)
    healAppends(spark, dropStages = false) // drain even on the fenced path
    def readPairs = spark.read.schema("id_a BIGINT, id_b BIGINT, j DOUBLE")
      .parquet(pairsDir)
    if (batchId.exists(id => AdmitFence.admitted(spark, storeRoot(spark), id)))
      return readPairs
    incrementPairs(spark, batch, threshold, p)
      .write.mode("overwrite").parquet(pairsDir)
    val pairs = readPairs
    val novel = batch.join(pairs.select(col("id_a").as("id")).distinct(),
                           Seq("id"), "left_anti")
    appendStaged(spark, novel, p, splits = None, batchId = batchId)
    pairs
  }

  /** [[write]] plus a `sig_splits` table (id, split): leak-safe split
    * assignments for the initial corpus, keyed on the CC cluster id so
    * every near-dup cluster lands whole in one split (x48's rule). The
    * router ([[routeAndAdmit]]) consults and extends this table. */
  def writeRouted(spark: SparkSession, toks: DataFrame, path: String,
                  buckets: Int = 8, threshold: Double = 0.8,
                  p: MinHashLSH.Params = MinHashLSH.Params()): Unit =
      WriterLease.withLease(spark, path) {
    write(spark, toks, path, buckets, p)
    spark.sql("DROP TABLE IF EXISTS sig_splits")
    val pairs = MinHashLSH.verifiedPairs(toks, threshold)
    graft.functions.ConnectedComponents
      .labels(toks.select(col("id")), pairs.select(col("id_a"), col("id_b")))
      .select(col("id"), graft.functions.SplitRule.of(col("comp")).as("split"))
      .write.format("parquet")
      .option("path", s"$path/sig_splits")
      .mode("overwrite").saveAsTable("sig_splits")
  }

  /** One cycle of the leak-safe STREAMING split router (ST13's per-batch
    * body): compute the batch's near-dup pairs against the store; a doc
    * with a match INHERITS the split of its first (min-id) corpus match —
    * a near-dup of a test doc can never land in train — while a novel doc
    * splits by [[graft.functions.SplitRule]] on its OWN id, which is
    * exactly the id later dups will match and inherit from. Routed rows
    * (id, match_id, matched, split) sink durably to `outDir` BEFORE the
    * store mutates (admit's ordering discipline), then the novel docs'
    * signatures and splits append.
    *
    * Online vs batch honesty: this is the prefix-greedy approximation of
    * x48's batch CC. Direct inheritance is guaranteed (spec-executed);
    * what it cannot do is RE-split history when a later doc bridges two
    * existing clusters that already sit in different splits — the
    * standard price of online union-find without relabeling. A pipeline
    * that needs the closed-form property re-runs x48 over the store
    * offline (cheap: x48_split_only) and diffs. */
  def routeAndAdmit(spark: SparkSession, batch: DataFrame, outDir: String,
                    threshold: Double = 0.8,
                    p: MinHashLSH.Params = MinHashLSH.Params(),
                    batchId: Option[Long] = None): DataFrame = {
    healSwap(spark) // before storeRoot — same restart-retry heal as admit
    healAppends(spark, dropStages = false)
    def readRouted = spark.read
      .schema("id BIGINT, match_id BIGINT, matched INT, split STRING")
      .parquet(outDir)
    // same replay fence as admit: routed rows are durable before the fence
    // advances, so a fenced cycle serves them back without growing the store
    if (batchId.exists(id => AdmitFence.admitted(spark, storeRoot(spark), id)))
      return readRouted
    val inherit = incrementPairs(spark, batch, threshold, p)
      .groupBy(col("id_a").as("id")).agg(min("id_b").as("match_id"))
      .join(spark.table("sig_splits").select(col("id").as("match_id"), col("split")),
            "match_id")
    batch.select("id")
      .join(inherit.select(col("id"), col("match_id"), col("split")), Seq("id"), "left")
      .select(col("id"), col("match_id"),
        col("match_id").isNotNull.cast("int").as("matched"),
        coalesce(col("split"), graft.functions.SplitRule.of(col("id"))).as("split"))
      .write.mode("overwrite").parquet(outDir)
    val routed = readRouted
    val novelIds = routed.filter(col("matched") === 0).select("id")
    // one staged cycle for signatures AND splits: either both publish or
    // neither — split rows can never land without their signatures (or
    // twice on a fenced replay)
    appendStaged(spark, batch.join(novelIds, Seq("id"), "left_semi"), p,
      splits = Some(routed.filter(col("matched") === 0)
        .select(col("id"), col("split"))),
      batchId = batchId)
    routed
  }

  /** Rewrite every table down to one file generation — the maintenance
    * job a long-lived store schedules after many admits. Every [[append]]
    * adds one file per bucket to `sig_sets` and one file set to `sig_docs`
    * (and to a routed store's `sig_splits`), so file count grows linearly
    * with admit cycles and the probe scan pays per-file open cost — the
    * classic small-files decay. The rewrite stages every table as a fresh
    * `<t>_g<gen>` generation dir under a `<t>_compact` name, then swaps
    * each catalog name, then drops every generation dir the catalog no
    * longer names ([[GenDir.dropGens]]). Data is never modified in place,
    * so a crash mid-compact leaves the live tables intact: an orphan
    * staging, or one table's swap half done (healed by [[healSwap]]), and
    * leftover dirs the next compact's sweep reclaims. Same single-writer
    * assumption as BucketedLayout's day swap, and the same brief window:
    * between the DROP and the RENAME the table name is absent from the
    * catalog. */
  def compact(spark: SparkSession, path: String): Unit =
      WriterLease.withLease(spark, path) {
    import org.apache.spark.sql.catalyst.TableIdentifier
    healSwap(spark) // complete an interrupted prior swap before staging
    // drain committed appends first — a compact from a store missing a
    // committed pending batch would silently drop it from the rewrite
    healAppends(spark, dropStages = true)
    val cat = spark.sessionState.catalog
    def loc(t: String) = new org.apache.hadoop.fs.Path(
      cat.getTableMetadata(TableIdentifier(t)).location)
    val n = cat.getTableMetadata(TableIdentifier("sig_sets")).bucketSpec
      .getOrElse(sys.error("sig_sets lost its bucket spec; rebuild the store"))
      .numBuckets
    val gen = java.lang.System.nanoTime()
    // routed stores also accumulate one sig_splits file per admit cycle
    val present = tables.filter(t => cat.tableExists(TableIdentifier(t)))
    present.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact")
      // Read the generations by PATH, not via the catalog: a `spark.table`
      // scan of a table already bucketed (id, n) satisfies the
      // repartition(n, id) clustering, so Spark elides the shuffle — and
      // then (no join/agg to feed) auto-disables the bucketed scan, reading
      // the small files in file-order partitions. Each write task then holds
      // rows of MANY buckets and emits one file per (task, bucket): the
      // rewrite is still a correct bucketed table, but the file count never
      // shrinks — the one job compact exists to do. A bare parquet read
      // carries no bucket metadata, so the shuffle survives and each task
      // receives exactly one bucket → one file per bucket per table.
      val df = spark.read.parquet(loc(t).toString)
      val w =
        if (t == "sig_sets") df.repartition(n, col("id")).write.bucketBy(n, "id").sortBy("id")
        else df.repartition(n).write
      w.format("parquet").option("path", s"$path/${t}_g$gen")
        .saveAsTable(s"${t}_compact")
    }
    present.foreach { t =>
      spark.sql(s"DROP TABLE $t")
      spark.sql(s"ALTER TABLE ${t}_compact RENAME TO $t")
    }
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    present.foreach(t => GenDir.dropGens(fsys, path, t, Set(loc(t).getName)))
  }
}
