package graft.operators

import graft.Tables
import graft.functions.{IterCheckpoint, LongPairs, MinHashLSH}
import graft.functions.Rounding.dround
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** SURVEY.md §2.10 text side (Q52/Q53/Q55/Q56) plus the training-data
  * pipeline extras (x-series): SimHash, char-n-gram near-dup, language-ID,
  * quality scoring, token counting, fingerprinting.
  *
  * All tokenization is `split(text, ' ')` — the documents fixture is plain
  * lowercase space-separated tokens (FIXTURES.md).
  */
object TextOps {

  private def docTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))

  /** Contract ORDER BY over an expensive UNMATERIALIZED pipeline, pinned
    * behind one hash exchange. Spark's range partitioner launches a
    * separate boundary-SAMPLING job over the sort's child RDD, so when
    * the subtree below the final sort is a wide broadcast-join megastage
    * (the LSH pair pipelines: explode → band join → verify all fuse into
    * one stage with no shuffle in between), that whole stage executes
    * TWICE — once to sample range boundaries, once to shuffle (measured
    * r16 on x93: ORDER BY added 12.0 s to a 13.2 s computation; guide
    * §2.4 — remove shuffles/passes you didn't know you had). The hash
    * repartition materializes the pipeline ONCE as an AQE query stage;
    * the sampling job then reads its shuffle files instead of recomputing
    * the pipeline, and the added exchange carries only the final output
    * rows. REPARTITION_BY_NUM keeps AQE from coalescing the sort input.
    * Callers must pass a TOTALLY-ORDERING key list (every declared pair
    * query's sort keys are unique), so output order is unchanged. */
  private[graft] def pinnedOrder(df: DataFrame, cols: String*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, cols.map(col): _*).orderBy(cols.map(col): _*)
  }

  /** Q52 exact dedup: content hash groups with deterministic survivor
    * (min doc_id). Scale: one hash-shuffle on sha256 — the canonical
    * exact-dedup at any size. */
  def q52(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      .orderBy("h")

  /** Q53 near-dup via MinHash LSH, judged on the exact-Jaccard-verified
    * pair list (≥ 0.8 over token sets) — see [[MinHashLSH]] for the scale
    * story. Oracle computes exact all-pairs Jaccard in SQL. */
  def q53(s: SparkSession, d: String): DataFrame =
    pinnedOrder(
      MinHashLSH.verifiedPairs(docTokens(s, d), 0.8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("j")),
      "doc_a", "doc_b")

  /** Q55 text stats per (lang, source): doc-level aggregates joined with the
    * exploded-token distinct count (two partial aggs, one broadcastable). */
  def q55(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val perDoc = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), dround(avg("n_chars"), 2).as("avg_chars"))
    val toks = docs
      .select(col("lang"), col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "source")
      .agg(countDistinct("tok").as("n_distinct_tokens"))
    perDoc.join(toks, Seq("lang", "source"))
      .orderBy("lang", "source")
  }

  /** Q56 TF-IDF top-5 terms per lang.
    * score(term,lang) = total_tf · (ln((N+1)/(df+1)) + 1), formula pinned in
    * FIXTURES.md; ranking on the rounded score with term tiebreak so both
    * engines select identical rows. */
  def q56(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val n = docs.groupBy(col("lang").as("n_lang")).agg(countDistinct("doc_id").as("n_docs"))
    val stats = toks.groupBy("lang", "term")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
    val w = Window.partitionBy("lang").orderBy(col("score").desc, col("term"))
    stats.join(broadcast(n), col("lang") === col("n_lang"))
      .withColumn("score",
        dround(col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("rnk"), col("term"), col("score"))
      .orderBy("lang", "rnk")
  }

  /** x01 SimHash near-dup, ORACLE-CHECKED: the 64-bit token hash is the
    * first 16 hex chars of md5 — the one hash both engines compute
    * identically — so the full pipeline (signature → banded candidates →
    * hamming ≤ 3 verification) has an exact DuckDB twin
    * ([[graft.SparkEntry.oracleSql]] generates it from the same bit-index
    * loop; the twin uses an OR-of-bands join, fine at oracle scale, while
    * this side keeps the banded equi-join that scales).
    *
    * Signature: bit_j = sign of Σ_tokens (±1 by bit j of md5(tok)),
    * computed as 64 sum() columns in ONE aggregate pass; candidate pairs
    * via 4×16-bit band buckets (hamming ≤ 3 ⇒ some band matches exactly,
    * pigeonhole over 4 bands); verified with Σ bit_count(xor) ≤ 3. */
  def x01Simhash(s: SparkSession, d: String): DataFrame = {
    val tok = docTokens(s, d).select(col("id"), explode(col("toks")).as("tok")).distinct()
      .withColumn("hl", graft.functions.TextExpressions.hexPrefixToLong(md5(col("tok"))))
    // bit_j of the nibble-indexed SimHash formula (nibble j/4 of the hex
    // string, shift j%4 within it) read from the parsed big-endian long:
    // one codegen'd shift per bit instead of a locate+substr chain
    // (FunctionsSpec asserts all 64 bits equal the locate formulation, and
    // the DuckDB twin keeps the nibble formula — values are identical)
    val bitSums = (0 until 64).map { j =>
      val bit = shiftright(col("hl"), 4 * (15 - j / 4) + j % 4).bitwiseAND(1)
      sum(bit * 2 - 1).as(s"s$j")
    }
    val sigBits = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val bandKeys = (0 until 4).map { k =>
      (k * 16 until (k + 1) * 16)
        .map(j => when(col(s"s$j") > 0, lit(1L << (j % 16))).otherwise(0L))
        .reduce(_ + _).as(s"k$k")
    }
    // widen before the explode+self-join: the signature agg collapses to ~1
    // AQE partition, but the band join's row explosion must run cluster-wide
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sig = sigBits.select((col("id") +: bandKeys): _*).repartition(nPart)
    // a hamming≤3 pair matches in up to all 4 bands; the first-match band
    // join (MinHashLSH.firstMatchJoin) emits it once, from the first
    val banded = sig.select(col("id"),
        array((0 until 4).map(k => col(s"k$k")): _*).as("bands"))
      .select(col("id"), col("bands"), posexplode(col("bands")).as(Seq("band", "key")))
    val hamming = (0 until 4)
      .map(k => bit_count(col(s"a.k$k").bitwiseXOR(col(s"b.k$k"))))
      .reduce(_ + _).cast("long")
    MinHashLSH.firstMatchJoin(banded, banded)
      // unhinted payload rejoins: the signature table is O(corpus), so a
      // forced broadcast would OOM at scale — AQE broadcasts only while the
      // measured build side is actually small (see MinHashLSH.verify)
      .join(sig.as("a"), col("id_a") === col("a.id"))
      .join(sig.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), hamming.as("hamming"))
      .filter(col("hamming") <= 3)
      .transform(pinnedOrder(_, "doc_a", "doc_b"))
  }

  /** x02 char-3-gram near-dup: same MinHash-LSH machinery over character
    * shingles instead of word tokens (catches reorder/edit near-dups that
    * token-set Jaccard misses). The trigram universe is bounded
    * (≤ |alphabet|³ at any corpus size), so the verify sets are
    * dictionary-encoded ints — half the verify bytes per candidate, same j
    * bitwise. Oracle: exact all-pairs trigram Jaccard. */
  def x02NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d).select(col("doc_id").as("id"),
      graft.functions.TextExpressions.charGrams(col("text"), 3).as("toks"))
    pinnedOrder(
      MinHashLSH.verifiedPairsDict(grams, 0.7)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("j")),
      "doc_a", "doc_b")
  }

  /** x03 language-ID: data-derived n-gram-profile heuristic. Profile = top-20
    * tokens per lang (count desc, token tiebreak); prediction = lang whose
    * profile overlaps the doc's tokens most (score desc, lang tiebreak).
    * Output is the confusion matrix. Profiles are tiny → broadcast. */
  def x03LangId(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    val wProf = Window.partitionBy("p_lang").orderBy(col("cnt").desc, col("tok"))
    val profile = toks.groupBy(col("lang").as("p_lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(wProf))
      .filter(col("r") <= 20)
      .select(col("p_lang"), col("tok"))
    val wPred = Window.partitionBy("doc_id").orderBy(col("score").desc, col("p_lang"))
    val pred = toks.select(col("doc_id"), col("lang"), col("tok")).distinct()
      .join(broadcast(profile), Seq("tok"))
      .groupBy("doc_id", "lang", "p_lang")
      .agg(count(lit(1)).as("score"))
      .withColumn("r", row_number().over(wPred))
      .filter(col("r") === 1)
    pred.groupBy(col("lang"), col("p_lang").as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")
  }

  /** x04 quality score: 0.3·min(1, n_tok/100) + 0.3·(distinct/total) +
    * 0.4·min(1, n_chars/500), evaluated as EXACT integer arithmetic over a
    * common denominator with one final correctly-rounded IEEE division —
    * bitwise-identical on every engine (a rounded float sum of small
    * rationals sits on 4-dp knife edges and diverged between engines). */
  def x04Quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(split(col("text"), " "))).cast("long"))
      .withColumn("num",
        lit(15L) * least(col("n_tok"), lit(100L)) * col("n_tok")
          + lit(1500L) * col("n_distinct")
          + lit(4L) * least(col("n_chars"), lit(500L)) * col("n_tok"))
      .select(col("doc_id"),
        (col("num").cast("double") / (col("n_tok") * 5000L).cast("double")).as("quality"))
      .orderBy("doc_id")

  /** x05 token counting: whitespace tokens, alphabetic char mass, and a
    * BPE-ish subword count (letter runs / digit runs / single other-chars —
    * the pre-tokenization shape BPE vocabularies start from; same RE2-safe
    * class regex on both engines). */
  def x05TokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"),
              length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").as("n_alpha"),
              size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
                .cast("long").as("n_bpe"),
              col("n_chars"))
      .orderBy("doc_id")

  /** x11 stopword-ratio quality: stopwords = the corpus's own top-30 tokens
    * by document frequency (deterministic, data-derived — no external list,
    * broadcast to every task); per-doc ratio of stopword occurrences to
    * total tokens. The classic "too many function words" quality dimension
    * that x04's length/diversity ratios don't capture. */
  def x11StopwordRatio(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // global top-30 by document frequency via TakeOrdered (no unpartitioned
    // window): the ordered limit over the |vocab|-row aggregate is tiny
    val stop = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy("tok").agg(countDistinct("doc_id").as("df"))
      .orderBy(col("df").desc, col("tok"))
      .limit(30)
      .select(col("tok").as("stop_tok"))
    toks.join(broadcast(stop), col("tok") === col("stop_tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
           count(col("stop_tok")).as("n_stop"))
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
              dround(col("n_stop").cast("double") / col("n_tok"), 4).as("stop_ratio"))
      .orderBy("doc_id")
  }

  /** x06 document fingerprinting: whole-content md5 prefix + a winnowing-style
    * rolling fingerprint (min over all 8-char window hashes) — the rolling
    * min is one [[graft.functions.RollingMd5Min]] eval per document instead
    * of a per-window interpreted HOF pipeline. */
  def x06Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
              substring(md5(col("text")), 1, 16).as("fp"),
              graft.functions.TextExpressions.rollingMd5Min(col("text"), 8).as("fp_rolling"))
      .orderBy("doc_id")

  /** x14 near-dup cluster resolution: connected components over Q53's
    * exact-verified pair graph, giving each doc its duplicate-cluster id
    * (min doc_id in the cluster) and a keeper flag — the stage that turns a
    * pair LIST into an actual deduplicated corpus (keep `is_keeper = 1`,
    * drop the rest). Components via [[graft.functions.ConnectedComponents]]
    * min-label propagation (scale story there). Oracle: DuckDB recursive
    * CTE over the same exact-Jaccard edges. */
  def x14DedupClusters(s: SparkSession, d: String): DataFrame =
    x14DedupClustersFrom(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x14 core over a PRECOMPUTED verified-pair frame (columns id_a, id_b) —
    * the pipeline entry point: a dedup pipeline has q53's pair list already
    * materialized, so cluster resolution must not re-derive it (r4 verdict:
    * ~5 s of x14's 9.1 s at sf0.1 was edge-list recomputation). The declared
    * standalone query above stays self-contained for the oracle contract;
    * Bench times this overload separately as `x14_cc_only` against
    * parquet-materialized q53 pairs, so the CC stage's true cost is a
    * measured number. */
  def x14DedupClustersFrom(s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
    graft.functions.ConnectedComponents.labels(nodes, pairs.select(col("id_a"), col("id_b")))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
              (col("id") === col("comp")).cast("int").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** x82 cluster-size histogram — the dedup report's headline chart: how
    * many near-dup clusters exist at each size (singletons = unique docs;
    * the tail is where the duplicated mass hides). The pair cost is q53's
    * (irreducible, BASELINE.md); everything past the labels is two
    * aggregate-sized reductions: cluster → size, size → count. The
    * duplicate-mass summary a curator reads is this table times its
    * index — reported here exactly, per size. */
  def x82ClusterSizes(s: SparkSession, d: String): DataFrame =
    x82From(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x82 over a PRECOMPUTED pair frame — Bench's `x82_hist_only` row:
    * the marginal cost past the (already-priced) pair scan is two
    * aggregate-sized reductions. */
  def x82From(s: SparkSession, d: String, pairs: DataFrame): DataFrame =
    x14DedupClustersFrom(s, d, pairs)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
      .orderBy("size")

  /** x97 cluster transitivity audit — the dedup-quality readout that tells
    * a curator whether clusters are cliques (every member pair directly
    * verified ≥ 0.8) or chains (members joined only transitively through
    * intermediates — the "semantic drift" failure where A~B~C but A and C
    * share little). Per cluster size: cluster count, directly-verified
    * pairs, possible pairs s·(s−1)/2, and the transitive-gap share. A gap
    * near 0 says threshold-0.8 clusters are tight; a gap growing with size
    * says big clusters are chain artifacts and the threshold (or a
    * max-diameter cut) needs revisiting.
    *
    * Scale: q53's pair list + x14's labels (both already costed); past
    * those, one |pairs| join onto labels and two aggregate-sized
    * reductions. All-integer until the one rounded share. */
  def x97ClusterAudit(s: SparkSession, d: String): DataFrame =
    x97From(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x97 over a PRECOMPUTED pair frame — Bench's `x97_audit_only` row:
    * past the pair scan, one |pairs| join onto labels plus two
    * aggregate-sized reductions (the CC itself is priced as x14_cc_only).
    *
    * EAGER (r16 ADVICE): constructing this DataFrame runs the full pair
    * derivation as a Spark job (the `localCheckpoint(true)` below) and
    * pins the checkpoint blocks in the block manager until an explicit
    * release (`spark.sparkContext.getPersistentRDDs` + unpersist — Bench's
    * scrubLight does exactly this) or driver GC. Callers that only need
    * the PLAN (explain dumps, schema checks) still pay the computation. */
  def x97From(s: SparkSession, d: String, pairsIn: DataFrame): DataFrame = {
    // The pair frame feeds TWO separate actions: the CC stage (whose own
    // eager checkpoint of the symmetrized edges is a standalone job) and
    // the `direct` join in the final plan. Without a materialization the
    // full LSH pair derivation ran TWICE per call — measured r16: x97
    // standalone 16.1 s ≈ 2 × q53's 7.4 s + CC + audit (guide §1.2/§2.4:
    // remove recomputed passes before tuning anything else). One eager
    // localCheckpoint pins the pair list; both consumers read the leaf.
    val pairs = pairsIn.select("id_a", "id_b").localCheckpoint(true)
    val labels = x14DedupClustersFrom(s, d, pairs)
      .select(col("doc_id"), col("cluster_id"))
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .filter(col("size") >= 2)
    // an edge's endpoints share a cluster by construction — label via id_a
    val direct = pairs
      .join(labels.select(col("doc_id").as("id_a"), col("cluster_id")), "id_a")
      .groupBy("cluster_id").agg(count(lit(1)).as("direct"))
    sizes.join(direct, "cluster_id")
      .withColumn("possible", expr("size * (size - 1) div 2"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_clusters"),
        sum("direct").as("direct_pairs"),
        sum("possible").as("possible_pairs"),
        dround(lit(1.0) - sum("direct").cast("double")
          / sum("possible").cast("double"), 4).as("gap"))
      .orderBy("size")
  }

  /** x83 BM25 retrieval — the canonical sparse ranking function, scored
    * for a fixed 3-term query ("hash join filter", k1 = 1.2, b = 0.75,
    * Lucene's idf = ln(1 + (N − df + 0.5)/(df + 0.5))): top-20 docs by
    * (rounded score DESC, doc_id). The lexical half of every retrieval
    * stack next to x08's dense ANN — hybrid search is exactly these two
    * rankers' lists fused.
    *
    * Scale: term frequencies come from one explode + (doc, term) hash agg
    * FILTERED to the query terms at the scan (3-term IN pushdown — the
    * postings read, not a corpus tokenization); df/avglen are tiny
    * broadcast aggregates; the rank window runs over matched docs only.
    * All FP inputs are integer-derived (tf, df, lengths), one rounded
    * score. */
  def x83Bm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "filter")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"), col("toks"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg("len").as("avglen"))
    val tf = docs.select(col("doc_id"), col("len"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "len", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("part",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), dround(sum("part"), 4).as("score"))
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= 20)
      .select("doc_id", "n_terms", "score")
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** x84 hybrid fusion (RRF) — the step that makes x83 + dense search a
    * retrieval SYSTEM: reciprocal-rank fusion (k = 60) of x83's BM25
    * top-20 with the dense top-20 around probe vector 0 (q54's exact
    * cosine machinery), fused top-10 by (rounded RRF, id). RRF is the
    * production fusion default because it needs no score calibration —
    * only ranks — which also makes it oracle-friendly: every input is an
    * integer rank, the score a sum of ≤2 exact divisions.
    *
    * Scale: both lists are top-k (tiny) before the fusion join touches
    * them — the fusion itself is k-sized work regardless of corpus size;
    * the candidate generators carry the scale story (x83's postings
    * pushdown, x08's IVF for the dense side in production). */
  def x84Rrf(s: SparkSession, d: String): DataFrame = {
    val sparse = x83Bm25(s, d)
    val ws = Window.orderBy(col("score").desc, col("doc_id"))
    val sparseTop = sparse.withColumn("rank_s", row_number().over(ws))
      .select(col("doc_id").as("id"), col("rank_s"))
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("p_emb"))
    val dense = e.crossJoin(broadcast(probe)).filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("id"),
        dround(graft.functions.VectorExpressions.vecCosine(col("embedding"), col("p_emb")), 4).as("cos"))
    val wd = Window.orderBy(col("cos").desc, col("id"))
    val denseTop = dense.withColumn("rank_d", row_number().over(wd))
      .filter(col("rank_d") <= 20).select("id", "rank_d")
    val fused = sparseTop.join(denseTop, Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(lit(1.0) / (col("rank_s") + 60).cast("double"), lit(0.0)) +
         coalesce(lit(1.0) / (col("rank_d") + 60).cast("double"), lit(0.0))).as("rrf_raw"),
        col("rank_s").isNotNull.cast("int").as("in_sparse"),
        col("rank_d").isNotNull.cast("int").as("in_dense"))
      .withColumn("rrf", dround(col("rrf_raw"), 4))
    val wf = Window.orderBy(col("rrf").desc, col("id"))
    fused.withColumn("r", row_number().over(wf)).filter(col("r") <= 10)
      .select("id", "rrf", "in_sparse", "in_dense")
      .orderBy(col("rrf").desc, col("id"))
  }

  /** x15 deterministic stratified sampling: per-language sampling rates
    * applied as a pure hash filter — `md5(doc_id)` is uniform over hex
    * strings, so a lexicographic prefix bound IS the rate (bound '19' ≈
    * 25/256 ≈ 9.8%). Zero shuffle, zero state: a scan-filter that is
    * embarrassingly parallel at any corpus size, reproducible across runs
    * and engines (md5 of the decimal id string is engine-independent —
    * unlike rand(seed), which is partitioning-dependent in Spark). The
    * per-stratum CASE is how a pipeline rebalances sources (here: keep
    * 'en' at ~10%, upsample the rest at ~30%). */
  def x15StratifiedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("h", md5(col("doc_id").cast("string")))
      .filter(col("h") < when(col("lang") === "en", lit("19")).otherwise(lit("4c")))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** x17 benchmark-contamination detection: which corpus docs contain ≥ 5
    * distinct 5-gram token shingles of a benchmark set (here: doc_id < 20
    * stands in for an eval benchmark) — the asymmetric CONTAINMENT check a
    * training pipeline runs before/after dedup (near-dup Jaccard misses a
    * benchmark question quoted inside a much longer page; shingle
    * containment does not). Scale: benchmark shingle sets are tiny by
    * definition → broadcast; the corpus side is one linear
    * shingle-explode + hash join + count — no pairwise blowup. */
  def x17Contamination(s: SparkSession, d: String): DataFrame = {
    def shingles(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(
        graft.functions.TextExpressions.wordShingles(col("t"), 5)).as("shingle"))
      .distinct()
    val docs = Tables.documents(s, d)
    val bench = shingles(docs.filter(col("doc_id") < 20))
      .select(col("doc_id").as("bench_id"), col("shingle"))
    shingles(docs.filter(col("doc_id") >= 20))
      .join(broadcast(bench), "shingle")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy("doc_id", "bench_id")
  }

  /** x18 unigram LM quality scoring: each doc's mean token log-probability
    * under the corpus unigram distribution — the classic cheap fluency /
    * gibberish signal (rare-token-heavy docs score low). Scale: the
    * token-count table is |vocab|-sized (broadcast or shuffled equi-join),
    * everything else is one linear explode + hash agg. */
  def x18LmScore(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = cnt.agg(sum("c").as("n"))
    toks.join(cnt, "tok").crossJoin(total)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
           dround(avg(log(col("c").cast("double") / col("n"))), 4).as("lm_score"))
      .orderBy("doc_id")
  }

  /** x16 token-budget corpus sharding: greedy sequential packing of docs
    * into fixed-token-budget shards (the unit a training pipeline feeds a
    * tokenizer/context-window packer), per language. A doc's shard is the
    * shard of its FIRST token (cumsum exclusive of itself, integer-divided
    * by the budget), so shards are contiguous doc ranges and every shard
    * except the last holds ≥ budget tokens once closed. Exact integer
    * arithmetic end to end.
    *
    * The per-language prefix sum is TWO-LEVEL (the r4 verdict's scale fix —
    * a plain per-lang window serializes each language onto one task):
    *  1. bucket docs by `doc_id div bucketDocs` and hash-aggregate
    *     per-(lang, bucket) token subtotals — fully parallel;
    *  2. exclusive per-lang prefix over the BUCKET AGGREGATE (corpus/256
    *     rows — aggregate-sized, trivially windowed) → per-bucket offsets,
    *     broadcast back;
    *  3. intra-bucket running sum windowed by (lang, bucket) — parallelism
    *     = |langs| × |buckets|, each task bounded by bucketDocs rows.
    * The result is identical to the single-window form under ANY input
    * partitioning and ANY bucket size (bucket boundaries cancel out of the
    * algebra) — ShardScanSpec asserts both, plus the plan shape. At 100 TB,
    * size bucketDocs so |buckets| stays broadcastable (e.g. 1e5 buckets ×
    * a few langs is KBs); no corpus-wide window task ever exists. */
  def x16TokenShards(s: SparkSession, d: String): DataFrame =
    x16ShardsScan(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok")))

  /** Two-level prefix-scan core over (doc_id, lang, n_tok) — see
    * [[x16TokenShards]]. Exposed with tunable sizes for the equivalence
    * property test. */
  private[graft] def x16ShardsScan(docs: DataFrame, budget: Long = 2000L,
                                   bucketDocs: Long = 256L): DataFrame =
    prefixCum(docs, bucketDocs)
      .withColumn("shard", expr(s"(cum - n_tok) div $budget"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("lang", "shard")

  /** Doc-level per-language running token total (`cum`, inclusive of the
    * row's own `n_tok`) via the two-level prefix scan documented at
    * [[x16TokenShards]] — factored out so the sharder (x16) and the
    * sequence packer (x102) share one scan. Input must carry
    * (doc_id, lang, n_tok); output adds `cum` (and the internal `bkt`). */
  private[graft] def prefixCum(docs: DataFrame, bucketDocs: Long = 256L): DataFrame = {
    val base = docs.withColumn("bkt", expr(s"doc_id div $bucketDocs"))
    val sub = base.groupBy("lang", "bkt").agg(sum("n_tok").as("sub"))
    val wb = Window.partitionBy("lang").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = sub
      .withColumn("off", sum("sub").over(wb) - col("sub"))
      .select(col("lang").as("o_lang"), col("bkt").as("o_bkt"), col("off"))
    val wl = Window.partitionBy("lang", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets),
        col("lang") === col("o_lang") && col("bkt") === col("o_bkt"))
      .withColumn("cum", col("off") + sum("n_tok").over(wl))
      .drop("o_lang", "o_bkt", "off")
  }

  /** The single-window reference form of [[x16TokenShards]] — one task per
    * language over the full corpus, correct but serial; kept as the algebraic
    * oracle the two-level scan is property-tested against (ShardScanSpec). */
  private[graft] def x16ShardsWindow(docs: DataFrame, budget: Long = 2000L): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("shard", expr(s"(cum - n_tok) div $budget"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("lang", "shard")
  }

  /** x21 within-document repetition scoring: per doc, the fraction of word
    * 3-shingles that are duplicates of an earlier shingle in the SAME doc —
    * the Gopher-style "fraction of duplicate n-grams" quality filter that
    * catches boilerplate/loop-generated text, which corpus-level near-dup
    * (Q53/x01/x02: BETWEEN docs) cannot see. Shingles come from the same
    * codegen [[graft.functions.TextExpressions.wordShingles]] kernel as
    * x17/Q53, so the whole scoring pipeline is one linear explode + one
    * hash agg per doc: no joins, no shuffle wider than the doc_id agg.
    * Docs shorter than 3 tokens have no shingles and drop out (both
    * engines' generators emit an empty list there). */
  def x21Repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.wordShingles(
          split(col("text"), " "), 3)).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           countDistinct(col("g")).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        dround(lit(1.0) - col("n_distinct").cast("double")
          / col("n_grams").cast("double"), 4).as("dup_frac"))
      .orderBy("doc_id")

  /** x27 cross-document duplicated-span detection — the C4-style span-level
    * dedup signal: for each doc, how many of its distinct 13-token spans
    * also appear verbatim in at least one OTHER doc. Near-dup (Q53) scores
    * whole documents; this catches shared boilerplate blocks inside
    * otherwise-distinct pages, the class span/line dedup removes. Spans via
    * the same [[graft.functions.TextExpressions.wordShingles]] codegen
    * kernel as Q53/x17/x21.
    *
    * Scale: explode → distinct → one shuffle on the span hash for the
    * document-frequency agg, then a linear shuffle join back on the span —
    * no pairwise blowup at any corpus size (the span side is
    * |distinct spans|, never |docs|²). All-integer output + one exact
    * ratio, no FP hazards. */
  def x27SpanDedup(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.functions.TextExpressions.wordShingles(
        split(col("text"), " "), 13)).as("span"))
      .distinct()
    val shared = spans.groupBy("span")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select(col("span"), lit(1).as("is_shared"))
    spans.join(shared, Seq("span"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), count(col("is_shared")).as("n_shared"))
      .select(col("doc_id"), col("n_spans"), col("n_shared"),
        dround(col("n_shared").cast("double") / col("n_spans"), 4).as("shared_frac"))
      .orderBy("doc_id")
  }

  /** x28 deny-list token scrub — the TRANSFORM stage of the x11 signal (and
    * the exact plumbing shape of a PII redactor: broadcast deny-set, pure
    * per-row rewrite, downstream stats over the scrubbed text). The deny
    * list is the corpus's own top-8 document-frequency tokens (same
    * derivation as x11's stop set, smaller cut); each doc's text is
    * rewritten with those tokens removed, order preserved, and
    * fingerprinted. (The fixture's whole vocabulary is 31 tokens at every
    * sf, so 8 is the "function word" mass at this vocabulary's scale;
    * x11's 30-of-31 stop set would scrub essentially everything.)
    *
    * Scale: the deny list is O(8) → broadcast; the rewrite is a per-row
    * codegen'd `filter` HOF — zero shuffle beyond the tiny deny-list agg.
    * Output is exact strings/integers — no FP at all. */
  def x28Scrub(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val deny = toks.distinct()
      .groupBy("tok").agg(countDistinct("doc_id").as("df"))
      .orderBy(col("df").desc, col("tok"))
      .limit(8)
      .agg(sort_array(collect_list("tok")).as("deny"))
    Tables.documents(s, d).crossJoin(broadcast(deny))
      .withColumn("kept", filter(split(col("text"), " "),
        t => !array_contains(col("deny"), t)))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(col("kept")).cast("long").as("n_kept"),
        substring(md5(array_join(col("kept"), " ")), 1, 16).as("scrub_fp"))
      .orderBy("doc_id")
  }

  /** x33 dedup survivor selection — the KEEP decision after cluster
    * resolution: per near-dup cluster (x14's labels over q53's verified
    * pairs), keep the LONGEST member (`n_chars` DESC, doc_id tiebreak — the
    * standard "keep the fullest version of the page" heuristic; x14's own
    * `is_keeper` keeps min doc_id, which is arbitrary). Emits per-cluster
    * bookkeeping: members, the keeper, kept vs dropped bytes — what a
    * pipeline reports as its dedup reduction.
    *
    * All-integer ranking (n_chars, doc_id) — no FP in the argmax, so the
    * survivor choice can never diverge across engines.
    *
    * Scale: CC labels (see [[graft.functions.ConnectedComponents]]) + ONE
    * cluster-keyed shuffle serving both the rank window and the aggregate;
    * the keeper filter and the agg join on the same partitioning. */
  def x33DedupSurvivors(s: SparkSession, d: String): DataFrame =
    x33DedupSurvivorsFrom(s, d,
      MinHashLSH.verifiedPairs(docTokens(s, d), 0.8).select(col("id_a"), col("id_b")))

  /** x33 core over a PRECOMPUTED verified-pair frame — the pipeline entry
    * point, same contract as [[x14DedupClustersFrom]]: q53's pair list is
    * already materialized in a real dedup pipeline, so survivor selection
    * must not re-derive it. The declared standalone query above stays
    * self-contained for the oracle. */
  def x33DedupSurvivorsFrom(s: SparkSession, d: String, pairs: DataFrame): DataFrame =
    x33SurvivorsFromLabels(s, d,
      graft.functions.ConnectedComponents.labels(
          Tables.documents(s, d).select(col("doc_id").as("id")),
          pairs.select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("comp").as("cluster_id")))

  /** Survivor selection over PRECOMPUTED cluster labels (doc_id,
    * cluster_id) — the third pipeline stage consumes the second's
    * (x14's) materialized output directly; CC runs once per pipeline,
    * not once per downstream consumer. */
  def x33SurvivorsFromLabels(s: SparkSession, d: String, labels: DataFrame): DataFrame = {
    val j = labels.select(col("doc_id"), col("cluster_id"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))))
    val agg = j.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), sum("n_chars").as("chars_total"))
    j.filter(col("rnk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper"),
              col("n_chars").as("chars_kept"))
      .join(agg, "cluster_id")
      .select(col("cluster_id"), col("keeper"), col("n_members"),
              col("chars_kept"),
              (col("chars_total") - col("chars_kept")).as("chars_dropped"))
      .orderBy("cluster_id")
  }

  /** x35 fixed-k stratified sample — the OTHER standard sampling primitive
    * next to x15's rate-based filter: exactly k docs per language, chosen
    * as the k smallest `md5(doc_id)` (a deterministic uniform order both
    * engines reproduce — no rand(), no partitioning sensitivity). This is
    * how a pipeline carves a fixed-size eval/dev set per stratum.
    *
    * Scale: the same two-level top-k as q34/x31 — local k per
    * (lang, 256-way hash bucket) at full width, exact global k from the
    * ≤256·k finalists; a plain per-lang rank window would serialize each
    * language's corpus slice onto one task. */
  def x35FixedKSample(s: SparkSession, d: String): DataFrame = {
    val k = 20
    val wLocal = Window.partitionBy("lang", "bkt").orderBy(col("h"), col("doc_id"))
    val wFinal = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
              md5(col("doc_id").cast("string")).as("h"),
              pmod(xxhash64(col("doc_id")), lit(256)).as("bkt"))
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= k)
      .withColumn("rnk", row_number().over(wFinal).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("doc_id"), col("source"))
      .orderBy("lang", "rnk")
  }

  /** x36 token-window chunking — the retrieval/training-window primitive:
    * split each doc into windows of w=32 tokens at stride s=24 (8-token
    * overlap), the transform every RAG index and fixed-context training
    * pipeline runs between cleaning and embedding. Chunk starts are
    * k·s for k = 0..⌈max(len−w,0)/s⌉ with the FINAL start clamped to
    * len−w: every token is covered, the last window is full-width when
    * len ≥ w, no duplicate windows, and a short doc yields exactly one
    * chunk — the boundary convention IS the contract here, pinned
    * identically in the twin (integer ceiling division, `least` clamp,
    * 1-based slice).
    *
    * Scale: a pure per-row `transform`+`posexplode` — zero shuffle beyond
    * the contract ORDER BY; chunk count and text are exact
    * integers/strings (no FP anywhere). */
  def x36ChunkWindows(s: SparkSession, d: String): DataFrame = {
    val (w, st) = (32, 24)
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, CAST((greatest(size(t) - $w, 0) + ${st - 1}) DIV $st AS INT)), " +
          s"k -> array_join(slice(t, least(k * $st, greatest(size(t) - $w, 0)) + 1, $w), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
              col("chunk"),
              size(split(col("chunk"), " ")).cast("long").as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** x29 deterministic mixture resampling — the data-mixing stage of a
    * training pipeline: rebalance the corpus so every SOURCE contributes an
    * equal expected token share (the α→0 end of temperature resampling;
    * any fixed per-source target expressible as a ratio of integers slots
    * into the same arithmetic). Each doc is replicated
    * `floor(T/(S·k_s))` times, plus one more iff a per-doc uniform draw
    * falls under the fractional remainder — so sources above the uniform
    * share are DOWN-sampled (some docs emit zero copies) and sources below
    * it are UP-sampled, with expected output tokens preserved per source.
    *
    * Every decision is EXACT INTEGER arithmetic — no doubles anywhere:
    * the replication factor stays the ratio T/(S·k_s) of token-count sums,
    * and the fractional-copy draw compares
    * `u·S·k_s < (T mod S·k_s)·2³²` in DECIMAL(38,0), where
    * u = (doc_id·2654435761) mod 2³² is a multiplicative-hash uniform —
    * reproducible across engines, partitionings, and runs (rand(seed) is
    * none of those). DECIMAL(38,0) keeps the two products exact out to
    * ~10³⁸ — at 100 TB (u ~ 4e9, S·k_s ~ 5e14) a BIGINT product would
    * wrap, a double would round.
    *
    * Scale: two aggregate-sized broadcasts (per-source token sums, one
    * totals row) joined onto a linear scan, then a per-row explode — no
    * corpus-sized shuffle at all. */
  def x29MixtureResample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("ntok"))
    val perSrc = docs.groupBy("source").agg(sum("ntok").as("ks"))
    // totals fold the S-row aggregate, not the corpus: one fewer full scan
    // (sum of per-source sums = T; every source has ≥1 doc, so the row
    // count IS the distinct-source count)
    val totals = perSrc.agg(sum("ks").as("tt"), count(lit(1)).as("srcs"))
    docs.join(broadcast(perSrc), "source")
      .crossJoin(broadcast(totals))
      .withColumn("den", col("srcs") * col("ks"))
      .withColumn("u",
        expr("CAST(doc_id AS DECIMAL(38,0)) * 2654435761 % 4294967296"))
      .withColumn("n",
        (expr("tt DIV den") +
         (col("u") * col("den").cast("decimal(38,0)") <
          (col("tt") % col("den")).cast("decimal(38,0)") * lit(4294967296L))
           .cast("long")).cast("long"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("source"),
              explode(sequence(lit(1L), col("n"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** x30 cross-source overlap matrix — the corpus-curation diagnostic run
    * before mixing sources: for every source pair, how many distinct
    * 5-token shingles they share, and the shingle-set Jaccard. Flags
    * mirrored/scraped-twice sources that per-document dedup (Q53) only
    * reveals pair-by-pair.
    *
    * Scale: one distinct over (source, shingle) — corpus-linear — then a
    * self-equi-join ON THE SHINGLE whose per-key fan-out is bounded by
    * S² (S = #sources, small by definition), never by corpus size; the
    * per-source totals are an aggregate-sized broadcast. Output is
    * S(S−1)/2 rows. */
  def x30SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("source"), explode(graft.functions.TextExpressions.wordShingles(
        split(col("text"), " "), 5)).as("sh"))
      .distinct()
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"), col("na"), col("nb"),
        dround(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")).cast("double"), 4).as("jac"))
      .orderBy("src_a", "src_b")
  }

  /** x31 per-language top-k bigram counts — the corpus statistic a
    * tokenizer-training / merge-rule pipeline reads first. Bigrams via the
    * same [[graft.functions.TextExpressions.wordShingles]] codegen kernel
    * as Q53/x17/x27 (k=2).
    *
    * Scale: one partial+final hash aggregate over the exploded bigrams
    * (corpus-linear, map-side combined), then TWO-LEVEL top-k over the
    * aggregated count table: local top-10 per (lang, bigram-hash bucket) —
    * 256× the parallelism of a per-lang window — then the exact global
    * top-10 from the ≤256·10 finalists per language. Exact because each
    * bigram lives in exactly one bucket, so every global top-10 row is its
    * bucket's top-10 under the SAME total order (cnt DESC, bigram ASC) —
    * the x16 two-phase refactor's argument applied to rank instead of
    * cumsum. A single per-lang window over a realistic 10⁸–10⁹-row bigram
    * vocabulary would serialize each language onto one task. */
  def x31TopBigrams(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(col("lang"), explode(graft.functions.TextExpressions.wordShingles(
        split(col("text"), " "), 2)).as("bigram"))
    val counts = bg.groupBy("lang", "bigram").agg(count(lit(1)).as("cnt"))
    val wLocal = Window.partitionBy("lang", "bkt")
      .orderBy(col("cnt").desc, col("bigram"))
    val wFinal = Window.partitionBy("lang")
      .orderBy(col("cnt").desc, col("bigram"))
    counts.withColumn("bkt", pmod(xxhash64(col("bigram")), lit(256)))
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= 10)
      .withColumn("rnk", row_number().over(wFinal).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("bigram"), col("cnt"), col("rnk"))
      .orderBy("lang", "rnk")
  }

  /** x32 vocabulary growth curve — marginal-diversity profiling: ingesting
    * sources in a fixed (lexicographic) order, how many distinct 3-token
    * shingles does each source add that no earlier source contains? The
    * curve's flattening tail is the standard "this source adds nothing
    * new" signal for corpus selection.
    *
    * Scale: novelty attribution is one `min(source)` hash aggregate over
    * the distinct (source, shingle) table — corpus-linear, NO per-source
    * sequential pass. The cumulative sum runs over S aggregated rows
    * (S = #sources), so the unpartitioned window frame holds an
    * aggregate-sized input, same bounded-input argument as x02's vocab
    * rank. */
  def x32VocabGrowth(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("source"), explode(graft.functions.TextExpressions.wordShingles(
        split(col("text"), " "), 3)).as("sh"))
      .distinct()
    val firstIntro = sh.groupBy("sh").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("novel"))
    val totals = sh.groupBy("source").agg(count(lit(1)).as("n_distinct"))
    val wc = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals.join(firstIntro, Seq("source"), "left")
      .na.fill(0L, Seq("novel"))
      .withColumn("cum_novel", sum("novel").over(wc))
      .select(col("source"), col("n_distinct"), col("novel"), col("cum_novel"),
        dround(col("novel").cast("double") / col("n_distinct").cast("double"), 4)
          .as("novelty"))
      .orderBy("source")
  }

  /** x38 exact-dedup-first near-dup: the composition the round-6 skew
    * stress proved mandatory at scale (BASELINE.md). Byte-identical docs
    * first collapse to ONE representative (q52's sha256 hash-agg; min
    * doc_id keeps the choice deterministic), near-dup detection then runs
    * over representatives only, and the output carries each side's
    * exact-copy multiplicity instead of materializing the copy square —
    * a 10k-identical cluster contributes ZERO pairs here instead of the
    * 50M its raw pair square costs q53 (downstream CC/survivor stages
    * weight by `copies`). On this fixture (500 distinct texts, no exact
    * dups) the pair list equals q53's with copies=1 — the composition is
    * the contract, and the oracle computes the same composition.
    *
    * Scale: one sha256 hash-shuffle (q52) + the q53 machinery over the
    * ≤-corpus-sized representative set + two unhinted multiplicity joins
    * on the (small) pair list. */
  def x38DedupFirstNearDup(s: SparkSession, d: String): DataFrame = {
    val reps = Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("id"), count(lit(1)).as("copies"), min("text").as("text"))
    val toks = reps.select(col("id"), split(col("text"), " ").as("toks"))
    val copies = reps.select(col("id"), col("copies"))
    MinHashLSH.verifiedPairs(toks, 0.8)
      .join(copies.select(col("id").as("id_a"), col("copies").as("copies_a")), "id_a")
      .join(copies.select(col("id").as("id_b"), col("copies").as("copies_b")), "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("j"),
              col("copies_a"), col("copies_b"))
      .transform(pinnedOrder(_, "doc_a", "doc_b"))
  }

  /** x39 dedup-first pipeline CLOSURE: the end-to-end composition x38
    * opens — exact-collapse → near-dup pairs over representatives →
    * cluster resolution → survivor selection — with the collapsed copy
    * multiplicities folded back into every downstream number, so the
    * bookkeeping describes the ORIGINAL corpus, not the representative
    * set:
    *   - `n_members`  = Σ copies over the cluster (every byte-identical
    *     copy counts as a member);
    *   - `n_reps`     = distinct texts in the cluster (what CC actually
    *     traversed);
    *   - `chars_kept` = the single surviving doc's n_chars;
    *   - `chars_dropped` = Σ (n_chars · copies) − chars_kept — collapsed
    *     duplicates of the keeper itself are counted as dropped.
    * Survivor choice is provably identical to x33-over-the-raw-graph:
    * copies are byte-identical (equal n_chars), a rep id is the min
    * doc_id of its copy group, so argmax by (n_chars DESC, doc_id) over
    * all docs lands on the same doc as over reps; cluster ids agree
    * because identical texts share MinHash signatures, hence candidates
    * and verified edges (see X39FoldSpec for the executed equivalence).
    *
    * Scale: the whole point — a 10k-copy cluster contributes ONE node to
    * the pair join and the CC iteration instead of 10k nodes and a 50M
    * edge square; multiplicity folding is two integer columns through
    * the existing cluster-keyed shuffle. One sha256 hash-agg + q53's
    * banded machinery over reps + CC + one cluster shuffle. */
  def x39DedupPipeline(s: SparkSession, d: String): DataFrame =
    x39PipelineFrom(Tables.documents(s, d))

  /** x39 core over any (doc_id, text, n_chars) frame — the spec entry
    * point: the contract fixture has no byte-identical docs, so
    * X39FoldSpec drives this with synthetic copy groups and checks the
    * folded bookkeeping equals x33's raw-graph answer. */
  def x39PipelineFrom(docs: DataFrame): DataFrame = {
    val reps = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("id"), count(lit(1)).as("copies"),
           min("text").as("text"), min("n_chars").as("n_chars"))
    val pairs = MinHashLSH.verifiedPairs(
      reps.select(col("id"), split(col("text"), " ").as("toks")), 0.8)
    val labels = graft.functions.ConnectedComponents.labels(
        reps.select(col("id")), pairs.select(col("id_a"), col("id_b")))
      .select(col("id"), col("comp").as("cluster_id"))
    val j = labels
      .join(reps.select(col("id"), col("copies"), col("n_chars")), "id")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("n_chars").desc, col("id"))))
    val agg = j.groupBy("cluster_id")
      .agg(sum("copies").as("n_members"), count(lit(1)).as("n_reps"),
           sum(col("n_chars") * col("copies")).as("chars_total"))
    j.filter(col("rnk") === 1)
      .select(col("cluster_id"), col("id").as("keeper"),
              col("n_chars").as("chars_kept"))
      .join(agg, "cluster_id")
      .select(col("cluster_id"), col("keeper"), col("n_members"), col("n_reps"),
              col("chars_kept"),
              (col("chars_total") - col("chars_kept")).as("chars_dropped"))
      .orderBy("cluster_id")
  }

  /** x42 INCREMENTAL dedup: near-dup pairs between a NEW batch and the
    * EXISTING corpus only — the production shape of dedup at 100 TB, where
    * the corpus was deduplicated yesterday and today's increment must not
    * pay (or even touch) the corpus×corpus square again. The contract
    * derives a deterministic batch from the fixture (doc_id ≡ 0 mod 7 ≈
    * 1/7 of documents; everything else is the standing corpus) and runs
    * [[graft.functions.MinHashLSH.crossVerifiedPairs]]: banded equi-join
    * across the two sides, size pruning, first-match dedup, early-exit
    * exact verify at the q53 threshold (0.8, same whitespace tokens).
    *
    * Scale: per-increment cost is O(|batch| + band collisions). The
    * corpus-side recomputation visible here (bands + sets from the raw
    * table) is what a deployment amortizes into a persisted signature
    * store — the crossVerifiedPairs scaladoc walks through how each
    * corpus-side appearance becomes a bucketed read with zero Exchange,
    * leaving the |batch|-sized candidate list as the increment's only
    * shuffle. */
  def x42IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val toks = docTokens(s, d)
    val batch  = toks.filter(pmod(col("id"), lit(7L)) === 0)
    val corpus = toks.filter(pmod(col("id"), lit(7L)) =!= 0)
    pinnedOrder(
      MinHashLSH.crossVerifiedPairs(batch, corpus, 0.8)
        .select(col("id_a").as("doc_new"), col("id_b").as("doc_corpus"), col("j")),
      "doc_new", "doc_corpus")
  }

  /** x43 weighted sample — k docs drawn with probability increasing in
    * `n_chars`, the "sample long documents preferentially" primitive next
    * to x15's rate filter and x35's uniform fixed-k. The scheme is
    * PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM 2007): each doc gets a
    * deterministic uniform u from its id's md5 and priority w/u; the k
    * largest priorities are the sample (inclusion probability ∝ min(1,
    * w/τ) for the threshold τ = (k+1)-th priority — the without-replacement
    * weighted sample with provably near-optimal subset-sum variance).
    *
    * Chosen over Efraimidis–Vitter's u^(1/w) keys deliberately: w/u is ONE
    * IEEE division of exactly-representable operands (u = (h+0.5)/2^32
    * with h the first 8 md5 hex digits — a dyadic rational; w an integer),
    * so the priority, and therefore the SELECTED SET, is bit-identical in
    * any IEEE-754 engine. A log- or pow-based key would hang the contract
    * on two libms agreeing to the last ulp.
    *
    * Scale: the same two-level top-k as q34/x31/x35 — local k per 256-way
    * id-hash bucket at full width (priorities computed in the scan stage,
    * no corpus shuffle), exact global k over the ≤256·k finalists (each
    * global top-k row is its bucket's local top-k under the same total
    * order). A single unpartitioned rank window over the corpus — the
    * naive formulation — would serialize 100 TB onto one task. */
  def x43WeightedSample(s: SparkSession, d: String): DataFrame = {
    val k = 50
    val wLocal = Window.partitionBy("bkt").orderBy(col("prio").desc, col("doc_id"))
    val wFinal = Window.orderBy(col("prio").desc, col("doc_id")) // finalists only: ≤256·k rows
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double").as("h"),
        pmod(xxhash64(col("doc_id")), lit(256)).as("bkt"))
      .withColumn("prio",
        col("n_chars").cast("double") / ((col("h") + lit(0.5)) / lit(4294967296.0)))
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= k)
      .withColumn("rnk", row_number().over(wFinal).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("doc_id"), col("lang"), col("source"),
              col("n_chars"), dround(col("prio"), 4).as("prio"))
      .orderBy("rnk")
  }

  /** x44 sketched source-overlap — the 100 TB path for x30's diagnostic:
    * per-source HyperLogLog sketches of the 5-token shingle sets (one
    * corpus-linear pass, NO distinct shuffle — the sketch dedups), then
    * pairwise union estimates and inclusion–exclusion intersections from
    * the S-row sketch table. x30's exact form shuffles every distinct
    * (source, shingle) row and self-joins on the shingle; the sketch form
    * moves S · 4 KB total, so it is the one a curation pipeline actually
    * runs at full corpus scale, with x30 as the small-scale certifier.
    *
    * The declared output is the tolerance-verdict pattern (x37/x34/q21):
    * exact inter/union (both engines agree bit-for-bit) plus the verdict
    * `|inter_est − inter| ≤ 0.10·union`. Each engine computes its OWN
    * HLL estimate (Spark: DataSketches lgK=12, ~1.6% typical per-sketch
    * error; DuckDB: its native HLL, measured ≤2.2% rel-to-union on this
    * fixture) — the contract grades the sketch's fitness, not its
    * internals, and the 10% bound leaves ≥4× margin over both engines'
    * measured worst case, so the verdicts agree everywhere. Pairs with
    * zero exact overlap carry no verdict (x30's row set is the contract's:
    * sharing ≥1 shingle). */
  def x44OverlapSketch(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("source"), explode(graft.functions.TextExpressions.wordShingles(
        split(col("text"), " "), 5)).as("sh"))
    val sk = sh.groupBy("source")
      .agg(hll_sketch_agg(col("sh")).as("sk"))
    val est = sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        (hll_sketch_estimate(col("a.sk")) + hll_sketch_estimate(col("b.sk"))
          - hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))).as("inter_est"))
    x30SourceOverlap(s, d)
      .select(col("src_a"), col("src_b"), col("inter"),
              (col("na") + col("nb") - col("inter")).as("uni"))
      .join(broadcast(est), Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("inter"), col("uni"),
        (abs(col("inter_est") - col("inter")).cast("double") <=
          lit(0.10) * col("uni").cast("double")).cast("int").as("ok"))
      .orderBy("src_a", "src_b")
  }

  /** x48 leakage-safe train/val/test split: assign splits by NEAR-DUP
    * CLUSTER, not by document — the split rule every eval-hygiene
    * post-mortem ends up demanding. A doc-level hash split leaks: a near
    * duplicate of a test document lands in train with probability
    * P(train) ≈ 80%, and memorized-duplicate contamination walks straight
    * through. Here every document inherits its x14 cluster's split
    * (md5 of the cluster id against the same lexicographic-prefix bounds
    * x15 uses: < 'cc' → train ≈ 204/256, < 'e6' → val ≈ 26/256, else
    * test), so BOTH endpoints of every verified near-dup pair share a
    * split BY CONSTRUCTION — cross-split near-dup pairs are structurally
    * zero, not post-filtered (X48SplitSpec executes the check; singleton
    * docs are their own cluster and split independently).
    *
    * The declared output is the per-split audit a pipeline records:
    * cluster / doc / char counts. Scale: x14's CC machinery + one
    * doc↔label join + a 3-group aggregate — the split column itself is a
    * pure per-row hash, so the stage adds nothing to the dedup pipeline
    * it rides on. */
  def x48LeakSplit(s: SparkSession, d: String): DataFrame =
    x48From(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x48 core over a precomputed verified-pair frame — the pipeline entry
    * point (same contract as [[x14DedupClustersFrom]]). */
  def x48From(s: SparkSession, d: String, pairs: DataFrame): DataFrame =
    x48Aggregate(x48SplitLabels(s, d, pairs))

  /** Doc-level split assignment: (doc_id, cluster_id, n_chars, split) —
    * X48SplitSpec joins this back to the pair list to execute the
    * zero-leakage invariant. */
  def x48SplitLabels(s: SparkSession, d: String, pairs: DataFrame): DataFrame =
    x48SplitFromLabels(s, d, x14DedupClustersFrom(s, d, pairs))

  /** The split stage alone, over PRECOMPUTED cluster labels (doc_id,
    * cluster_id) — what a pipeline that has already run dedup pays: one
    * doc↔label join + a per-row hash CASE (Bench's `x48_split_only` row
    * times this plus the 3-group aggregate against parquet-materialized
    * labels). */
  def x48SplitFromLabels(s: SparkSession, d: String, labels: DataFrame): DataFrame =
    labels.select(col("doc_id"), col("cluster_id"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("split", graft.functions.SplitRule.of(col("cluster_id")))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("split"))

  /** x48's aggregate over a doc-level split frame — shared by the declared
    * query and the staged bench row. */
  def x48Aggregate(splits: DataFrame): DataFrame =
    splits.groupBy("split")
      .agg(countDistinct("cluster_id").as("n_clusters"),
           count(lit(1)).as("n_docs"),
           sum("n_chars").as("n_chars"))
      .orderBy("split")

  /** x49 heavy hitters via count-min sketch — bigrams whose corpus count
    * is ≥ N/800, found WITHOUT shuffling the full (gram, partial-count)
    * table. The classic two-pass Cormode–Muthukrishnan shape:
    *
    *   pass 1  treeAggregate a count-min sketch (ε=1e-4, δ=0.01, fixed
    *           seed) — per-partition sketches are CONSTANT-size
    *           (width·depth longs ≈ 1 MB) and merge by cell-wise add, so
    *           the reduction moves P·1 MB regardless of corpus size;
    *   pass 2  broadcast the merged sketch; a per-row point query keeps
    *           only grams with est ≥ T. CMS NEVER underestimates, so every
    *           true heavy hitter survives (no false negatives by
    *           construction); false positives are killed by an exact
    *           count over the SCREENED rows only.
    *
    * The only shuffle in the plan carries occurrences of candidate grams —
    * at 100 TB that is the heavy tail itself, not the corpus. Contrast the
    * naive `groupBy(gram).count.filter`: its exchange moves one partial
    * per distinct (partition, gram), i.e. grows with the vocabulary.
    *
    * Declared output is exact counts (bit-identical in any engine) plus
    * the tolerance verdict `cnt ≤ est ≤ cnt + ⌈εN⌉` (x37/x44 pattern):
    * the lower bound is the CMS structural guarantee, the upper is its
    * probabilistic one — the oracle pins `ok = 1`, so a sketch whose
    * estimates drift outside the declared ε fails the hash gate. N and
    * T = N/800 come from the sketch's own totalCount (exact, not
    * estimated), so both engines derive the threshold from the same
    * integer. */
  def x49HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val eps  = 1e-4
    val grams = Tables.documents(s, d)
      .select(explode(graft.functions.TextExpressions.wordShingles(
        split(col("text"), " "), 2)).as("gram"))
    val cms   = grams.stat.countMinSketch("gram", eps, 0.99, 42)
    val n     = cms.totalCount()
    val thr   = n / 800
    val slack = math.ceil(eps * n).toLong
    // codegen point query (graft.functions.CmsEstimate) — the sketch rides
    // the plan, no per-row String decode/boxing in the scan stage
    def est(c: Column): Column = graft.functions.SketchExpressions.cmsEstimate(c, cms)
    grams.filter(est(col("gram")) >= thr)
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .withColumn("ok",
        (est(col("gram")) >= col("cnt") &&
         est(col("gram")) <= col("cnt") + lit(slack)).cast("int"))
      .select(col("gram"), col("cnt"), col("ok"))
      .orderBy(col("cnt").desc, col("gram"))
  }

  /** x50 Bloom-screened contamination — x17's exact benchmark-overlap
    * contract behind a Bloom-filter pre-screen, the plan a 100 TB curation
    * run actually executes. x17 broadcasts the benchmark shingle set as a
    * hash relation AND distincts the full corpus shingle table first — at
    * real benchmark-suite sizes (10⁹ shingles ≈ 40 GB of strings) the
    * relation no longer broadcasts, and the corpus-wide distinct is a full
    * shuffle of the shingle mass. Here:
    *
    *   build   one Bloom filter over the benchmark shingles (1% fp — bits,
    *           not strings: ~1.2 GB where the hash relation is 40 GB, so
    *           it still broadcasts when the exact build side cannot);
    *   screen  a per-row membership probe drops non-matching corpus
    *           shingles IN THE SCAN STAGE — zero shuffle, and the
    *           corpus-side `distinct` now runs over survivors only
    *           (true hits + 1% fp), not the corpus;
    *   verify  survivors join the exact benchmark table UNHINTED — the
    *           planner picks SMJ when that side is genuinely large — which
    *           removes every false positive.
    *
    * Output is BYTE-IDENTICAL to x17 (same oracle SQL): Bloom filters have
    * no false negatives, so the screen provably drops nothing the exact
    * join would keep — the hash gate itself certifies the no-false-negative
    * property end to end. */
  def x50BloomContamination(s: SparkSession, d: String): DataFrame = {
    def shingles(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(
        graft.functions.TextExpressions.wordShingles(col("t"), 5)).as("shingle"))
    val docs  = Tables.documents(s, d)
    val bench = shingles(docs.filter(col("doc_id") < 20)).distinct()
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val bloom = bench.stat.bloomFilter("shingle", 1 << 16, 0.01)
    shingles(docs.filter(col("doc_id") >= 20))
      .filter(graft.functions.SketchExpressions.bloomMightContain(col("shingle"), bloom))
      .distinct()
      .join(bench, "shingle")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy("doc_id", "bench_id")
  }

  /** x54 per-doc n-gram novelty against a reference corpus — the crawl
    * triage primitive ("how much of this new-crawl doc is text we already
    * have?"): for every non-reference doc, the fraction of its distinct
    * word-trigrams absent from the reference's distinct-shingle set.
    * Ranked-by-novelty feeds re-crawl prioritization and dedup budgets the
    * same way x17's contamination counts feed decontamination.
    *
    * Scale shape: x50's Bloom trick TRANSPOSED — and still exact. A Bloom
    * filter can never prove membership, but "definitely not in the set"
    * IS its sound direction, which is exactly what novelty counts: every
    * shingle the filter rejects is novel with NO join at all; only the
    * "maybe seen" survivors (true hits + fp rate) go through the exact
    * left join that separates real hits from false positives. At a
    * reference size where the exact hash relation no longer broadcasts,
    * the join side has already been cut to the seen-ish sliver in the
    * scan stage — the same inversion x50 measures, with zero approximation
    * in the declared output (PlanSpec pins the join's left input below a
    * Bloom-probe filter; the oracle is the plain exact anti-join).
    *
    * Docs need ≥3 tokens to have a trigram; shorter docs emit no row —
    * both engines drop them identically. */
  def x54Novelty(s: SparkSession, d: String): DataFrame = {
    def sh(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(
        graft.functions.TextExpressions.wordShingles(col("t"), 3)).as("shingle"))
      .distinct()
    val docs = Tables.documents(s, d)
    val ref = sh(docs.filter(col("doc_id") < 100)).select("shingle").distinct()
    val bloom = ref.stat.bloomFilter("shingle", 1 << 16, 0.01)
    def maybeSeen(c: Column): Column =
      graft.functions.SketchExpressions.bloomMightContain(c, bloom)
    val tagged = sh(docs.filter(col("doc_id") >= 100))
    val sureNovel = tagged.filter(!maybeSeen(col("shingle")))
      .select(col("doc_id"), lit(1).as("novel"))
    val checked = tagged.filter(maybeSeen(col("shingle")))
      .join(ref.withColumn("seen", lit(1)), Seq("shingle"), "left")
      .select(col("doc_id"),
        when(col("seen").isNull, 1).otherwise(0).as("novel"))
    sureNovel.union(checked)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum("novel").cast("long").as("n_novel"))
      .withColumn("novelty",
        dround(col("n_novel").cast("double") / col("n_shingles").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** x55 dataset card — the per-(source, lang) summary a curation run
    * publishes with every corpus snapshot: document / token / char mass
    * plus the exact-duplicate exposure (docs whose full text appears more
    * than once ANYWHERE in the corpus — corpus-wide on purpose: "how much
    * of my slice is duplicated somewhere" is the question a mixing
    * decision asks, and a within-slice count would undercount cross-source
    * mirror content).
    *
    * Scale: one sha256 hash-aggregate (q52's exact-dedup shuffle) joined
    * back on the hash — both sides of that join are corpus-sized but the
    * join is a plain equi-join on the 32-byte key; the card itself is a
    * |sources|·|langs|-row aggregate with every column integer-exact
    * until the one final rounded ratio. */
  def x55DatasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val dup = docs.groupBy("h").agg(count(lit(1)).as("nh"))
    docs.join(dup, "h")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tok").as("n_tokens"),
           sum("n_chars").as("n_chars"),
           sum(when(col("nh") > 1, 1).otherwise(0)).cast("long").as("n_dup_docs"))
      .withColumn("dup_frac",
        dround(col("n_dup_docs").cast("double") / col("n_docs").cast("double"), 4))
      .orderBy("source", "lang")
  }

  /** x52 per-source quality-quantile binning — the mixing-weight primitive:
    * training mixtures are specified as "top quartile of source A, top
    * half of source B", so the pipeline needs each document binned against
    * its OWN source's quality distribution, not the corpus's.
    *
    * The quality key is x04's integer numerator rescaled to an exact
    * BIGINT (`num·1000 div n_tok` — integer division, no float anywhere in
    * the key), so boundary comparisons and the per-bin min/max/sum are all
    * integer arithmetic. Boundaries are the exact interpolated quartiles
    * (q25's percentile machinery, same formula both engines), computed per
    * source and broadcast back — NO per-source window over the corpus, so
    * the q29 low-cardinality serialization trap never arises: the corpus
    * is touched by exactly one scan and one map-side-combined aggregate.
    * At 100 TB the exact quartile aggregate (which buffers per-group
    * values) swaps for x34's rank-error-bounded sketch; the binning join
    * and audit aggregate are unchanged — boundaries are 3 doubles per
    * source either way. */
  def x52QualityBins(s: SparkSession, d: String): DataFrame = {
    val k = Tables.documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_distinct",
        size(array_distinct(split(col("text"), " "))).cast("long"))
      .withColumn("num",
        lit(15L) * least(col("n_tok"), lit(100L)) * col("n_tok")
          + lit(1500L) * col("n_distinct")
          + lit(4L) * least(col("n_chars"), lit(500L)) * col("n_tok"))
      .select(col("source"), expr("(num * 1000) div n_tok").as("qk"))
    val bounds = k.groupBy("source")
      .agg(expr("percentile(qk, 0.25)").as("b1"),
           expr("percentile(qk, 0.5)").as("b2"),
           expr("percentile(qk, 0.75)").as("b3"))
    k.join(broadcast(bounds), "source")
      .withColumn("bin",
        when(col("qk").cast("double") <= col("b1"), 0)
          .when(col("qk").cast("double") <= col("b2"), 1)
          .when(col("qk").cast("double") <= col("b3"), 2)
          .otherwise(3))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), min("qk").as("min_qk"),
           max("qk").as("max_qk"),
           dround(sum("qk").cast("double") / count(lit(1)).cast("double"), 4)
             .as("avg_qk"))
      .orderBy("source", "bin")
  }

  /** x53 one label-propagation step over the near-dup graph — the
    * semi-supervised annotation primitive: given trusted labels on a seed
    * subset (here the deterministic doc_id % 10 = 0 slice, "labeled" with
    * its lang column), every unlabeled document that is a VERIFIED near
    * duplicate of ≥1 seed inherits the majority seed label. The same step,
    * iterated, is Zhu-Ghahramani label spreading; one step is already the
    * production workhorse ("propagate human quality ratings to near-dups
    * before training the quality classifier").
    *
    * Determinism: votes are integer counts; the winner ranks
    * (count DESC, label ASC) — per-DOCUMENT window, high cardinality, so
    * the rank never serializes a big group (contrast q29). Emitting
    * true_lang beside the prediction makes the declared output double as
    * the step's accuracy audit (near-dups share language, so hit ≈ 1 —
    * a cheap end-to-end sanity gate on the whole pair pipeline).
    *
    * Scale: rides the same verified-pair machinery as x14/x48 (banded
    * equi-join, no products); votes are one map-side-combined aggregate
    * over the pair list, the argmax one narrow window over (doc, label)
    * vote rows. */
  /** x56 corpus snapshot diff — the CDC bookkeeping step between two
    * crawl/curation snapshots: per source, how many documents were added,
    * removed, changed (same id, different content), or untouched, plus the
    * net character delta the snapshot swap moves. Incremental pipelines
    * (x42's increment, ST12's admit loop) consume exactly this classification
    * to decide what to re-embed / re-dedup instead of reprocessing the
    * corpus.
    *
    * The two snapshots are derived deterministically from the fixture so
    * every class is populated: old = ids ≢1 (mod 10), new = ids ≢2
    * (mod 10), and ids ≡3 (mod 10) carry revised content in the new
    * snapshot (text + a 5-char revision marker — both engines add the
    * SAME constant, so chars_delta stays integer-exact end to end).
    *
    * Scale: each side reduces to (id, source, n_chars, sha256) BEFORE the
    * join, so the full-outer shuffle carries 32-byte digests, never
    * document bodies — the difference between shuffling ~50 bytes/doc and
    * shuffling the corpus. The join key is doc_id: with both snapshots in
    * a doc_id-bucketed store (BucketedFacts' layout) the diff is
    * zero-Exchange; flat, it is one co-partitioned shuffle join. Output is
    * a |sources|-row all-integer aggregate. */
  def x56SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"), col("source").as("src_o"),
        col("n_chars").cast("long").as("nc_o"), sha2(col("text"), 256).as("h_o"))
    val newSnap = docs.filter(col("doc_id") % 10 =!= 2)
      .select(col("doc_id"), col("source").as("src_n"),
        (col("n_chars").cast("long")
          + when(col("doc_id") % 10 === 3, 5L).otherwise(0L)).as("nc_n"),
        when(col("doc_id") % 10 === 3, sha2(concat(col("text"), lit(" rev2")), 256))
          .otherwise(sha2(col("text"), 256)).as("h_n"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_n"), col("src_o")).as("source"),
        when(col("h_o").isNull, "added")
          .when(col("h_n").isNull, "removed")
          .when(col("h_o") =!= col("h_n"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("nc_n"), lit(0L)) - coalesce(col("nc_o"), lit(0L))).as("delta"))
      .groupBy("source")
      .agg(sum(when(col("status") === "added", 1).otherwise(0)).cast("long").as("n_added"),
           sum(when(col("status") === "removed", 1).otherwise(0)).cast("long").as("n_removed"),
           sum(when(col("status") === "changed", 1).otherwise(0)).cast("long").as("n_changed"),
           sum(when(col("status") === "unchanged", 1).otherwise(0)).cast("long").as("n_unchanged"),
           sum("delta").cast("long").as("chars_delta"))
      .orderBy("source")
  }

  /** x67 per-source KL divergence — the mixture diagnostic that ranks how
    * far each source's unigram distribution sits from the corpus blend:
    * KL(source ‖ corpus) = Σ_tok p_s·ln(p_s/p_c). A near-zero source is
    * redundant with the mixture; a high one shifts it — the number a
    * mixing-weight search reads next to x30's pairwise overlap (which
    * sees shared SHINGLES, not distributional distance).
    *
    * Every source token appears in the corpus, so p_c > 0 and the sum is
    * finite by construction. Scale: one explode + one (source, tok) hash
    * agg (the corpus marginal derives from the SAME aggregate — no second
    * corpus scan), a broadcast of the |sources| totals and the 1-row
    * corpus total, then a |sources|-row reduction. ln-sum rounding under
    * x18's precedent. */
  def x67SourceKl(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val sc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val st = sc.groupBy("source").agg(sum("c").as("n"))
    val cc = sc.groupBy("tok").agg(sum("c").as("cc"))
    val ct = cc.agg(sum("cc").as("nn"))
    sc.join(broadcast(st), "source")
      .join(cc, "tok")
      .crossJoin(broadcast(ct))
      .withColumn("ps", col("c").cast("double") / col("n").cast("double"))
      .withColumn("pc", col("cc").cast("double") / col("nn").cast("double"))
      .groupBy("source")
      .agg(max("n").as("n_tokens"),
           dround(sum(col("ps") * log(col("ps") / col("pc"))), 4).as("kl"))
      .orderBy("source")
  }

  /** x74 PMI phrase mining — the association score behind collocation /
    * phrase-vocabulary induction: for adjacent token pairs with count ≥ 5,
    * PMI = ln(p(ab) / (p(a)·p(b))) against the unigram marginals; top-20
    * by (rounded PMI DESC, pair ASC). Raw bigram counts (x31) rank
    * frequency; PMI ranks ASSOCIATION — "new york" beats "of the" — which
    * is what a tokenizer/phrase-merge step actually wants.
    *
    * The unigram denominator counts each token ONCE per bigram position
    * convention: p(a)/p(b) use the corpus unigram distribution, p(ab) the
    * adjacent-pair distribution — both derive from one explode each, two
    * hash aggs bounded by vocab/vocab². The rank window runs over the
    * count-filtered aggregate (vocab-bounded), never the corpus (x31's
    * discipline). Ties pinned by the pair string both engines. */
  def x74Pmi(s: SparkSession, d: String): DataFrame = {
    val toks = docTokens(s, d)
    val uni = toks.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    val uniTotal = uni.agg(sum("cu").as("nu"))
    val bi = toks.select(explode(
        graft.functions.TextExpressions.wordShingles(col("toks"), 2)).as("p"))
      .groupBy("p").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= 5)
    val biTotal = toks.select(explode(
        graft.functions.TextExpressions.wordShingles(col("toks"), 2)).as("p"))
      .agg(count(lit(1)).as("nb"))
    val parts = bi
      .withColumn("a", split(col("p"), " ").getItem(0))
      .withColumn("b", split(col("p"), " ").getItem(1))
    val scored = parts
      .join(uni.select(col("t").as("a"), col("cu").as("ca")), "a")
      .join(uni.select(col("t").as("b"), col("cu").as("cb2")), "b")
      .crossJoin(broadcast(biTotal)).crossJoin(broadcast(uniTotal))
      .select(col("p").as("pair"), col("cb").as("n"),
        dround(log((col("cb").cast("double") / col("nb").cast("double")) /
          ((col("ca").cast("double") / col("nu").cast("double")) *
           (col("cb2").cast("double") / col("nu").cast("double")))), 4).as("pmi"))
    val w = Window.orderBy(col("pmi").desc, col("pair"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= 20)
      .select("pair", "n", "pmi")
      .orderBy(col("pmi").desc, col("pair"))
  }

  /** x77 fuzzy prefix match — edit-distance retrieval for the near-match
    * class token-set similarity misses (transposed/truncated/typo'd
    * titles): for each probe doc (ids ≡ 0 mod 100), the other same-lang
    * doc whose 40-char prefix has minimum Levenshtein distance
    * (doc_id tiebreak). Jaccard (q53/x02) sees token SETS — it cannot
    * distinguish "abc def" from "abd cef"; edit distance can, which is
    * why record-linkage stacks keep both.
    *
    * Scale: the candidate set here is blocked by (lang) with a ~1% probe
    * side — |probes|·|lang partition| pairs, fine at fixture scale and
    * NOT the 100 TB shape; it stays as the exactness certifier. The
    * production path is [[x77FuzzyLsh]] (band-bucket candidates → the
    * same codegen levenshtein verify and argmin): MEASURED at sf0.1,
    * 1.35 s vs 1.44 s here — parity at fixture scale because the corpus
    * is small, but the LSH path's candidate mass is bucket-occupancy-
    * bounded while this one grows as |probes|·|corpus|/|langs|
    * (quadratic in corpus at fixed probe fraction). X77LshSpec pins the
    * LSH output ⊆ this one's rows, exactly covering dist ≤ 8. */
  def x77Fuzzy(s: SparkSession, d: String): DataFrame = {
    val pref = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 40).as("p40"))
    val probes = pref.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("probe_id"), col("lang"), col("p40").as("probe_p"))
    val cands = pref.select(col("doc_id").as("cand_id"), col("lang"), col("p40").as("cand_p"))
    val scored = probes.join(cands, "lang")
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        levenshtein(col("probe_p"), col("cand_p")).as("dist"))
    val w = Window.partitionBy("probe_id").orderBy(col("dist"), col("cand_id"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("probe_id"), col("cand_id").as("best_id"), col("dist"))
      .orderBy("probe_id")
  }

  /** x77's PRODUCTION candidate generator — the 100 TB shape the declared
    * query's scaladoc names: LSH-blocked candidates (char-3-gram MinHash
    * bands over the same 40-char prefix) → the same codegen
    * `levenshtein` verify → the same (dist, cand_id) argmin, gated at
    * dist ≤ `maxDist`. The declared x77 stays the exactness certifier;
    * this entry point replaces its |probes|·|lang partition| quadratic
    * pairing with band-bucket blocking, so candidate mass is bucket-local
    * — q53's scale shape, not a partition cross product. The crossover is
    * MEASURED (round-11 scale rehearsal, BASELINE.md): 0.67 s vs the
    * declared 1.55 s at sf0.1, 2.77 s vs 7.06 s at 10× (50 k docs) —
    * ahead at both sizes, widening with the corpus.
    *
    * Recall arithmetic (why rows=1, numPerm=24): an edit destroys ≤ 3 of
    * the prefix's 38 char-3-grams, so dist ≤ 8 implies ≥ 14 shared grams
    * ⇒ gram-Jaccard ≥ ~0.23; at r=1, b=24 a j=0.23 pair misses all bands
    * with probability (1−0.23)²⁴ ≈ 2e-3 — and the "probability" is over
    * the FIXED xxhash family, so the outcome is deterministic per corpus
    * (X77LshSpec pins: lsh ⊆ declared, and covers every declared row
    * with dist ≤ maxDist, on the fixture). Single-row bands can hot-spot
    * on a globally common min-gram; the bucket join inherits q53's
    * machinery (AQE's skew-join split). The threshold form
    * `levenshtein(a, b, k)` bounds verify cost to O(k·n) per pair and
    * returns −1 past k (filtered), so the verify stage is output-gated.
    *
    * Semantics note: emitted rows are exactly the declared rows with
    * dist ≤ maxDist (a probe whose global argmin is farther than maxDist
    * emits nothing — at 100 TB, "no near match within 8 edits" IS the
    * useful answer; the declared query's far-away argmins are
    * fixture-scale diagnostics). */
  def x77FuzzyLsh(s: SparkSession, d: String, maxDist: Int = 8): DataFrame = {
    val pref = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 40).as("p40"))
    val items = pref.select(col("doc_id").as("id"),
      graft.functions.TextExpressions.charGrams(col("p40"), 3).as("toks"))
    val cands = MinHashLSH.candidatePairs(items,
      MinHashLSH.Params(numPerm = 24, rows = 1))
    // unordered pairs → both orientations, then keep probe-side rows
    val dir = cands.select(col("id_a").as("probe_id"), col("id_b").as("cand_id"))
      .unionAll(cands.select(col("id_b").as("probe_id"), col("id_a").as("cand_id")))
      .filter(col("probe_id") % 100 === 0)
    val scored = dir
      .join(pref.select(col("doc_id").as("probe_id"), col("lang"),
        col("p40").as("probe_p")), "probe_id")
      .join(pref.select(col("doc_id").as("cand_id"), col("lang"),
        col("p40").as("cand_p")), Seq("cand_id", "lang"))
      .select(col("probe_id"), col("cand_id"),
        levenshtein(col("probe_p"), col("cand_p"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    val w = Window.partitionBy("probe_id").orderBy(col("dist"), col("cand_id"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("probe_id"), col("cand_id").as("best_id"), col("dist"))
      .orderBy("probe_id")
  }

  /** x78 length percentile-rank normalization — each doc's length scored
    * against its OWN source's distribution (percent_rank + cume_dist):
    * the per-source normalization a mixing/quality pipeline applies
    * before comparing lengths across sources with wildly different
    * length profiles.
    *
    * The declared semantics are the window functions' — but the PLAN is
    * not a per-source window (20 sources ⇒ the q29 serialization trap).
    * rank and cume_dist are pure functions of the (source, length)
    * CUMULATIVE COUNTS: #smaller/(N−1) and cum/N — so the corpus gets one
    * (source, n_chars) hash aggregate, the tiny aggregate gets the
    * cumulative window (|sources|·|distinct lengths| rows), and per-doc
    * scores arrive by joining back on (source, n_chars). Identical output
    * to the window form under ANY partitioning, no corpus-sized window
    * task anywhere — x16's two-level discipline applied to rank
    * functions. */
  def x78LengthPr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    val hist = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy("source").agg(sum("c").as("n"))
    val ranks = hist
      .withColumn("cum", sum("c").over(wc))
      .join(broadcast(tot), "source")
      .select(col("source"), col("n_chars"),
        ((col("cum") - col("c")).cast("double") / (col("n") - 1).cast("double")).as("pr_raw"),
        (col("cum").cast("double") / col("n").cast("double")).as("cd_raw"))
    docs.join(ranks, Seq("source", "n_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        dround(col("pr_raw"), 4).as("pr"), dround(col("cd_raw"), 4).as("cd"))
      .orderBy("doc_id")
  }

  def x53LabelProp(s: SparkSession, d: String): DataFrame = {
    val pairs = MinHashLSH.verifiedPairs(docTokens(s, d), 0.8)
      .select("id_a", "id_b")
    // one pass of the pair plan, not a self-union (r13: the union
    // re-ran the whole signature scan + band join + verify per branch)
    val edges = graft.functions.ConnectedComponents
      .symmetrize(pairs, "id_a", "id_b", "src", "dst")
    val seeds = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("dst"), col("lang").as("seed_lang"))
    val w = Window.partitionBy("doc_id").orderBy(col("c").desc, col("pred_lang"))
    val best = edges.filter(col("src") % 10 =!= 0)
      .join(seeds, "dst")
      .groupBy(col("src").as("doc_id"), col("seed_lang").as("pred_lang"))
      .agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
    best.join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("pred_lang"), col("lang").as("true_lang"),
              (col("pred_lang") === col("lang")).cast("int").as("hit"))
      .orderBy("doc_id")
  }

  /** x187 ITERATIVE label propagation — x53's one Zhu–Ghahramani step run
    * to a bounded fixpoint (r13 verdict item 6): round r labels every
    * still-unlabeled doc with ≥1 LABELED neighbor by the majority label
    * of its labeled neighbors (integer votes, winner ranks count DESC,
    * label ASC — x53's exact rule, so ROUND 1 ≡ x53 by construction,
    * LabelPropIterSpec pins it), and labels are immutable once assigned
    * (the classic seeded-propagation discipline — later rounds can only
    * EXTEND coverage to multi-hop docs, never flip a vote). The contract
    * FIXES the round budget (4, the x186 unrolled-twin rule): the DuckDB
    * twin unrolls exactly 4 vote/pick rounds under MATERIALIZED CTEs;
    * Spark runs the same 4 with early-exit only AT the fixpoint (empty
    * frontier), and the spec pins fixture-fixpoint-inside-budget, so the
    * cap is a twin-expressibility bound, not a semantics change.
    *
    * Scale: per round, one |edges| join against the labeled set, one
    * anti-join against it, one map-side-combined vote aggregate, and a
    * per-DOC window (high-cardinality key). Round tables are eagerly
    * checkpointed (x14's lineage rule: each is read twice next round and
    * the plan must truncate); the labeled set grows toward the near-dup
    * graph's seed-reachable closure — cluster-shaped, so round 1 does
    * almost all the work and later rounds run on the thin multi-hop
    * tail. Output: every non-seed doc labeled within the budget, with
    * the round it was labeled in (`hops`) and the accuracy audit.
    *
    * Long-running-job posture (r14 verdict item 6 — the
    * [[graft.functions.ConnectedComponents.labels]] lesson applied to the
    * OTHER iterative operator): `localCheckpoint` blocks live on
    * executors, so one lost executor makes every subsequent round
    * unrecomputable (the lineage was truncated by design). A production
    * run on a real cluster passes `checkpointDir` (HDFS/object store) and
    * the per-round truncation goes through reliable `checkpoint` files
    * instead — labels are identical either way (LabelPropIterSpec pins
    * equality); only where intermediates live changes. */
  def x187LabelPropIter(s: SparkSession, d: String): DataFrame =
    x187From(s, d,
      MinHashLSH.verifiedPairs(docTokens(s, d), 0.8).select("id_a", "id_b"))

  /** [[x187LabelPropIter]] over a precomputed pair frame with an explicit
    * round budget — the pipeline entry point and the spec's knob.
    * `checkpointDir`: reliable per-round checkpoints for executor-loss
    * survival (see the scaladoc above). */
  private[graft] def x187From(s: SparkSession, d: String, pairs: DataFrame,
                              maxRounds: Int = 4,
                              checkpointDir: Option[String] = None): DataFrame = {
    val ck = new IterCheckpoint(s, checkpointDir)
    try {
      val edges = ck(graft.functions.ConnectedComponents
        .symmetrize(pairs, "id_a", "id_b", "src", "dst"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      var state = ck(docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id"), col("lang").as("pred_lang"),
                lit(0).as("hops")))
      var round = 0
      var growing = true
      while (round < maxRounds && growing) {
        round += 1
        val w = Window.partitionBy("id").orderBy(col("c").desc, col("pred_lang"))
        // CACHE, not checkpoint (r16 verdict item 5 — one fewer eager job
        // per round): the count() below materializes the cache and is the
        // growth probe; `best` has exactly one further reader (the union
        // folded into the NEXT checkpoint), and its lineage sits at
        // bounded depth over this round's state/edges leaves, so the
        // truncation invariant lives with `next`'s ckpt alone.
        val best = edges
          .join(state.select(col("id").as("dst"), col("pred_lang")), "dst")
          .join(state.select(col("id").as("src")), Seq("src"), "left_anti")
          .groupBy(col("src").as("id"), col("pred_lang"))
          .agg(count(lit(1)).as("c"))
          .withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .select(col("id"), col("pred_lang"), lit(round).as("hops"))
          .cache()
        growing = best.count() > 0
        if (growing) {
          val next = ck(state.union(best)) // eager — folds best in
          ck.release(state)
          state = next
        }
        best.unpersist(false) // folded into state (or empty) — safe to drop
      }
      // edges are not referenced by the returned plan (state is a
      // materialized leaf) — drop the 2|E| snapshot now, not at JVM GC
      ck.release(edges)
      state.filter(col("id") % 10 =!= 0)
        .join(docs.select(col("doc_id"), col("lang").as("true_lang")),
              col("id") === col("doc_id"))
        .select(col("doc_id"), col("pred_lang"), col("hops"), col("true_lang"),
                (col("pred_lang") === col("true_lang")).cast("int").as("hit"))
        .orderBy("doc_id")
    } finally ck.restore()
  }

  /** x93 containment near-dup — the subset-duplication readout Jaccard
    * misses by construction: among structural near-dups (exact Jaccard ≥
    * 0.5 over word sets, LSH-generated candidates), every pair whose
    * CONTAINMENT |A∩B| / min(|A|,|B|) ≥ 0.9 — the smaller document is
    * essentially inside the larger. Reported with both coefficients, so a
    * dedup policy can kill subset-copies that a pure j ≥ 0.8 gate keeps.
    *
    * The Jaccard floor is part of the declared semantics: candidates come
    * from the j ≥ 0.5 band index, so a tiny doc buried in a 100× larger
    * one (containment 1.0, Jaccard ≈ 0.01) is out of scope here — that
    * regime needs a prefix-filtering index keyed on the smaller side's
    * rare tokens, which is a different storage structure, not a variant
    * of this query. Scale = verifiedPairs' (band equi-join, early-exit
    * verify); the containment arithmetic is two integer set sizes already
    * carried by the pair list.
    *
    * The 0.5 floor needs a deeper band index than the 0.8-tuned default:
    * at r=2, b=32 a true pair AT j=0.5 is missed with (1−0.25)^32 ≈ 1e-4 —
    * measured as 4 lost pairs in 6M at sf0.1. r=2, b=128 puts the miss at
    * (1−0.25)^128 ≈ 1e-16: verified-exact again, for 4× the signature
    * kernel work (still one scan) and 4× the banded probe rows — the
    * low-threshold recall/candidate-mass trade the Params scaladoc
    * derives. */
  def x93Containment(s: SparkSession, d: String): DataFrame =
    x93ContainmentWith(s, d, numPerm = 256)

  /** [[x93Containment]] with a configurable signature depth — the declared
    * row uses 2×128 bands (verified-exact at j ≥ 0.5); the bench's staged
    * `x93_b32` row prices the 2×32 shape (≈1e-4 miss at the floor, 4 lost
    * pairs in 6M at sf0.1 — BASELINE bandstress table) for pipelines that
    * accept that tolerance in exchange for 4× less band-join mass. */
  def x93ContainmentWith(s: SparkSession, d: String, numPerm: Int): DataFrame =
    MinHashLSH.verifiedPairsDetailed(docTokens(s, d), 0.5,
        p = MinHashLSH.Params(numPerm = numPerm, rows = 2))
      // inter/sz ride the verified pair list (verifiedPairsDetailed) — no
      // second set join, no second intersect pass over the 6M pairs.
      // Integer containment gate: 10·|∩| ≥ 9·min — no double in the filter
      .filter(col("inter") * 10 >= least(col("sz_a"), col("sz_b")) * 9)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("j"),
        dround(col("inter").cast("double")
          / least(col("sz_a"), col("sz_b")).cast("double"), 4).as("containment"))
      // pinnedOrder applied inline (the pipeline above is one broadcast
      // megastage; the contract sort's sampling job re-ran all of it —
      // measured +12.0 s of this row's 25 s)
      .transform(pinnedOrder(_, "doc_a", "doc_b"))

  /** x94 corpus-driven stopword discovery — the df-ratio list a retrieval
    * or quality pipeline derives BEFORE hand-curating stopwords: distinct
    * (doc, token) document frequencies, top 30 tokens by (df DESC, token).
    * One explode→distinct→hash-agg cascade; the top-k is
    * TakeOrderedAndProject over the token-count table, never a full sort
    * of the vocabulary. The corpus total rides a broadcast 1-row count
    * aggregate (crossJoin) instead of a driver-side `.count()` action —
    * one job, and the corpus-count subtree sits INSIDE the plan where
    * AQE/codegen see it (r8 verdict nit). */
  def x94Stopwords(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tot = docs.agg(count(lit(1)).as("n_corpus"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("df"),
        dround(col("df").cast("double") / col("n_corpus").cast("double"), 4).as("df_share"))
      .orderBy(col("df").desc, col("tok"))
      .limit(30)
  }

  /** x95 BPE merge-pair step — the inner loop of byte-pair-encoding
    * tokenizer training, as one corpus query: count every ADJACENT
    * character pair inside words (no cross-word pairs — the word boundary
    * is BPE's merge fence), return the top 20 merge candidates by
    * (count DESC, pair). One explode of per-word pair arrays into a
    * map-side-combined hash agg; iterating the trainer = re-running this
    * query over the re-paired vocabulary, each step one scan. The pair
    * derives from the (distinct-per-word? no — BPE counts OCCURRENCES)
    * full word stream, so frequency-weighted exactly as Sennrich's
    * algorithm counts. */
  def x95BpePairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** x89 k-anonymity audit — the re-identification readout a privacy
    * review runs before releasing a corpus: group documents by the
    * quasi-identifier (lang, source, n_chars÷100 length bucket) and
    * report, per lang, how many QI groups exist, how many fall below
    * k = 5 members, the smallest group, and the fraction of documents
    * sitting in a below-k group (the rows actually at risk). Two
    * map-side-combined hash aggs (QI cells, then per-lang rollup) —
    * group count is bounded by the QI domain, not the corpus, so the
    * reduction is constant-width at any scale. All-integer until the
    * one final rounded share. */
  def x89KAnon(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"),
        (col("n_chars").cast("long") / 100).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("sz"))
    cells.groupBy("lang")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_small"),
        min("sz").as("min_size"),
        dround(sum(when(col("sz") < 5, col("sz")).otherwise(0L)).cast("double")
          / sum("sz").cast("double"), 4).as("risk_share"))
      .orderBy("lang")
  }

  /** x102 sequence packing (concat-and-chunk) — the step that actually
    * fills a model's context windows: per language, concatenate documents
    * in doc_id order and cut the token stream into fixed 256-token
    * contexts (the GPT-style packer; x16's sharder never splits a doc,
    * this one does — both exist in real pipelines and they answer
    * different questions). Declared output is the per-chunk manifest:
    * how many docs overlap the chunk, how many START inside it, the
    * first overlapping doc, and the tokens filled (256 everywhere except
    * each language's final partial chunk — i.e. the padding waste is
    * exactly readable off `n_fill`).
    *
    * Plan: the same two-level [[prefixCum]] scan as x16 (NO corpus-wide
    * window task at any scale), then each doc explodes into only the
    * chunks it overlaps — `sequence((cum−n)÷256, (cum−1)÷256)` — so the
    * explode's output mass is `n_tokens/256 + n_docs` rows, linear in
    * the corpus, and the one shuffle is the (lang, chunk) hash agg.
    * All-integer end to end. */
  def x102SeqPack(s: SparkSession, d: String): DataFrame = {
    val C = 256L
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    prefixCum(docs)
      .withColumn("chunk",
        explode(sequence(expr(s"(cum - n_tok) div $C"), expr(s"(cum - 1) div $C"))))
      .groupBy("lang", "chunk")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr(s"(cum - n_tok) div $C") === col("chunk"), 1L)
          .otherwise(0L)).as("n_starts"),
        min("doc_id").as("head_doc"),
        max("cum").as("max_cum"))
      .select(col("lang"), col("chunk"), col("n_docs"), col("n_starts"),
        col("head_doc"),
        (least(lit(C) * (col("chunk") + 1), col("max_cum"))
          - lit(C) * col("chunk")).as("n_fill"))
      .orderBy("lang", "chunk")
  }

  /** x106 exact near-dup pairs via prefix filtering — q53's contract
    * (all pairs, exact Jaccard ≥ 0.8 over word sets) computed by the
    * deterministic-exact AllPairs/PPJoin algorithm instead of MinHash
    * banding: candidates come from an equi-join on df-ordered PREFIX
    * tokens, whose completeness is a theorem about the token order, not
    * a band-collision probability. See [[graft.functions.AllPairsJoin]]
    * for the anatomy and the t-boundary FP discipline. The two engines
    * answering one declared contract lets the bench put a number on what
    * the probabilistic index buys (or costs) per corpus. */
  def x106ExactPairs(s: SparkSession, d: String): DataFrame =
    pinnedOrder(graft.functions.AllPairsJoin.exactPairs(docTokens(s, d), 0.8),
      "id_a", "id_b")

  /** x108 length-matched control pairing — the case-control matching step
    * of an evaluation pipeline: every doc from the "treatment" source
    * (src0) paired, within its language, to the control-corpus doc of
    * nearest character length (ties: shorter control, then lower doc_id)
    * — so downstream metric deltas aren't confounded by length. Executed
    * by [[NearestJoin]] — the value-axis as-of operator — whose two-level
    * scan keeps the per-lang matching off a single task (lang is exactly
    * the low-cardinality q29 key the two-level shape exists for). */
  def x108LengthMatch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    NearestJoin.nearest(
        docs.filter(col("source") === "src0").drop("source"),
        docs.filter(col("source") =!= "src0").drop("source"),
        "lang", "n_chars", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("match_id"),
        col("match_axis").as("match_chars"), col("delta"))
      .orderBy("doc_id")
  }

  /** x110 canonicalization dedup audit — the C4/CCNet-style normalization
    * pass BEFORE exact dedup: whitespace runs collapse, edges trim, ASCII
    * letters casefold, and the dedup key becomes sha256 of the CANONICAL
    * text — catching the "same page, different whitespace/case" copies
    * that q52's raw-byte hash treats as distinct. Per doc: the canonical
    * fingerprint, whether canonicalization changed the text, and its
    * canonical-group size (group_n > 1 where raw sha256 said unique =
    * exactly the catch).
    *
    * Cross-engine discipline: the fold is `translate` over the 26 ASCII
    * letters — pure byte mapping, no Unicode case tables (JVM and ICU
    * disagree on locale-sensitive mappings; a contract key must not) —
    * and the whitespace regex is literal `' +'` (DuckDB needs the 'g'
    * flag for replace-all; Spark replaces all by default).
    *
    * Scale: one projection + one sha256 hash-agg (q52's exact shape — the
    * group key is the 32-byte digest, never the text) + one digest-keyed
    * join back. */
  def x110CanonDedup(s: SparkSession, d: String): DataFrame = {
    val uc = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val canon = Tables.documents(s, d).select(col("doc_id"),
      (translate(trim(regexp_replace(col("text"), " +", " ")), uc, uc.toLowerCase)
        =!= col("text")).cast("int").as("changed"),
      sha2(translate(trim(regexp_replace(col("text"), " +", " ")), uc, uc.toLowerCase),
        256).as("ch"))
    canon.join(canon.groupBy("ch").agg(count(lit(1)).as("group_n")), "ch")
      .select(col("doc_id"), substring(col("ch"), 1, 16).as("canon_fp"),
        col("changed"), col("group_n"))
      .orderBy("doc_id")
  }

  /** x103 exact AUC — the Mann–Whitney readout a data-quality team runs
    * to ask "does this cheap signal separate the classes?": here, how
    * well document length (n_chars) predicts lang = 'en'. Exact
    * tie-aware AUC, computed WITHOUT ranking the corpus: group into the
    * score histogram first (one hash agg onto ≤|distinct lengths| cells
    * — bounded by the score's domain, not the corpus), then one ordered
    * scan over the HISTOGRAM (aggregate-sized; the x78/x96 spine
    * precedent) accumulates, per score value v,
    * `pos_v · (2·negBelow_v + neg_v)` — the average-rank U statistic
    * doubled to stay in BIGINT. The only double is the final
    * `u2 / (2·n_pos·n_neg)` divide, rounded once. A per-row rank window
    * would sort the corpus on one task chain; the histogram form moves
    * |cells| rows after the map-side-combined agg. */
  def x103LengthAuc(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.documents(s, d)
      .groupBy("n_chars")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
           sum(when(col("lang") === "en", 0L).otherwise(1L)).as("neg"))
    val w = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cnb", coalesce(sum("neg").over(w), lit(0L)))
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
           sum(col("pos") * (lit(2L) * col("cnb") + col("neg"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        dround(col("u2").cast("double")
          / (lit(2.0) * col("n_pos") * col("n_neg")), 4).as("auc"))
  }

  /** x116 association-rule mining over the top-100 vocabulary — doc-level
    * token co-occurrence with the three classic rule metrics: support
    * (share of docs holding both), the two directional confidences, and
    * lift n_ab·N/(n_a·n_b). PMI (x74) scores ADJACENT bigram phrases;
    * this scores whole-document co-presence — the curator's "which
    * markers travel together" signal (boilerplate kits, license headers,
    * template families).
    *
    * Scale is bounded by the VOCABULARY, not the corpus: itemsets are
    * restricted to the top-100-df tokens (an aggregate-sized broadcast),
    * so per-doc pair expansion is ≤ C(100,2) and — the load-bearing part
    * — the pair aggregation has at most 4,950 DISTINCT keys, so map-side
    * combine collapses every partition's expansion before the shuffle:
    * the exchange moves O(partitions · 4950) rows at any corpus size.
    * All counts integer; ratios are one rounded divide each. Top-20 by
    * lift over the ≤4,950-row result is aggregate-sized. */
  def x116AssocRules(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // corpus total as a broadcast 1-row aggregate (not a driver action):
    // support/lift read it off the crossJoin, so the whole rule table is
    // one job with the count subtree inside the plan (r8 verdict nit)
    val tot = docs.agg(count(lit(1)).as("n_corpus"))
    val inc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val vocab = inc.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(100)
    val hits = inc.join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok"), col("df"))
    val pairs = hits.select(col("doc_id"), col("tok").as("tok_a"), col("df").as("n_a"))
      .join(hits.select(col("doc_id"), col("tok").as("tok_b"), col("df").as("n_b")),
        "doc_id")
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b", "n_a", "n_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .crossJoin(broadcast(tot))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        dround(col("n_ab").cast("double") / col("n_corpus").cast("double"), 4).as("support"),
        dround(col("n_ab").cast("double") / col("n_a").cast("double"), 4).as("conf_ab"),
        dround(col("n_ab").cast("double") / col("n_b").cast("double"), 4).as("conf_ba"),
        dround(col("n_ab").cast("double") * col("n_corpus").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")), 4).as("lift"))
      .orderBy(col("lift").desc, col("tok_a"), col("tok_b"))
      .limit(20)
  }

  /** x112 triangle census of the near-dup graph's degree-bounded core —
    * the structural readout past x97's per-cluster transitivity:
    * edge/wedge/triangle counts and the clustering coefficient 3·Δ/wedges
    * over the subgraph whose endpoints have degree ≤ 256. Near 1 ⇒ dup
    * clusters are cliques (true copies); low ⇒ chains (the threshold is
    * gluing unrelated docs through intermediates).
    *
    * Why the degree bound is the DECLARED semantics and not a shortcut:
    * a triangle census is inherently Ω(wedges), and on this corpus' 0.8
    * graph the giant near-clique component alone holds ~2.4e9 wedges at
    * sf0.1 (measured — the unbounded census ran >10 min where everything
    * else in the suite is seconds); a 10⁹-row wedge shuffle answers no
    * question x97's direct/possible ratio doesn't already answer for
    * that component. The operational census (x38's lesson: remove the
    * adversarial mass, REPORT it) bounds endpoint degree: hubs and giant
    * near-cliques are excluded from the wedge join and surfaced as the
    * explicit n_edges − n_kept_edges gap, while the long tail of small
    * clusters — where triangle structure is actually informative — is
    * censused exactly. Wedge mass is ≤ 256·m_kept by construction (the bound keeps the
    * sf0.01 oracle corpus — degrees ≈ 160 — fully censused while the
    * sf0.1 giant component — degrees ≈ 1600 — stays out).
    *
    * Algorithm on the kept subgraph: degree orientation (each edge from
    * its (full-deg, id)-smaller endpoint — any acyclic orientation is
    * exact; out-degrees additionally ≤ √(2m)), wedge self-join on the
    * source, and the wedge pair ordered by the SAME (deg, id) key so the
    * triangle close is one equi-join — no OR predicate, no BNL. Wedges
    * and degrees all-integer; the one double is the final rounded ratio.
    * Edges come from q53's verified pair list (already costed there). */
  def x112Triangles(s: SparkSession, d: String): DataFrame =
    x112From(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x112 over a PRECOMPUTED pair frame — Bench's `x112_tri_only` row:
    * the census' marginal cost (degree filter + wedge join + close join)
    * without re-deriving the pair graph. */
  def x112From(s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    val maxDeg = 256
    val e = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val kept = withDeg.filter(col("da") <= maxDeg && col("db") <= maxDeg)
    // kept-subgraph degrees drive the wedge denominator; the full-graph
    // (deg, id) key still orients (any acyclic orientation counts exactly)
    val kdeg = kept.select(col("a").as("v")).unionAll(kept.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val o = kept.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst"), col("db").as("ddeg")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("ddeg")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddeg").as("ddeg"))
    // order each out-neighbor pair by the SAME (deg, id) key the orientation
    // uses, so the closing edge — if present — is oriented exactly v→w and
    // the triangle close is a single equi-join (no OR predicate, no BNL)
    val wedges = o.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
      .join(o.select(col("src"), col("dst").as("w"), col("ddeg").as("dw")), "src")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges.join(
        o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val full = deg.agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg2x"))
    val core = kdeg.agg(sum("deg").as("kdeg2x"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    full.crossJoin(core).crossJoin(tri)
      .select(col("n_nodes"), (col("deg2x") / 2).cast("long").as("n_edges"),
        (col("kdeg2x") / 2).cast("long").as("n_kept_edges"),
        col("n_wedges"), col("n_triangles"),
        dround(lit(3.0) * col("n_triangles").cast("double")
          / col("n_wedges").cast("double"), 4).as("core_cc"))
  }

  /** x113 sorted-neighborhood near-dup (Hernández–Stolfo SNM) — the third
    * blocking family next to LSH (q53) and prefix filtering (x106): sort
    * the corpus by a canonical blocking key (ASCII-casefolded 24-char prefix),
    * compare each doc only to its w = 8 successors in sort order, verify
    * exact Jaccard ≥ 0.7. Candidate mass is EXACTLY n·w by construction —
    * no skew case exists, which is SNM's selling point on corpora whose
    * hot keys break hash blocking; its documented blind spot (a dup whose
    * edit falls inside the key prefix sorts far away) is priced against
    * q53's probabilistic miss rate in the bench.
    *
    * Scale — the global sort position WITHOUT a one-task global window,
    * and WITHOUT a hot-key failure mode: `repartitionByRange(k, doc_id)`
    * splits on the full COMPOSITE key, so its equal-frequency sampling
    * balances partitions even when millions of docs share one blocking
    * key (a value-bucket scheme — e.g. first-char buckets — serializes
    * exactly there, the q29 hazard); per-partition counts make a
    * P-row exclusive-prefix carry (broadcast back), and row_number runs
    * per range partition. The emitted rank is identical wherever the
    * sampled boundaries fall — offsets + local ranks compose to the same
    * global position — and the count/rank branches see the SAME
    * boundaries structurally: the range-bucketed frame is materialized
    * once (eager localCheckpoint) and both branches read the pinned
    * partitions, rather than relying on RangePartitioner's sampler
    * determinism across two plan instantiations. Neighbor pairing is
    * sequence-explode + one rank
    * equi-join (dense integer key, uniform by construction). Verify is
    * per-candidate array intersection — n·w pairs, map-side, no shuffle
    * beyond the rank join. */
  def x113SnmDedup(s: SparkSession, d: String): DataFrame =
    // deliberately NOT pinnedOrder: the stage below this sort starts at
    // snmPairs' eager localCheckpoint (leaf) — the sampling job re-runs
    // only the cheap rank join, and the added exchange measured as a net
    // loss (r16: 1.95 s → 2.90 s warm with the pin)
    snmPairs(s, d, w = 8, thresh = 0.7)
      .select(col("doc_a"), col("doc_b"), dround(col("jac"), 4).as("j"))
      .orderBy("doc_a", "doc_b")

  /** The SNM pair generator behind x113 (and x118's ablation): verified
    * pairs (doc_a < doc_b, raw exact Jaccard) from a w-successor scan of
    * the (ASCII-casefolded 24-char prefix, doc_id) sort order. */
  private[graft] def snmPairs(s: SparkSession, d: String, w: Int,
                              thresh: Double): DataFrame =
    snmPairsOf(Tables.documents(s, d), w, thresh)

  /** snmPairs over any (doc_id, text) frame. */
  private[graft] def snmPairsOf(docs: DataFrame, w: Int,
                                thresh: Double): DataFrame = {
    // Blocking key casefold is ASCII translate(), NOT lower(): the key is
    // part of the cross-engine contract (it fixes the sort order and hence
    // the w-window candidate set), and JVM vs ICU Unicode case tables can
    // diverge on non-ASCII code points — x110's rule, applied here (r8
    // advice). The bucketed frame is materialized ONCE so the count branch
    // and the rank branch structurally share one range exchange instead of
    // relying on RangePartitioner's sampler determinism across two
    // instantiations (r8 advice).
    val uc = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val dk = docs
      .select(col("doc_id"),
        translate(substring(col("text"), 1, 24), uc, uc.toLowerCase).as("k"),
        array_distinct(split(col("text"), " ")).as("toks"))
      .repartitionByRange(col("k"), col("doc_id"))
      .withColumn("bkt", spark_partition_id().cast("long"))
      .localCheckpoint(true)
    val cnt = dk.groupBy("bkt").agg(count(lit(1)).as("c"))
    val wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val off = cnt.withColumn("off", coalesce(sum("c").over(wb), lit(0L)))
      .select(col("bkt"), col("off"))
    val wr = Window.partitionBy("bkt").orderBy("k", "doc_id")
    val ranked = dk.join(broadcast(off), "bkt")
      .withColumn("rk", col("off") + row_number().over(wr))
      .select(col("rk"), col("doc_id"), col("toks"))
    val cand = ranked
      .select(col("rk"), col("doc_id").as("ia"), col("toks").as("ta"),
        explode(sequence(lit(1), lit(w))).as("i"))
      .withColumn("rk2", col("rk") + col("i"))
      .join(ranked.select(col("rk").as("rk2"), col("doc_id").as("ib"),
        col("toks").as("tb")), "rk2")
    cand
      .withColumn("na", size(col("ta")).cast("long"))
      .withColumn("nb", size(col("tb")).cast("long"))
      .withColumn("ix", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("jac", col("ix").cast("double")
        / (col("na") + col("nb") - col("ix")).cast("double"))
      .filter(col("jac") >= thresh)
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("jac"))
  }

  /** x118 blocker ablation — the pair-set overlap audit across the three
    * blocking families this engine ships: LSH (q53's verified ≥ 0.8
    * list — COMPLETE over exact-Jaccard pairs by its hash-checked
    * contract), sorted-neighborhood (x113's machinery at the same 0.8
    * threshold — a strict subset; its n_only row measures SNM's recall
    * gap directly), and canonicalization (x110's whitespace/casefold
    * groups — which can find pairs token-Jaccard MISSES, since casefolded
    * copies tokenize differently). Per blocker: pairs found, and pairs
    * found by NO other blocker; plus the union row (n_only there = pairs
    * with exactly one finder). This is the ablation a pipeline owner runs
    * before deleting a blocker from the stack.
    *
    * Scale: each blocker's pair list is already scale-audited in its own
    * row; past those, one (a, b) hash-agg over the tagged union and
    * aggregate-sized rollups. */
  def x118BlockerAblation(s: SparkSession, d: String): DataFrame =
    x118From(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x118 over a PRECOMPUTED LSH pair frame — Bench's `x118_abl_only`
    * row: the SNM + canonicalization arms and the pair-set algebra,
    * without re-deriving q53's verified pair list (its own priced row). */
  def x118From(s: SparkSession, d: String, lshPairs: DataFrame): DataFrame = {
    val lsh = lshPairs
      .select(col("id_a").as("a"), col("id_b").as("b"), lit("lsh").as("blocker"))
    val snm = snmPairs(s, d, w = 8, thresh = 0.8)
      .select(col("doc_a").as("a"), col("doc_b").as("b"), lit("snm").as("blocker"))
    val uc = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val ch = Tables.documents(s, d).select(col("doc_id"),
      sha2(translate(trim(regexp_replace(col("text"), " +", " ")), uc, uc.toLowerCase),
        256).as("ch"))
    val canon = ch.join(ch.select(col("doc_id").as("id2"), col("ch")), "ch")
      .filter(col("doc_id") < col("id2"))
      .select(col("doc_id").as("a"), col("id2").as("b"), lit("canon").as("blocker"))
    val byPair = lsh.unionAll(snm).unionAll(canon)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("nb"),
        max(when(col("blocker") === "lsh", 1).otherwise(0)).as("f_lsh"),
        max(when(col("blocker") === "snm", 1).otherwise(0)).as("f_snm"),
        max(when(col("blocker") === "canon", 1).otherwise(0)).as("f_canon"))
    byPair.agg(
        sum("f_lsh").as("lsh_pairs"),
        sum(when(col("f_lsh") === 1 && col("nb") === 1, 1L).otherwise(0L)).as("lsh_only"),
        sum("f_snm").as("snm_pairs"),
        sum(when(col("f_snm") === 1 && col("nb") === 1, 1L).otherwise(0L)).as("snm_only"),
        sum("f_canon").as("canon_pairs"),
        sum(when(col("f_canon") === 1 && col("nb") === 1, 1L).otherwise(0L)).as("canon_only"),
        count(lit(1)).as("union_pairs"),
        sum(when(col("nb") === 1, 1L).otherwise(0L)).as("union_single_finder"))
      .select(
        explode(array(
          struct(lit("canon").as("blocker"), col("canon_pairs").cast("long").as("n_pairs"),
            col("canon_only").cast("long").as("n_only")),
          struct(lit("lsh").as("blocker"), col("lsh_pairs").cast("long").as("n_pairs"),
            col("lsh_only").cast("long").as("n_only")),
          struct(lit("snm").as("blocker"), col("snm_pairs").cast("long").as("n_pairs"),
            col("snm_only").cast("long").as("n_only")),
          struct(lit("union").as("blocker"), col("union_pairs").cast("long").as("n_pairs"),
            col("union_single_finder").cast("long").as("n_only")))).as("r"))
      .select(col("r.blocker").as("blocker"), col("r.n_pairs").as("n_pairs"),
        col("r.n_only").as("n_only"))
      .orderBy("blocker")
  }

  /** x114 token-mass-weighted length percentiles — "what max sequence
    * length covers 50/90/99% of the corpus' TOKEN MASS per language?",
    * the context-length sizing question every training run asks. This is
    * a WEIGHTED quantile (weight = the doc's token count), which q25/x34's
    * unweighted row quantiles cannot answer: one 100k-token doc moves the
    * mass cut as much as ten thousand 10-token docs.
    *
    * Exactness and scale in one shape: a (lang, n_chars) histogram with
    * summed token weights (one map-side-combined hash agg over the
    * corpus), a cumulative window over the AGGREGATE-sized histogram, and
    * the cut per level p as MIN(n_chars | 100·cum ≥ p·W) — pure BIGINT
    * threshold arithmetic, no float quantile interpolation anywhere, so
    * no rounding discipline is even needed. */
  def x114MassQuantiles(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.documents(s, d)
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy("lang", "n_chars").agg(sum("ntok").as("wsum"))
    val wc = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy("lang").agg(sum("wsum").as("wtot"))
    hist.withColumn("cum", sum("wsum").over(wc))
      .join(broadcast(tot), "lang")
      .groupBy("lang")
      .agg(max("wtot").as("total_tokens"),
        min(when(col("cum") * 100 >= col("wtot") * 50, col("n_chars"))).as("p50_len"),
        min(when(col("cum") * 100 >= col("wtot") * 90, col("n_chars"))).as("p90_len"),
        min(when(col("cum") * 100 >= col("wtot") * 99, col("n_chars"))).as("p99_len"))
      .orderBy("lang")
  }

  /** x119 cross-doc boilerplate share — per source, what fraction of
    * word-8-gram OCCURRENCES belong to grams appearing in ≥ 10 distinct
    * documents corpus-wide (license headers, navigation chrome, template
    * scaffolding — the CROSS-doc sibling of x21's within-doc repetition:
    * x21 flags a doc repeating itself, this flags text the CORPUS
    * repeats). The canonical C4/RefinedWeb cleanup signal before
    * paragraph-level boilerplate stripping.
    *
    * Scale: gram df comes from distinct (doc, gram) → gram hash agg (the
    * x94 cascade over [[graft.functions.TextExpressions.wordShingles]]'s
    * codegen kernel); per-source occurrence counts aggregate to (source,
    * gram) BEFORE the df join, so the join probes distinct grams per
    * source, not raw occurrences; the final rollup is |sources| rows.
    * All integers until one rounded share. */
  def x119Boilerplate(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextExpressions.wordShingles(
          split(col("text"), " "), 8)).as("gram"))
    val df = grams.select(col("doc_id"), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") >= 10)
      .select(col("gram"), lit(1L).as("is_boiler"))
    val perSrcGram = grams.groupBy("source", "gram").agg(count(lit(1)).as("occ"))
    perSrcGram.join(df, Seq("gram"), "left")
      .groupBy("source")
      .agg(sum("occ").cast("long").as("n_grams"),
        coalesce(sum(when(col("is_boiler").isNotNull, col("occ"))), lit(0L))
          .cast("long").as("n_boiler"))
      .withColumn("boiler_share",
        dround(col("n_boiler").cast("double") / col("n_grams").cast("double"), 4))
      .orderBy("source")
  }

  /** x121 cross-source near-dup syndication matrix — per unordered source
    * pair, how many VERIFIED near-dup pairs (exact Jaccard ≥ 0.8, q53's
    * contract) straddle the two, with the min/max similarity of the
    * straddling pairs. The provenance audit a curator runs before
    * weighting sources as if they were independent: syndicated/rescraped
    * feeds double-count into mixing weights exactly as this matrix
    * quantifies. Distinct from x30 (shingle-VOCABULARY overlap — shared
    * words) and from exact-hash grouping (which this fixture's dup
    * structure never crosses sources with — measured zero; near-dup
    * pairs cross 20 source pairs at sf0.01): this counts whole-DOCUMENT
    * near-copies across source boundaries.
    *
    * Scale: q53's pair machinery (banded, verified, already priced);
    * past it, two doc_id→source joins (corpus-sized equi-joins, the only
    * additional shuffles) and an |sources|²-bounded agg. min/max of the
    * ROUNDED j are order-independent — no FP-sum hazard. */
  def x121Syndication(s: SparkSession, d: String): DataFrame =
    x121From(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x121 over a PRECOMPUTED (id_a, id_b, j) pair frame — Bench's
    * `x121_synd_only` row: two source joins + the |sources|² agg. */
  def x121From(s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("j"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"), min("j").as("min_j"), max("j").as("max_j"))
      .orderBy("src_a", "src_b")
  }

  /** x122 token-budget prefix-cut selection — per language, walk docs in
    * (n_tok DESC, doc_id) order and take the longest PREFIX whose
    * cumulative token count stays ≤ 20,000: the deterministic "fill the
    * training budget, longest-first" selection rule. Declared output per
    * lang: docs selected, tokens used, and the last selected doc's
    * length.
    *
    * The declared semantics are the per-doc prefix walk — but the PLAN
    * never ranks the corpus: selection by a prefix rule over a sort
    * order whose FIRST key is n_tok reduces to the (lang, n_tok)
    * histogram (x114's spine): whole cells admit while the running mass
    * fits, and the BOUNDARY cell — where the budget runs out — admits
    * exactly floor(remaining / n_tok) docs, which by the doc_id
    * tiebreak are the cell's lowest doc_ids; no per-doc window exists
    * anywhere, so the one corpus-sized operation is the histogram hash
    * agg. All-integer. */
  def x122BudgetCut(s: SparkSession, d: String, budget: Long = 20000L): DataFrame = {
    val hist = Tables.documents(s, d)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang", "n_tok").agg(count(lit(1)).as("cnt"))
      .withColumn("mass", col("n_tok") * col("cnt"))
    val wc = Window.partitionBy("lang").orderBy(col("n_tok").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_before", coalesce(sum("mass").over(wc), lit(0L)))
      .filter(col("cum_before") < budget) // cells with at least one admit
      .withColumn("n_take",
        least(col("cnt"), floor((lit(budget) - col("cum_before")) / col("n_tok"))
          .cast("long")))
      .filter(col("n_take") > 0)
      .groupBy("lang")
      .agg(sum("n_take").cast("long").as("n_selected"),
        sum(col("n_take") * col("n_tok")).cast("long").as("tokens_used"),
        min(when(col("n_take") > 0, col("n_tok"))).as("cut_len"))
      .orderBy("lang")
  }

  /** x146 data-mix waterfilling — the EXACT token-budget allocation
    * across languages that a training-mix designer computes when a
    * global budget B (here 80% of corpus tokens) must split "as evenly
    * as possible" without asking any language for more than it has:
    * languages whose whole supply fits under the water level keep it all
    * (saturated); the rest split the remainder evenly, with the integer
    * remainder going to the alphabetically-first unsaturated languages.
    * x122 cuts WITHIN a language; this allocates ACROSS them — together
    * they're the two halves of budgeted mix construction.
    *
    * The level search is closed-form, not iterative: in ascending-supply
    * order, row i is saturated iff s_i·(k−i+1) ≤ B − prefix_{i−1}
    * (cross-multiplied — no division), and saturation is provably a
    * PREFIX of that order (if row i fails, B − P_i < s_i·(k−i) ≤
    * s_{i+1}·(k−i), so row i+1 fails too) — one window pass decides
    * every row. ALL-INTEGER arithmetic end to end: supplies, budget
    * (tot·8 div 10), the saturation compare, base = R div u, remainder
    * ranks — Σ alloc = min(B, Σs) holds exactly, and the hash has no FP
    * anywhere. Every window runs over the |langs|-row aggregate. */
  def x146Waterfill(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.documents(s, d)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("lang").agg(sum("t").as("supply"))
    val tot = sup.agg(sum("supply").as("tot"), count(lit(1)).as("k"))
    val wAsc = Window.orderBy("supply", "lang")
    val marked = sup.crossJoin(broadcast(tot))
      .withColumn("budget", expr("tot * 8 div 10"))
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("pfx", coalesce(
        sum("supply").over(wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("sat",
        col("supply") * (col("k") - col("rn") + 1) <= col("budget") - col("pfx"))
    val satAgg = marked.agg(
      coalesce(sum(when(col("sat"), col("supply"))), lit(0L)).as("sat_sum"),
      coalesce(sum(when(col("sat"), 1L)), lit(0L)).as("m"))
    val wLang = Window.orderBy("lang").rowsBetween(Window.unboundedPreceding, 0)
    marked.crossJoin(broadcast(satAgg))
      .withColumn("r_budget", col("budget") - col("sat_sum"))
      .withColumn("u", greatest(col("k") - col("m"), lit(1L)))
      .withColumn("base", expr("r_budget div u"))
      .withColumn("rem", expr("r_budget % u"))
      .withColumn("urk", sum(when(!col("sat"), 1L).otherwise(0L)).over(wLang))
      .withColumn("alloc", when(col("sat"), col("supply"))
        .otherwise(col("base") + when(col("urk") <= col("rem"), 1L).otherwise(0L)))
      .select(col("lang"), col("supply"), col("alloc"), col("sat").as("saturated"))
      .orderBy("lang")
  }

  /** x141 OOV rate — the tokenizer-coverage readout every vocabulary
    * decision needs: fix the corpus's top-1000-word vocabulary, then
    * measure per language what fraction of token OCCURRENCES fall
    * outside it. x32 tracks vocabulary GROWTH and x94 finds stopwords
    * (the head); this measures the TAIL a fixed vocab abandons — the
    * number that says whether a shared vocab starves a minority
    * language (high OOV = its text degrades to UNK spam).
    *
    * Determinism at the vocab boundary: rank-1000 ties break by (count
    * DESC, word ASC) in both engines — the cut set is exact, never
    * partitioning-lucky. Scale: the vocab is a TakeOrdered top-k over
    * the map-side-combined word-count aggregate (|distinct words|-sized,
    * never corpus-sized); scoring joins the token stream against the
    * BROADCAST 1000-word set and folds to a |langs|-row aggregate. The
    * token stream is scanned twice (vocab build + scoring) — a real
    * pipeline persists the vocab once and pays only the scoring pass. */
  def x141OovRate(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(1000)
      .select(col("w").as("vw"))
    words.join(broadcast(vocab), col("w") === col("vw"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("vw").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tok"), col("n_oov"),
        dround(col("n_oov").cast("double") / col("n_tok").cast("double"), 6)
          .as("oov_rate"))
      .orderBy("lang")
  }

  /** x156 rendezvous (HRW) shard rebalance plan — the movement matrix a
    * consistent-placement layer computes before growing a 16-shard layout
    * to 17: every doc's shard under k is argmax over s<k of
    * md5(doc_id#s), so the PLAN is the (shard_before, shard_after,
    * n_docs) matrix, and rendezvous hashing's minimal-movement guarantee
    * — a doc either stays put or moves to the NEW shard, never between
    * old shards — ships as a per-row `ok` flag the oracle pins true.
    * This is the reshard-cost estimator for every hash-placed store in
    * this repo (PostingsStore/SignatureStore term buckets are mod-hash:
    * growing them moves ~15/16 of all keys; HRW moves exactly ~1/17).
    *
    * Plan: ONE pass — each doc explodes to its 17 candidate hashes
    * map-side, and BOTH argmaxes come from one map-side-combinable
    * aggregate (max(struct) over all 17 = the k=17 shard; the same max
    * FILTERed to s<16 = the k=16 shard — fixed-width lowercase hex
    * compares like the value it encodes, x06's discipline). The movement
    * matrix is a ≤(16+17)-row second aggregate. No join anywhere. */
  def x156ShardMove(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(0L), lit(16L))).as("sh"))
      .withColumn("h",
        md5(concat(col("doc_id").cast("string"), lit("#"), col("sh").cast("string"))))
      .groupBy("doc_id")
      .agg(max(when(col("sh") < 16L, struct(col("h"), col("sh")))).as("m16"),
           max(struct(col("h"), col("sh"))).as("m17"))
      .groupBy(col("m16.sh").as("shard_before"), col("m17.sh").as("shard_after"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("moved", col("shard_before") =!= col("shard_after"))
      .withColumn("ok",
        (!col("moved") || col("shard_after") === 16).cast("int"))
      .orderBy("shard_before", "shard_after")

  /** x157 n-gram commonness audit — the CCNet-style "how ordinary is
    * this document" score that LM-filtering pipelines compute against a
    * reference corpus (here: the corpus itself): per doc, over its word
    * trigrams, the mean corpus frequency of those grams, the rarest
    * gram's count, and the hapax share (grams occurring exactly once
    * corpus-wide — the novelty/noise end). High mean + zero hapax =
    * boilerplate-adjacent; low mean + high hapax = novel or garbage —
    * the two tails a curation run routes differently (x54 scores
    * novelty against a DIFFERENT corpus; this scores self-typicality).
    *
    * ALL-INTEGER by design: the mean is Σc/n with exact BIGINT sums, one
    * rounded divide (no per-gram log, no FP accumulation ordering). One
    * gram explode → map-side-combined count table → one gram-keyed join
    * back → doc-sized aggregate. Docs with <3 tokens emit no row (x54's
    * convention). */
  def x157GramCommonness(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.functions.TextExpressions.wordShingles(
        split(col("text"), " "), 3)).as("g"))
    val cnt = grams.groupBy("g").agg(count(lit(1)).as("c"))
    grams.join(cnt, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum("c").as("sum_c"),
        min("c").as("rarest"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_grams"),
        dround(col("sum_c").cast("double") / col("n_grams").cast("double"), 4)
          .as("mean_df"),
        col("rarest"), col("n_hapax"))
      .orderBy("doc_id")
  }

  /** x158 labeling-function agreement (Cohen's κ) — the weak-supervision
    * audit run before trusting programmatic labels: two deterministic
    * binary labelers over the same corpus (A: char mass ≥ 200; B: token
    * count ≥ 40 — the length-family pair a curation run actually
    * cross-checks), their 2×2 confusion counts, observed agreement p_o,
    * chance agreement p_e, and κ = (p_o − p_e)/(1 − p_e). κ near 1 says
    * the cheap labeler can stand in for the expensive one; κ near 0
    * says their agreement is coincidence.
    *
    * Exactness: κ's textbook form divides two divisions; clearing n²
    * gives κ = (n·agree − Σ_k a_k·b_k) / (n² − Σ_k a_k·b_k) — every term
    * an exact integer, ONE double divide (the x139 cross-multiply
    * discipline). Products run in decimal(38,0) (n² wraps a long at
    * n ≈ 3e9 — the x120/x125 posture). One scan, one constant-width
    * aggregate, no shuffle beyond the 1-row fold. */
  def x158LabelerKappa(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val lab = Tables.documents(s, d).select(
      (col("n_chars") >= 200L).cast("long").as("a"),
      (size(split(col("text"), " ")) >= 40).cast("long").as("b"))
    lab.agg(
        count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        dround((col("n11") + col("n00")).cast("double") / col("n").cast("double"), 4)
          .as("po"),
        dround(((dec(col("n11") + col("n10")) * dec(col("n11") + col("n01"))
          + dec(col("n00") + col("n01")) * dec(col("n00") + col("n10")))
          .cast("double")) / (dec(col("n")) * dec(col("n"))).cast("double"), 4)
          .as("pe"),
        dround((dec(col("n")) * dec(col("n11") + col("n00"))
            - (dec(col("n11") + col("n10")) * dec(col("n11") + col("n01"))
              + dec(col("n00") + col("n01")) * dec(col("n00") + col("n10"))))
          .cast("double")
          / (dec(col("n")) * dec(col("n"))
            - (dec(col("n11") + col("n10")) * dec(col("n11") + col("n01"))
              + dec(col("n00") + col("n01")) * dec(col("n00") + col("n10"))))
          .cast("double"), 4).as("kappa"))
  }

  /** x159 TF-IDF top terms per source — the per-collection keyword
    * readout next to x83's per-query BM25: for every source, the 5 terms
    * maximizing tf·ln(N/df) (tf = occurrences within the source, df =
    * docs containing the term corpus-wide, N = corpus size). The
    * source-profile a mix-curation run eyeballs for contamination or
    * topic drift.
    *
    * Scale shape: q29's TWO-LEVEL top-k transposed onto the (source,
    * term) aggregate — a per-(source, hash-bucket) top-5 prunes the
    * vocab-sized table to ≤ 64·5 candidates per source BEFORE the
    * per-source final window, so no window partition is ever
    * vocab-sized (exact: a global top-5 member is its bucket's top-5).
    * N rides in-plan as a 1-row broadcast (x94's grand-total pattern);
    * df comes from a distinct'd doc-term explode. Ranking is on the
    * ROUNDED score with term tie-break (x83's ln discipline — both
    * engines divide the same exact integers before one libm call). */
  def x159TfidfTerms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs.select(col("source"), explode(split(col("text"), " ")).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("tf"))
    val df = docs.select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("nn"))
    val scored = tf.join(df, "t").crossJoin(broadcast(n))
      .withColumn("score",
        dround(col("tf").cast("double")
          * log(col("nn").cast("double") / col("df").cast("double")), 4))
    val wLocal = Window.partitionBy(col("source"), pmod(xxhash64(col("t")), lit(64)))
      .orderBy(col("score").desc, col("t"))
    val wFinal = Window.partitionBy("source").orderBy(col("score").desc, col("t"))
    scored
      .withColumn("lrk", row_number().over(wLocal)).filter(col("lrk") <= 5)
      .withColumn("rk", row_number().over(wFinal).cast("long")).filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("t").as("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("source", "rk")
  }

  /** x160 source-concentration audit (Lorenz curve + Gini) — "how
    * unevenly is the token mass spread across sources": sources ranked
    * by ascending token mass, each with its cumulative share, plus the
    * exact Gini coefficient. The mix-diversity readout next to x67's KL
    * (KL says HOW a source differs; Gini says whether a few sources ARE
    * the corpus — the first number a data-mix review asks for).
    *
    * Exactness: with sources ranked 1..k ascending by (mass, name), Gini
    * = (2·Σᵢ i·xᵢ − (k+1)·Σx) / (k·Σx) — integer numerator/denominator,
    * ONE divide; cum shares are exact integer ratios rounded once. All
    * windows run over the |sources|-row AGGREGATE (the corpus collapses
    * in one map-side-combined pass), so nothing after the first shuffle
    * is corpus-sized. Long bounds: Σx ≈ 1e14 tokens at 100 TB and
    * i ≤ |sources| keeps i·xᵢ sums ≪ 2⁶³. */
  def x160SourceGini(s: SparkSession, d: String): DataFrame = {
    val mass = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy("source").agg(sum("tok").as("tokens"))
    val w = Window.orderBy(col("tokens").asc, col("source").asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = mass
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum("tokens").over(cum))
    val tot = ranked.agg(count(lit(1)).as("k"), sum("tokens").as("total"),
      sum(col("rk") * col("tokens")).as("iwx"))
    ranked.crossJoin(broadcast(tot))
      .select(col("rk"), col("source"), col("tokens"),
        dround(col("cum_tokens").cast("double") / col("total").cast("double"), 6)
          .as("cum_share"),
        dround((lit(2L) * col("iwx") - (col("k") + 1L) * col("total")).cast("double")
          / (col("k") * col("total")).cast("double"), 6).as("gini"))
      .orderBy("rk")
  }

  /** x170 column profile card — the per-COLUMN data-quality surface
    * (Deequ/Great-Expectations style), the schema-axis complement to
    * x55's per-(source, lang) row-slice card: for each profiled column,
    * row count, null count, completeness, exact distinct count, and the
    * mode (most frequent value, ties to the lexicographically smallest)
    * with its count. The fixture is fully clean, so — the x56 precedent
    * of deriving the test surface in-query — the profiler runs over a
    * DIRTY derived view: lang/source/n_chars are NULLed on disjoint
    * prime-mod doc_id rules (13/17/19), so every null-handling branch is
    * exercised and oracle-pinned.
    *
    * Shape (the 100 TB one): ONE scan → a 4-way `stack` expand (cheap:
    * values project, never copy the text column) → a (column, value)
    * map-side-combined count aggregate → two aggregate-sized folds: the
    * per-column stats (null mass, distinct = surviving rows), and the
    * mode as max-count + min-value-at-max — NO window anywhere, so the
    * unique-valued doc_id column cannot serialize into one partition
    * (the q29 trap; a naive rank-over-column mode hits it). At 100 TB
    * the exact distinct/mode on high-cardinality columns swap for x34's
    * sketch + x49's heavy-hitter machinery; the card's algebra is
    * unchanged. */
  def x170ColumnProfile(s: SparkSession, d: String): DataFrame = {
    val dirty = Tables.documents(s, d).select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(13L)) === 3L, lit(null))
        .otherwise(col("lang")).as("lang"),
      when(pmod(col("doc_id"), lit(17L)) === 5L, lit(null))
        .otherwise(col("source")).as("source"),
      when(pmod(col("doc_id"), lit(19L)) === 7L, lit(null))
        .otherwise(col("n_chars")).as("n_chars"))
    val long = dirty.select(expr(
      """stack(4,
        |  'doc_id',  CAST(doc_id AS STRING),
        |  'lang',    lang,
        |  'source',  source,
        |  'n_chars', CAST(n_chars AS STRING)) AS (colname, v)""".stripMargin))
    val counts = long.groupBy("colname", "v").agg(count(lit(1)).as("cnt"))
    val stats = counts.groupBy("colname").agg(
      sum("cnt").as("n_rows"),
      sum(when(col("v").isNull, col("cnt")).otherwise(lit(0L))).as("n_null"),
      count(col("v")).as("n_distinct"))
    val maxc = counts.filter(col("v").isNotNull)
      .groupBy(col("colname").as("x_col")).agg(max("cnt").as("top_cnt"))
    val mode = counts.filter(col("v").isNotNull)
      .join(broadcast(maxc),
        col("colname") === col("x_col") && col("cnt") === col("top_cnt"))
      .groupBy(col("colname").as("m_col"))
      .agg(min("v").as("mode_value"), max("top_cnt").as("mode_count"))
    stats.join(broadcast(mode), col("colname") === col("m_col"))
      .select(col("colname"), col("n_rows"), col("n_null"), col("n_distinct"),
        dround((col("n_rows") - col("n_null")).cast("double")
          / col("n_rows").cast("double"), 4).as("completeness"),
        col("mode_value"), col("mode_count"))
      .orderBy("colname")
  }

  /** x171 edit-distance adjudication — the CHARACTER-level verify kernel
    * the near-dup family lacks: x01/x02 verify candidates by set overlap
    * (order-insensitive), this one by Levenshtein distance on a 160-char
    * prefix — the metric that distinguishes a light edit from a token
    * reshuffle. Candidates come from deterministic length blocking
    * ((lang, n_chars÷32) with ±1-bucket adjacency — each probe row
    * expands to its three adjacent block keys so the join stays a pure
    * EQUI-join, never an OR condition that would nested-loop) plus the
    * |lenA−lenB| ≤ 12 lower-bound prune (edit distance ≥ length gap, so
    * longer gaps can't pass the ≤ 40 gate). Reported: distance and the
    * prefix similarity 1 − d/max(|pa|,|pb|), rounded once.
    *
    * Scale: candidate volume is Σ|block|² over length-local blocks —
    * near-dups share length, so blocks bound the quadratic the way x113's
    * sorted neighborhood does; the DP kernel is capped at 160² per pair
    * regardless of document size. The block join runs on NARROW rows
    * (ids + lengths only — measured 88 M raw pair formations at sf0.1,
    * which must not each drag 2×160 chars of payload); the surviving
    * candidates (~0.2%) re-join their prefixes by doc_id afterwards —
    * x01's unhinted payload-rejoin discipline, AQE broadcasts the prefix
    * table only while it measures small. Both engines run the same
    * classic Levenshtein on pure-ASCII prefixes (n_chars ≡ length(text)
    * on this fixture), so the integer distances agree exactly. */
  /** x171's declared candidate front end: (lang, n_chars÷32) blocking
    * with ±1 adjacency as a pure equi-join (probe explodes 3 keys). */
  private[graft] def x171BlockCandidates(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), expr("n_chars div 32").as("b"))
    val probe = docs.select(col("doc_id").as("id_a"), col("lang"),
      explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bk"))
    val build = docs.select(col("doc_id").as("id_b"), col("lang"),
      col("b").as("bk"))
    probe.join(build, Seq("lang", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** The adjudication kernel over ANY (id_a, id_b) candidate frame —
    * payload rejoin, the |lenA−lenB| ≤ 12 lower-bound prune, explicit
    * widening, the capped DP. Pre-checkpoint, so PlanSpec can pin the
    * plan the eager checkpoint in [[x171Finish]] hides behind a
    * LogicalRDD. The widen-before-the-DP rule (SURVEY §4.3): the
    * surviving candidate set is tiny in BYTES, so AQE coalesces it to ~1
    * partition — but its cost is the downstream 160² Levenshtein per
    * ROW (measured 64 s serialized vs 2.7 s pinned at sf0.1). */
  private[graft] def x171Scored(s: SparkSession, d: String,
                                cand: DataFrame): DataFrame = {
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val pfx = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      substring(col("text"), 1, 160).as("pfx"))
    cand
      .join(pfx.select(col("doc_id").as("id_a"), col("n_chars").as("len_a"),
        col("pfx").as("pfx_a")), Seq("id_a"))
      .join(pfx.select(col("doc_id").as("id_b"), col("n_chars").as("len_b"),
        col("pfx").as("pfx_b")), Seq("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= 12)
      .repartition(nPart)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("dist"),
        greatest(length(col("pfx_a")), length(col("pfx_b")))
          .cast("long").as("mx"))
  }

  /** The eager localCheckpoint PINS the wide DP stage: the dist ≤ 40
    * filter would otherwise inline the levenshtein alias and push below
    * the repartition, landing the whole DP back in the coalesced stage
    * (measured at sf0.1: 64 s naive, 33 s repartition-only, 2.7 s
    * pinned — the SURVEY §4.3 kernel-pinning rule). */
  private def x171Finish(scored: DataFrame): DataFrame =
    scored.localCheckpoint(true)
      .filter(col("dist") <= 40L)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"),
        dround(lit(1.0) - col("dist").cast("double")
          / col("mx").cast("double"), 4).as("sim"))
      .orderBy("doc_a", "doc_b")

  def x171EditDistance(s: SparkSession, d: String): DataFrame =
    x171Finish(x171Scored(s, d, x171BlockCandidates(s, d)))

  /** x171's ALTERNATIVE front end (`x171_banded` bench row): MinHash band
    * buckets over char 3-grams — x02's blocker — feeding the IDENTICAL
    * adjudication kernel. Front-end choice is a PER-CORPUS arbitration on
    * measured candidate volume, not a static rule: the round-11 scale
    * rehearsal (BASELINE.md, "Round 11 recordings" + the x171 candidate counts)
    * REFUTED the earlier "bands win at scale" claim on this fixture
    * family — with a 30-word vocabulary every doc shares nearly all
    * char-grams, so band keys collide en masse and the banded candidate
    * volume is ~20× the length-blocked one at BOTH sf0.1 (11.9M vs 0.59M)
    * and 10× (1.19B vs 58M); measured walls 522 s banded vs 102 s blocked
    * at 50 k docs. Bands win only where char-grams discriminate
    * (realistic text, large vocab, candidate volume ∝ near-dup mass);
    * count both front ends' candidates on the target corpus
    * ([[x171BlockCandidates]] vs `MinHashLSH.candidatePairs` over the
    * char 3-grams) and pick the smaller volume — the same way x37's
    * recall gate arbitrates index rebuilds. Bands are
    * language-agnostic, so X171BandedSpec pins kernel consistency on the
    * declared domain (every same-language banded row equals its declared
    * row) and structural recall (exact-prefix duplicates collide in
    * EVERY band, so all declared dist-0 pairs appear). */
  def x171BandedEditDistance(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d).select(col("doc_id").as("id"),
      graft.functions.TextExpressions.charGrams(col("text"), 3).as("toks"))
    x171Finish(x171Scored(s, d,
      MinHashLSH.candidatePairs(grams).select("id_a", "id_b")))
  }

  /** The §4.3 round-11 arbitration rule, EXECUTABLE: estimate each front
    * end's candidate volume with one cheap aggregate — no pair join, no
    * kernel — and return (blockVolume, bandVolume). Block volume =
    * Σ_{lang,b} n_b·(n_{b−1}+n_b+n_{b+1})/2 (the ±1-adjacent equi-join's
    * output size, computed on the |blocks|-sized aggregate); band volume
    * = Σ_{(band,sig) buckets} n·(n−1)/2 (the self band join's unordered
    * pair count, computed on the |buckets|-sized aggregate). Both scans
    * are O(corpus) with tiny shuffles — the probe costs seconds where
    * committing the wrong front end costs the kernel over 20× the
    * candidates (measured: BASELINE round-11 rehearsal). */
  def x171FrontEndVolumes(s: SparkSession, d: String): (Long, Long) = {
    val blocks = Tables.documents(s, d)
      .groupBy(col("lang"), expr("n_chars div 32").as("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // tiny; probed twice below
    val probe = blocks.select(col("lang"),
      explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bk"),
      col("n").as("np"))
    val nBlock = probe
      .join(blocks.select(col("lang"), col("b").as("bk"), col("n").as("nb")),
            Seq("lang", "bk"))
      .agg(sum(col("np") * col("nb")).as("v")).head.getLong(0) / 2
    val grams = Tables.documents(s, d).select(col("doc_id").as("id"),
      graft.functions.TextExpressions.charGrams(col("text"), 3).as("toks"))
    val nBand = MinHashLSH.bandKeys(grams)
      .select(posexplode(col("bands")).as(Seq("band", "sig")))
      .groupBy("band", "sig").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1L)).as("v")) // SQL `/` is double-div
      .head.getLong(0) / 2
    (nBlock, nBand)
  }

  /** x171 with the front end ARBITRATED per corpus: probe both volumes
    * ([[x171FrontEndVolumes]]) and feed the identical kernel from the
    * cheaper candidate generator — the executable form of the round-11
    * rule that no front end wins statically (on this fixture blocking
    * wins ~20×; on a large-vocab corpus the bands would). Exactness note:
    * when the probe picks blocking the output IS the declared x171; when
    * it picks bands the banded recall contract (X171BandedSpec) applies. */
  def x171AutoEditDistance(s: SparkSession, d: String): DataFrame = {
    val (nBlock, nBand) = x171FrontEndVolumes(s, d)
    if (nBlock <= nBand) x171EditDistance(s, d)
    else x171BandedEditDistance(s, d)
  }

  /** x175 contingency independence audit — ARE two metadata columns
    * independent? The schema-level dependence surface next to x74 (which
    * mines token-pair PMI inside text) and x67 (distribution distance):
    * the full lang × source contingency table with, per cell, the
    * observed count, the independence-expected count, the pointwise
    * mutual information, and the χ² cell contribution — the table a mix
    * auditor reads to see WHICH (lang, source) cells are over/under-fed
    * before x146 rebalances them.
    *
    * Exactness (the x164/x158 moment discipline): marginals and N ride
    * window sums OVER THE |langs|·|sources| AGGREGATE (never the
    * corpus); expected = n_x·n_y/N and the χ² cell
    * (N·n_xy − n_x·n_y)²/(N·n_x·n_y) are each ONE divide of exact
    * decimal(38,0) integer products (HUGEINT in the twin); PMI's ln
    * takes the one exact ratio (x83's ln-then-round precedent). Per-cell
    * contributions are deliberately NOT summed to a single χ²/MI scalar
    * here — a cross-cell double sum is order-sensitive; the cells are
    * the sufficient statistic and the x164 machinery tests any 2×2. */
  def x175ContingencyAudit(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_xy"))
    val m = cells
      .withColumn("n_x", sum("n_xy").over(Window.partitionBy("lang")))
      .withColumn("n_y", sum("n_xy").over(Window.partitionBy("source")))
      .withColumn("n", sum("n_xy").over(Window.partitionBy()))
    val diff = dec(col("n")) * dec(col("n_xy")) - dec(col("n_x")) * dec(col("n_y"))
    m.select(col("lang"), col("source"), col("n_xy"),
        dround((dec(col("n_x")) * dec(col("n_y"))).cast("double")
          / col("n").cast("double"), 4).as("expected"),
        dround(log((dec(col("n")) * dec(col("n_xy"))).cast("double")
          / (dec(col("n_x")) * dec(col("n_y"))).cast("double")), 4).as("pmi"),
        dround((diff * diff).cast("double")
          / (dec(col("n")) * dec(col("n_x")) * dec(col("n_y"))).cast("double"),
          6).as("chi2_cell"))
      .orderBy("lang", "source")
  }

  /** x186 k-core of the near-dup graph — the ITERATIVE graph primitive
    * between x14's connected components (reach — bridges count) and
    * x112's one-shot degree cap (a filter, not a fixpoint): repeatedly
    * peel nodes of within-subgraph degree < 64 until stable. What
    * survives is the DENSE template blob — the boilerplate mass whose
    * members are interchangeable (aggressive dedup is safe) — while
    * chains and bridges that CC would happily glue into one cluster
    * peel away. Output: each core member with its within-core degree.
    *
    * Convergence is data-dependent, so the contract FIXES the round
    * budget (8): the twin unrolls exactly 8 peel rounds (MATERIALIZED
    * CTEs — inlined CTEs re-expand the pair scan ~4× per level,
    * measured exponential), Spark runs the same 8 (early-exit only AT
    * the fixpoint, which equals the round-8 state when converged);
    * KCoreSpec asserts the fixture reaches the fixpoint inside the
    * budget at sf0.001 (measured: stable by round 8 at every sf, 367 →
    * 278 nodes at k = 64). Scale: each round is one degree aggregate +
    * two semi-joins on the CURRENT edge set (monotonically shrinking);
    * rounds are a fixed constant — the x14/x45/x51 bounded-iteration
    * discipline — and each round's edge set is eagerly checkpointed (the
    * CC lineage rule). */
  def x186KCore(s: SparkSession, d: String): DataFrame =
    x186KCoreFrom(s, d, MinHashLSH.verifiedPairs(docTokens(s, d), 0.8))

  /** x186 over a precomputed verified-pair frame (the pipeline entry —
    * Bench prices the peel alone as `x186_core_only`).
    *
    * `checkpointDir` threads the same reliable-vs-local choice as
    * [[graft.functions.ConnectedComponents.labels]]: None (default) uses
    * eager `localCheckpoint` — fast, but a lost executor loses blocks and
    * fails the job; Some(dir) writes each round's edge set as RELIABLE
    * checkpoint files, the executor-churn-survival mode a 1000-executor
    * peel runs in. BOTH modes apply CC's release discipline the moment
    * the next round's count() materializes: local unpersists the
    * superseded round's blocks (the leak that inflates any multi-round
    * loop sharing a JVM with other work), reliable DELETES the superseded
    * round's checkpoint files (otherwise up to maxRounds full edge-set
    * snapshots accumulate per call). Reliable mode's setCheckpointDir is
    * session-global; the prior dir is restored after the peel (or left
    * set when none existed — documented residue). All of it is
    * [[graft.functions.IterCheckpoint]], the harness CC and x187 share.
    *
    * Why the rounds run on RDDs (the CC reasoning, see
    * [[graft.functions.ConnectedComponents.labels]]): on the 400-doc
    * `text_dedup` corpus the `kcore` op (peel and output) took 19 Spark
    * jobs and 1.3–1.6 s, mostly per-job scheduling and AQE re-planning:
    * each round was a degree aggregate, two semi-joins and an eager
    * checkpoint plus a count, and AQE split every shuffle stage into its
    * own job. Here the edge set is [[graft.functions.LongPairs]] state
    * under one hash partitioner: the degree table lands on that
    * partitioner, so the first semi-join of a round is narrow, the second
    * costs one shuffle, and the checkpoint's count is the round's only
    * job — 6 jobs for that op. Frames come in once (`pairs`) and go out
    * once (the degree table, ordered by `doc_id`). */
  def x186KCoreFrom(s: SparkSession, d: String, pairs: DataFrame,
                    k: Int = 64, maxRounds: Int = 8,
                    checkpointDir: Option[String] = None): DataFrame = {
    val ck = new IterCheckpoint(s, checkpointDir)
    val part = ck.partitioner
    // within-subgraph degree of every endpoint, keyed under `part`
    def degrees(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      LongPairs.reduce(LongPairs.reduce(
        e.flatMap { case (a, b) => Iterator((a, 1L), (b, 1L)) })(_ + _).partitionBy(part))(_ + _)
    try {
      // edge state: each pair ONCE, keyed by one endpoint. The peel and
      // the output degrees are orientation-free, so each round re-keys the
      // survivors by the endpoint it checked second — the next round's
      // first check is then narrow.
      var edges = LongPairs.of(pairs, "id_a", "id_b").partitionBy(part)
      var n = ck.count(edges)
      var done = false
      var r = 0
      while (r < maxRounds && !done) {
        val keep = degrees(edges).filter(_._2 >= k.toLong)
        val next = LongPairs.lookup(
            LongPairs.lookup(edges, keep) { case (m, e) => Option.when(m.contains(e._1))(e.swap) }
              .partitionBy(part),
            keep, keepsKeys = true) { case (m, e) => Option.when(m.contains(e._1))(e) }
        val m = ck.count(next) // materializes next — the old round is now safe to drop
        ck.release(edges)
        done = m == n
        edges = next; n = m; r += 1
      }
      val nullable = Seq("id_a", "id_b").exists(c => pairs.schema(c).nullable)
      s.createDataFrame(degrees(edges).map { case (id, dg) => Row(id, dg) },
          StructType(Seq(StructField("doc_id", LongType, nullable),
                         StructField("core_deg", LongType, nullable = false))))
        .orderBy("doc_id")
    } finally ck.restore()
    // (the surviving round is already materialized via count(), so the
    // restore cannot strand its files mid-write)
  }

  /** x185 PII detection audit — the DETECTION gate the privacy shelf
    * lacks: x28 scrubs a KNOWN token deny-list, x89/x173 audit
    * re-identification structure, but nothing finds free-text PII
    * PATTERNS (emails, phone-like strings) — the per-source hit census a
    * corpus-release review reads before x28's scrubber even has a list.
    * The fixture is synthetic lowercase prose with zero real PII, so —
    * the x56/x170/x172 derive-in-query precedent — PII is INJECTED
    * deterministically (emails on doc_id ≡ 3 mod 11, phone strings on
    * ≡ 4 mod 13, disjoint-ish so mixed docs exist) and the audit runs
    * over the dirty view; per source: docs, docs hit per class, total
    * hits per class, and the any-PII share.
    *
    * Cross-engine: both patterns stay in the regex subset Java
    * (Spark) and RE2 (DuckDB) treat identically — character classes,
    * +/{n}, literal dot; no backrefs, no lookaround. One scan,
    * map-side regexp_extract_all counts, a |sources|-row fold;
    * all-integer until the one rounded share. */
  def x185PiiAudit(s: SparkSession, d: String): DataFrame = {
    val dirty = Tables.documents(s, d).select(col("doc_id"), col("source"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(11L)) === 3L,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13L)) === 4L,
          concat(lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
    val counted = dirty.select(col("source"),
      size(regexp_extract_all(col("text"),
        lit("[a-z0-9]+@[a-z]+\\.[a-z]+"), lit(0))).cast("long").as("ne"),
      size(regexp_extract_all(col("text"),
        lit("555-[0-9]{4}"), lit(0))).cast("long").as("np"))
    counted.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ne") > 0L, 1L).otherwise(0L)).as("docs_email"),
        sum(when(col("np") > 0L, 1L).otherwise(0L)).as("docs_phone"),
        sum("ne").as("email_hits"), sum("np").as("phone_hits"),
        dround(sum(when(col("ne") > 0L || col("np") > 0L, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 4).as("pii_share"))
      .orderBy("source")
  }
}
