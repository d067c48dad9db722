package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate candidate generation, UDF-free.
  *
  * Everything is built from codegen'd Catalyst expressions:
  *  - per-permutation hash h_i(tok) = xxhash64(i, tok) — one 64-bit hash per
  *    (permutation, token), no java.util.Random, fully deterministic;
  *  - the MinHash signature is a single partial+final hash-aggregate with
  *    `numPerm` min() columns (one scan over the exploded token table, map-side
  *    combined — no 64× row blow-up);
  *  - bands are (bandIdx, concat of r signature slots); candidate pairs come
  *    from a self-equi-join on the band signature — a shuffled hash join on a
  *    high-cardinality key, which is the whole point: at 100 TB this replaces
  *    the O(n²) all-pairs comparison with |buckets| local joins.
  *
  * Band/row choice: with numPerm=64 and r=2 rows × b=32 bands, a pair at the
  * Jaccard threshold 0.8 is missed with probability (1 − 0.8²)³² ≈ 6e-15, so
  * the verified-pair output is effectively exact (the t2 contract judges the
  * exact-Jaccard-verified pairs, SURVEY §2.10 Q53).
  */
object MinHashLSH {
  /** Defaults tuned for a verified-exact contract at threshold ~0.8: with
    * r=2 rows x b=32 bands a true pair at J=0.8 is missed with probability
    * (1-0.8^2)^32 ~ 6e-15 (effectively never). A SPARSE corpus at a higher
    * threshold can pass larger `rows` to `Params` to cut candidates
    * aggressively (recall math in the scaladoc above); the fixture corpus
    * is dense, so the default favors recall. */
  val NumPerm = 64
  val Rows    = 2
  val Bands   = NumPerm / Rows

  /** LSH shape: `numPerm` permutations in bands of `rows`. */
  case class Params(numPerm: Int = NumPerm, rows: Int = Rows) {
    require(numPerm % rows == 0, "numPerm must be divisible by rows")
    def bands: Int = numPerm / rows
    /** P(candidate) for a pair at Jaccard j: 1 - (1 - j^rows)^bands. */
    def candidateProb(j: Double): Double = 1 - math.pow(1 - math.pow(j, rows), bands)
  }

  /** items: (id: long, toks: array<string>) — toks treated as a SET.
    * Returns (id, mh0..mh63).
    *
    * Each token is hashed ONCE to 64 bits; the per-permutation hashes then
    * mix the fixed-width long (`xxhash64(i, th)`), not the variable-length
    * string — 64× less string traversal on the hot aggregate. Hashing
    * before the distinct also shrinks the dedup shuffle to (id, long)
    * rows. A th-collision (≈1e-19 per token pair) could only merge two
    * tokens inside the signature, never in the exact verification. */
  def signatures(items: DataFrame, p: Params = Params()): DataFrame = {
    val tok = items.select(col("id"), explode(col("toks")).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("th"))
      .distinct()
    // per-permutation mixer: codegen splitmix64 finalizer over (th + i·φ) —
    // 4 wrapping long ops per (row, permutation) instead of an xxhash64
    // round on the 64×|tokens| hot loop that dominates the trigram
    // signature stage (see SplitMix64's scaladoc for why it must be a
    // native expression under ANSI mode).
    val mins = (0 until p.numPerm)
      .map(i => min(VectorExpressions.splitmix64(col("th"), i)).as(s"mh$i"))
    tok.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** (id, bands: array<long>) — each band's `rows` signature slots hashed to
    * ONE long (`xxhash64` over the slots). A 64-bit bucket-hash collision
    * can only MERGE two buckets — i.e. add candidates the exact verify then
    * discards — never lose a true pair, so recall is untouched. Long keys
    * make the band self-join a primitive-compare hash join instead of a
    * string join, and carrying the whole array through the explode is what
    * enables the first-matching-band dedup in [[candidatePairs]]. */
  def bandHashes(sigs: DataFrame, p: Params = Params()): DataFrame = {
    val bands = (0 until p.bands).map { b =>
      xxhash64((b * p.rows until (b + 1) * p.rows).map(i => col(s"mh$i")): _*)
    }
    sigs.select(col("id"), array(bands: _*).as("bands"))
  }

  /** (id, bands: array<long>) via the fused per-row kernel
    * ([[VectorExpressions.MinHashBandKeys]]): the whole signature+banding
    * stage runs inside the scan with ZERO shuffle — bitwise-equal to
    * `bandHashes(signatures(items))` (MinHashLSHSpec), which remains the
    * right formulation only when single documents are so large that
    * per-token parallelism inside one doc matters. Ids with empty token
    * arrays are dropped, matching the explode path. */
  def bandKeys(items: DataFrame, p: Params = Params()): DataFrame =
    items.select(col("id"),
        VectorExpressions.minhashBandKeys(col("toks"), p.numPerm, p.rows).as("bands"))
      .filter(col("bands").isNotNull)

  /** The session's shuffle width — the one explicit pin width of every
    * near-dup path. */
  private[graft] def width(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Banded rows: every column of `h` (id, …, bands) plus one (band, sig)
    * row per entry of its `bands` array. */
  private def exploded(h: DataFrame): DataFrame =
    h.select(h.columns.map(col) :+ posexplode(col("bands")).as(Seq("band", "sig")): _*)

  /** |distinct tokens| — the set size both the size prune and the verify's
    * union arithmetic read. */
  private def distinctSize: Column = size(array_distinct(col("toks"))).as("sz")

  /** `items` (id, toks) pinned to full width BEFORE the band kernel, then
    * banded: (id, cols…, bands, band, sig).
    *
    * The pin sits before the kernel (r17): a projection below a
    * repartition evaluates MAP-SIDE, so with the pin after it the whole
    * minhash/banding kernel ran inside the scan stage — ONE task when the
    * corpus is one small parquet file (taskprof: x02's kernel + set build
    * was a lone 5.5 s task inside its 7.8 s; every LSH row paid 0.5–1.5 s
    * the same way). Pinning the raw rows first puts the kernel in the wide
    * stage with the explode+join it feeds, where the row explosion
    * happens. At scale both formulations are wide; the pin only moves
    * ~|corpus| narrow rows.
    *
    * No isNotNull(bands) filter (r17, unlike [[bandKeys]]): it is redundant
    * under posexplode (a null band array emits zero rows), and the
    * optimizer pushed it through the repartition into the parquet scan as
    * a DataFilter that re-evaluated the ENTIRE kernel inside the
    * single-task scan stage (x02's executed plan carried
    * `isnotnull(minhash_band_keys(char_grams(text)))` in DataFilters, a
    * lone 4–6 s task — guide §4.4's duplicated-expensive-expression trap). */
  private def pinnedBands(items: DataFrame, p: Params, cols: Column*): DataFrame =
    exploded(items.repartition(width(items)).select((col("id") +: cols) :+
      VectorExpressions.minhashBandKeys(col("toks"), p.numPerm, p.rows).as("bands"): _*))

  /** The first-match band join every banded near-dup path runs (MinHash
    * here, SimHash in x01, signed random projections in x12). `a`/`b` are
    * banded rows (id, …, bands, band, key): the doc id first, the whole
    * band array, and the exploded (band, key) last. They join on (band,
    * key) — a hash join on a high-cardinality key, |buckets| local joins
    * instead of the O(n²) comparison. The same frame on both sides is a
    * self-join and keeps id_a < id_b; two frames (disjoint corpora) keep
    * every cross pair. `prune` — a pair predicate over "a"/"b", such as
    * [[sizeCompatible]] — lands in the join condition ahead of the
    * first-match filter, so an incompatible pair costs two int compares.
    * Output: (id_a, id_b), plus (sz_a, sz_b) when the rows carry `sz`.
    *
    * First-match dedup: a pair colliding in k band buckets appears k times
    * in the join; only the row whose band is the pair's FIRST hash-equal
    * band ([[FirstMatchIndex]] over the two arrays) survives. That is exact
    * — a pair meets in bucket k iff its band keys agree at k, which is
    * precisely what the filter tests — and it costs one array scan per
    * collision row, map-side, where the `distinct()` it replaced shuffled
    * ~`bands`·j² ≈ 20× the pair count on a dense corpus.
    *
    * A cluster of identical docs puts every member in one bucket per band;
    * AQE's skew-join split divides that partition (BASELINE.md round-6 skew
    * stress), and exact dedup (q52) before near-dup collapses the cluster
    * first. OPTIMIZATION_r17.md (VERDICT item 4) records why this join beat
    * generating each bucket's pairs from an aggregate. */
  private[graft] def firstMatchJoin(a: DataFrame, b: DataFrame,
                                    prune: Column = lit(true)): DataFrame = {
    val (id, key) = (a.columns.head, a.columns.last)
    val on = col("a.band") === col("b.band") && col(s"a.$key") === col(s"b.$key")
    val sized =
      if (a.columns.contains("sz")) Seq(col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      else Nil
    a.as("a").join(b.as("b"), if (a eq b) on && col(s"a.$id") < col(s"b.$id") else on)
      .filter(prune)
      .filter(VectorExpressions.firstMatchIndex(col("a.bands"), col("b.bands")) === col("a.band"))
      .select(col(s"a.$id").as("id_a") +: col(s"b.$id").as("id_b") +: sized: _*)
  }

  /** J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so a pair with `min < t·max − 1`
    * cannot reach threshold t (the one-element margin makes double
    * rounding irrelevant). */
  private[graft] def sizeCompatible(threshold: Double, sa: Column, sb: Column): Column =
    least(sa, sb).cast("double") >= lit(threshold) * greatest(sa, sb).cast("double") - lit(1.0)

  /** Distinct candidate pairs (id_a < id_b) sharing ≥1 band bucket. */
  def candidatePairs(items: DataFrame, p: Params = Params()): DataFrame = {
    val banded = pinnedBands(items, p)
    firstMatchJoin(banded, banded)
  }

  /** [[candidatePairs]] that also carries each side's DISTINCT-token set
    * size and drops size-incompatible pairs ([[sizeCompatible]]) before
    * the first-match band scan and, crucially, before the verify join
    * drags both token arrays across the shuffle.
    * Output: (id_a, id_b, sz_a, sz_b). */
  private[graft] def candidatePairsSized(items: DataFrame, threshold: Double,
                                  p: Params): DataFrame = {
    val banded = pinnedBands(items, p, distinctSize)
    firstMatchJoin(banded, banded, sizeCompatible(threshold, col("a.sz"), col("b.sz")))
  }

  /** Lower bound on the intersection of a pair of set sizes `sa`, `sb`
    * passing `j ≥ t`: i/(sa+sb−i) ≥ t ⟺ i ≥ t·(sa+sb)/(1+t); the −1 gives
    * a margin of one whole element over any double rounding. */
  private[graft] def overlapBound(threshold: Double, sa: Column, sb: Column): Column =
    lit(threshold / (1 + threshold)) * (sa + sb).cast("double") - lit(1.0)

  /** The exact verify every Jaccard near-dup path ends in. `cand`: (id_a,
    * id_b, sz_a, sz_b) with DISTINCT-token set sizes; `ls`/`rs`: (id, set)
    * sorted token-id arrays for the a and b sides (ARRAY<BIGINT> hashes or
    * ARRAY<INT> dictionary ids — any token↔id bijection gives the same
    * counts). Output: (id_a, id_b, j = round(jaccard, 4), inter = |A∩B|,
    * sz_a, sz_b), pairs with jaccard ≥ threshold only.
    *
    * Per pair: the early-exit merge ([[SortedIntersectAtLeast]], bound
    * [[overlapBound]] as an INT) counts the intersection exactly when the
    * pair can still pass and returns -1 (jac negative, the same threshold
    * filter drops it) when it cannot, so survivors are bitwise-identical to
    * the plain count; |A ∪ B| = |A| + |B| − |A ∩ B| from the sizes, no union
    * materialized.
    *
    * The set joins are UNHINTED: the per-doc set table is O(corpus), so
    * forcing broadcast() here would OOM every executor at 100 TB. Left to
    * the planner, AQE broadcasts while the measured build side is small
    * and falls back to a shuffled join on the id keys once it isn't.
    *
    * No repartition between candidates and verify: the band join upstream
    * is already pinned at full width and first-match dedup emits each pair
    * exactly once map-side, so the verify joins fuse into that same wide
    * stage (at corpus scale the id-keyed shuffle join IS the reshuffle).
    * The historical explicit repartition here guarded a `distinct()` whose
    * tiny rows AQE coalesced to one partition — the distinct is gone, and
    * at sf0.1 the redundant 12M-pair shuffle cost x14 4s of its 11.5s. */
  private[graft] def verify(cand: DataFrame, ls: DataFrame, rs: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(ls.select(col("id").as("id_a"), col("set").as("set_a")), "id_a")
      .join(rs.select(col("id").as("id_b"), col("set").as("set_b")), "id_b")
      .withColumn("inter",
        VectorExpressions.sortedIntersectAtLeast(col("set_a"), col("set_b"),
          overlapBound(threshold, col("sz_a"), col("sz_b")).cast("int")).cast("double"))
      .withColumn("uni", (col("sz_a") + col("sz_b")).cast("double") - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), Rounding.dround(col("jac"), 4).as("j"),
        col("inter").cast("long").as("inter"), col("sz_a"), col("sz_b"))

  /** Candidates verified with EXACT Jaccard over the token sets; only pairs
    * with jaccard ≥ threshold survive. Output: (id_a, id_b, j = round(.,4)).
    * The token-set arrays ride along the (small) candidate list, so the
    * exact verification never touches non-candidate pairs. */
  def verifiedPairs(items: DataFrame, threshold: Double,
                    p: Params = Params()): DataFrame =
    verifiedPairsDetailed(items, threshold, p)
      .select(col("id_a"), col("id_b"), col("j"))

  /** [[verifiedPairs]] with the verify's working columns kept on the
    * output — `inter` (exact |A∩B|) and `sz_a`/`sz_b` (distinct set
    * sizes) beside `j`. Consumers computing DERIVED coefficients over the
    * same sets (x93's containment |∩|/min, overlap Szymkiewicz–Simpson,
    * Dice) read them here instead of re-joining the O(corpus) set table
    * and re-running the intersect kernel over the full pair list — at
    * sf0.1's 6M pairs that second pass was ~40% of x93's wall. */
  def verifiedPairsDetailed(items: DataFrame, threshold: Double,
                            p: Params = Params()): DataFrame = {
    // same pre-kernel width pin as the band rows: the sorted-hash set
    // build is per-doc kernel work that otherwise runs in the scan's
    // (possibly single) task before feeding the broadcast
    val sets = tokenSets(items.repartition(width(items)))
    verify(candidatePairsSized(items, threshold, p), sets, sets, threshold)
  }

  /** [[verifiedPairs]] across TWO disjoint corpora — the INCREMENTAL-dedup
    * join: `left` is a new batch, `right` the existing corpus, and the
    * output is every cross pair (batch id, corpus id) with exact Jaccard ≥
    * threshold. No left×left or right×right work happens anywhere in the
    * plan — the band join is a plain two-sided equi-join on (band, sig),
    * so a daily increment costs O(|batch| + collisions), never the corpus
    * square and never a corpus re-scan of pairs already vetted.
    *
    * What the corpus side pays per increment is exactly the 100 TB design
    * question. Its THREE appearances here are each amortizable:
    * band keys and token sets are deterministic per-row kernels, so a real
    * deployment persists both once (a signature store: (id, bands, set),
    * day-partitioned like [[graft.sources.BucketedLayout]]) and each
    * increment reads instead of recomputes; the band equi-join probes that
    * store's (band, sig) keys; and the verify's corpus-set join is keyed
    * on id — store the sets BUCKETED by id ([[graft.sources.BucketedFacts]]'
    * zero-Exchange trick) and the only shuffle left in the whole increment
    * is the |batch|-sized candidate list. The declared x42 contract query
    * recomputes all three from the raw table (self-contained for the
    * oracle); X42IncrementalSpec pins the equivalence to the full-corpus
    * pair list so the composition stays honest.
    *
    * Same guarantees as [[verifiedPairs]]: the same [[firstMatchJoin]] over
    * the two sides' band arrays, size pruning before any payload
    * movement, and the same [[verify]]. */
  def crossVerifiedPairs(left: DataFrame, right: DataFrame, threshold: Double,
                         p: Params = Params()): DataFrame =
    crossVerifiedFromHashed(hashedDocs(left, p), tokenSets(left),
                            hashedDocs(right, p), tokenSets(right), threshold)

  /** (id, sz, bands) per doc — the per-row kernel output a signature store
    * persists (`graft.sources.SignatureStore`): one row per DOC, the band
    * array unexploded. The explosion into (band, sig) probe rows is a
    * query-time generator (posexplode inside the scan stage, no shuffle,
    * no storage), so the stored index stays |corpus| rows while the
    * first-match-band dedup — which needs both full band arrays — still
    * runs map-side. (A v1 store that persisted EXPLODED rows without the
    * array had to dedup candidates with a (id_a, id_b) aggregate instead:
    * 31.7M pre-dedup rows → 1.8M pairs at sf0.1, and that one shuffle cost
    * more than the whole direct recompute. The array-per-doc layout keeps
    * the map-side filter and the store.) */
  def hashedDocs(items: DataFrame, p: Params = Params()): DataFrame =
    items.select(col("id"), distinctSize,
        VectorExpressions.minhashBandKeys(col("toks"), p.numPerm, p.rows).as("bands"))
      .filter(col("bands").isNotNull)

  /** (id, set) per doc — distinct tokens → xxhash64 → sorted ARRAY<BIGINT>,
    * the exact-verify payload. xxhash64 collisions across a ~100-element
    * union are ~1e-16 per pair — below any ROUND(4) boundary's practical
    * risk. */
  def tokenSets(items: DataFrame): DataFrame =
    items.select(col("id"),
      array_sort(transform(array_distinct(col("toks")), t => xxhash64(t))).as("set"))

  /** [[crossVerifiedPairs]]' core over PRE-HASHED inputs — shared verbatim
    * by the from-raw path and the signature-store path, so "increment over
    * the store ≡ direct recompute" holds by construction (and
    * SignatureStoreSpec still asserts it end-to-end). `lh`/`rh`:
    * (id, sz, bands); `ls`/`rs`: (id, set). */
  private[graft] def crossVerifiedFromHashed(lh: DataFrame, ls: DataFrame,
                                             rh: DataFrame, rs: DataFrame,
                                             threshold: Double): DataFrame = {
    val n = width(lh)
    val cand = firstMatchJoin(exploded(lh.repartition(n)), exploded(rh.repartition(n)),
      sizeCompatible(threshold, col("a.sz"), col("b.sz")))
    verify(cand, ls, rs, threshold).select(col("id_a"), col("id_b"), col("j"))
  }

  /** [[verifiedPairs]] with DICTIONARY-ENCODED token sets — for bounded
    * token universes (char n-grams: ≤ |alphabet|ⁿ distinct shingles at ANY
    * corpus size, so the vocab stays a broadcastable few-thousand rows).
    * Sets become sorted ARRAY<INT> of dense vocab ids: half the bytes per
    * element of the 64-bit-hash sets, which is the dominant cost when a
    * dense corpus makes candidates ≈ all pairs and every candidate drags
    * both sets through the verify join.
    *
    * The id assignment is a DISTRIBUTED two-level rank: distinct tokens
    * hash into 256 buckets, rank within each bucket in parallel, and the
    * id INTERLEAVES bucket and rank (`(r−1)·256 + bkt` — a bijection by
    * divmod) — one pass, no single-partition window over the vocab at any
    * size, and no second offsets aggregate. Ids are not dense, but density
    * was never the point: only the 4-byte INT width is (max id ≈
    * 256·max-bucket-rank, far inside Int for any bounded universe this
    * path targets), and ANY token↔id bijection gives identical
    * intersection counts, sizes, and j, so the output stays
    * bitwise-identical to [[verifiedPairs]] (asserted in MinHashLSHSpec).
    * Word-token corpora should still prefer [[verifiedPairs]]: their vocab
    * is corpus-sized, so the dictionary itself (not the rank) becomes the
    * scaling liability. */
  def verifiedPairsDict(items: DataFrame, threshold: Double,
                        p: Params = Params()): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // pre-explode width pin (r17 taskprof): the token explode + vocab join
    // + per-doc set aggregation otherwise pipeline inside the single-task
    // scan stage (1.5 M gram rows in one task on the sf0.1 single file)
    val n = width(items)
    val tok = items.repartition(n)
      .select(col("id"), explode(array_distinct(col("toks"))).as("tok"))
    val vocab = tok.select("tok").distinct()
      .withColumn("bkt", pmod(xxhash64(col("tok")), lit(256L)))
      .withColumn("r", row_number().over(
        w.partitionBy("bkt").orderBy("tok")))
      .select(col("tok"), ((col("r") - 1) * 256 + col("bkt")).cast("int").as("tid"))
    // reduce-side pin: the per-doc set aggregate's own exchange carries
    // few post-shuffle BYTES (1.5 M (id, tid) int rows), so AQE coalesced
    // its reduce side — where the collect_list build + per-doc array_sort
    // CPU lives — to one task; keying the pinned repartition on `id` lets
    // the groupBy reuse it (guide §2.4, one exchange, never coalesced)
    val sets = tok.join(broadcast(vocab), "tok")
      .repartition(n, col("id"))
      .groupBy("id").agg(array_sort(collect_list(col("tid"))).as("set"))
    verify(candidatePairsSized(items, threshold, p), sets, sets, threshold)
      .select(col("id_a"), col("id_b"), col("j"))
  }
}
