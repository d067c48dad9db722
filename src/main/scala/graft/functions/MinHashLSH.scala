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

  /** Self-join of banded rows on (band, sig) with id_a < id_b. Callers
    * project from aliases "a"/"b". A cluster of identical docs puts every
    * member in one bucket per band; AQE's skew-join split divides that
    * partition (BASELINE.md round-6 skew stress), and exact dedup (q52)
    * before near-dup collapses the cluster first. OPTIMIZATION_r17.md
    * (VERDICT item 4) records why this join beat generating each bucket's
    * pairs from an aggregate. */
  private def selfBandJoin(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.id") < col("b.id"))

  /** Distinct candidate pairs (id_a < id_b) sharing ≥1 band bucket.
    *
    * Two scale decisions:
    *  - The probe side is explicitly repartitioned to full cluster width
    *    BEFORE the explode+join: the signature stage upstream is a
    *    zero-shuffle scan ([[bandKeys]]) emitting few, tiny rows, so AQE
    *    would run the pipelined stage DOWNSTREAM (band explode →
    *    band-bucket join) — where the row explosion happens — at the
    *    scan's parallelism.
    *  - Each pair is emitted from its FIRST hash-equal band only
    *    ([[FirstMatchIndex]] over the two band arrays, a map-side codegen
    *    filter): on a dense corpus a true pair collides in ~`bands`·j² ≈ 20
    *    of the 32 buckets, so the old `distinct()` shuffled ~20× the pair
    *    count in duplicate rows; first-match dedup is exact (a pair appears
    *    in bucket k iff its band hashes agree at k, which is precisely what
    *    the filter tests) and costs one array scan per collision row. */
  def candidatePairs(items: DataFrame, p: Params = Params()): DataFrame = {
    val n = items.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // pin BEFORE the kernel (r17): with the pin after it, the whole
    // signature+banding kernel evaluated inside the scan stage — one task
    // when the corpus is one small file (see candidatePairsSized). The
    // kernel is projected WITHOUT bandKeys' isNotNull filter: the filter
    // is redundant under posexplode (a null array emits no rows), and the
    // optimizer pushed it through the repartition into the SCAN as a
    // DataFilter that re-evaluated the whole kernel single-task (guide
    // §4.4's duplicated-expensive-expression trap, Catalyst edition).
    val hashed = items.repartition(n)
      .select(col("id"),
        VectorExpressions.minhashBandKeys(col("toks"), p.numPerm, p.rows).as("bands"))
    val banded = hashed.select(col("id"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "sig")))
    selfBandJoin(banded)
      .filter(VectorExpressions.firstMatchIndex(col("a.bands"), col("b.bands")) === col("a.band"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** [[candidatePairs]] that also carries each side's DISTINCT-token set
    * size and prunes size-incompatible pairs before the payload joins:
    * J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so any pair with
    * `min < t·max − 1` (one-element margin makes double rounding
    * irrelevant) cannot reach threshold t and is dropped for the cost of
    * two int compares — BEFORE the first-match band scan and, crucially,
    * before the verify join drags both token arrays across the shuffle.
    * Output: (id_a, id_b, sz_a, sz_b). */
  private[graft] def candidatePairsSized(items: DataFrame, threshold: Double,
                                  p: Params): DataFrame = {
    val n = items.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // The width pin sits BEFORE the signature kernel (r17 — it used to sit
    // after): a projection below a repartition evaluates MAP-SIDE, so the
    // whole minhash/banding kernel ran inside the scan stage — ONE task
    // when the corpus is one small parquet file (taskprof: x02's kernel +
    // set build was a lone 5.5 s task inside its 7.8 s; every LSH row paid
    // 0.5–1.5 s the same way). Pinning the raw (id, toks) rows first puts
    // the kernel in the 32-wide stage with the explode+join it feeds. At
    // scale both formulations are wide (many input splits); the pin only
    // moves ~|corpus| narrow rows.
    // No isNotNull(bands) filter here (r17): it is REDUNDANT under the
    // posexplode below (a null band array emits zero rows), and the
    // optimizer pushed it through the repartition into the parquet scan
    // as a DataFilter that re-evaluated the ENTIRE minhash kernel inside
    // the single-task scan stage — x02's executed plan carried
    // `isnotnull(minhash_band_keys(char_grams(text)))` in DataFilters,
    // a lone 4–6 s task (guide §4.4's duplicated-expensive-expression
    // trap; taskprof measured it, the re-dump shows the scan clean).
    val hashed = items.repartition(n)
      .select(col("id"),
        size(array_distinct(col("toks"))).as("sz"),
        VectorExpressions.minhashBandKeys(col("toks"), p.numPerm, p.rows).as("bands"))
    val banded = hashed.select(col("id"), col("sz"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "sig")))
    selfBandJoin(banded)
      .filter(least(col("a.sz"), col("b.sz")).cast("double") >=
              lit(threshold) * greatest(col("a.sz"), col("b.sz")).cast("double") - lit(1.0))
      .filter(VectorExpressions.firstMatchIndex(col("a.bands"), col("b.bands")) === col("a.band"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
  }

  /** Lower bound on the intersection of any pair passing `j ≥ t`:
    * i/(sa+sb−i) ≥ t ⟺ i ≥ t·(sa+sb)/(1+t); floor−1 gives the early-exit
    * kernels a margin of one whole element over any double rounding. */
  private[graft] def minRequired(threshold: Double): Column =
    (lit(threshold / (1 + threshold)) * (col("sz_a") + col("sz_b")).cast("double") - lit(1.0))
      .cast("int")

  /** Candidates verified with EXACT Jaccard over the token sets; only pairs
    * with jaccard ≥ threshold survive. Output: (id_a, id_b, j = round(.,4)).
    * The token-set arrays ride along the (small) candidate list, so the
    * exact verification never touches non-candidate pairs.
    *
    * No repartition between candidates and verify: the band join upstream
    * is already pinned at full width ([[candidatePairsSized]]'s explicit
    * repartition ahead of the explode), and the first-match dedup emits
    * each pair exactly once map-side, so the verify joins fuse into that
    * same wide stage (AQE broadcasts the set table while it is measurably
    * small; at corpus scale the id-keyed shuffle join IS the reshuffle).
    * The historical explicit repartition here guarded a `distinct()` whose
    * tiny rows AQE coalesced to one partition — the distinct is gone, and
    * at sf0.1 the redundant 12M-pair shuffle cost x14 4s of its 11.5s. */
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
    // Per-doc ONCE: distinct tokens → 64-bit hashes → sorted array. The
    // per-pair exact intersection is then a codegen'd two-pointer merge
    // (SortedIntersectCount) instead of array_intersect's interpreted
    // per-pair hash-set build — the dominant cost when the corpus is dense
    // with near-dups and candidates ≈ output pairs. xxhash64 collisions
    // across a ~100-element union are ~1e-16 per pair — below any ROUND(4)
    // boundary's practical risk. |a ∪ b| = |a| + |b| − |a ∩ b| from
    // precomputed sizes (no union materialization).
    //
    // Payload joins are UNHINTED: the per-doc token-set table is O(corpus),
    // so forcing broadcast() here would OOM every executor at 100 TB. Left
    // to the planner, AQE broadcasts while the measured build side is small
    // and falls back to a shuffled join on the id keys once it isn't — the
    // candidate list is already repartitioned wide, and the payload join is
    // linear either way.
    //
    // Verify = early-exit merge ([[VectorExpressions.SortedIntersectAtLeast]]):
    // a candidate that cannot reach the j ≥ t intersection bound returns -1
    // (jac goes negative, the SAME threshold filter drops it); a candidate
    // that can is counted exactly — survivors are bitwise-identical to the
    // plain kernel (MinHashLSHSpec asserts it). No repartition between
    // candidates and verify: the band join upstream is already pinned at
    // full width, and first-match dedup emits each pair exactly once
    // map-side, so the verify joins fuse into that same wide stage.
    val cand = candidatePairsSized(items, threshold, p)
    // same pre-kernel width pin as candidatePairsSized: the sorted-hash
    // set build is per-doc kernel work that otherwise runs in the scan's
    // (possibly single) task before feeding the broadcast
    val n = items.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sets = tokenSets(items.repartition(n))
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), "id_b")
      .withColumn("inter",
        VectorExpressions.sortedIntersectAtLeast(col("set_a"), col("set_b"),
          minRequired(threshold)).cast("double"))
      .withColumn("uni", (col("sz_a") + col("sz_b")).cast("double") - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), Rounding.dround(col("jac"), 4).as("j"),
        col("inter").cast("long").as("inter"), col("sz_a"), col("sz_b"))
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
    * Same guarantees as [[verifiedPairs]]: first-match band dedup (a cross
    * pair meets once, at the first band where the two arrays agree — the
    * same [[VectorExpressions.FirstMatchIndex]] filter, evaluated on the
    * two sides' band arrays), size-compatibility pruning before any
    * payload movement, early-exit exact verify, unhinted payload joins. */
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
    items.select(col("id"),
        size(array_distinct(col("toks"))).as("sz"),
        VectorExpressions.minhashBandKeys(col("toks"), p.numPerm, p.rows).as("bands"))
      .filter(col("bands").isNotNull)

  /** (id, set) per doc — sorted 64-bit token-hash arrays, the exact-verify
    * payload (see [[verifiedPairs]] for the collision math). */
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
    val n = lh.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    def banded(h: DataFrame) = h.repartition(n)
      .select(col("id"), col("sz"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "sig")))
    banded(lh).as("a").join(banded(rh).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .filter(least(col("a.sz"), col("b.sz")).cast("double") >=
              lit(threshold) * greatest(col("a.sz"), col("b.sz")).cast("double") - lit(1.0))
      .filter(VectorExpressions.firstMatchIndex(col("a.bands"), col("b.bands")) === col("a.band"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .join(ls.select(col("id").as("id_a"), col("set").as("set_a")), "id_a")
      .join(rs.select(col("id").as("id_b"), col("set").as("set_b")), "id_b")
      .withColumn("inter",
        VectorExpressions.sortedIntersectAtLeast(col("set_a"), col("set_b"),
          minRequired(threshold)).cast("double"))
      .withColumn("uni", (col("sz_a") + col("sz_b")).cast("double") - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), Rounding.dround(col("jac"), 4).as("j"))
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
    val cand = candidatePairsSized(items, threshold, p)
    val w = org.apache.spark.sql.expressions.Window
    // pre-explode width pin (r17 taskprof): the token explode + vocab join
    // + per-doc set aggregation otherwise pipeline inside the single-task
    // scan stage (1.5 M gram rows in one task on the sf0.1 single file)
    val n = items.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
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
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), "id_b")
      .withColumn("inter",
        VectorExpressions.sortedIntersectAtLeastInt(col("set_a"), col("set_b"),
          minRequired(threshold)).cast("double"))
      .withColumn("uni", (col("sz_a") + col("sz_b")).cast("double") - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), Rounding.dround(col("jac"), 4).as("j"))
  }
}
