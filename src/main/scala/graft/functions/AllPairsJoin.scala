package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact all-pairs similarity self-join via prefix filtering — the
  * AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al. WWW'08),
  * re-expressed as three Spark shuffles. The DETERMINISTIC-exact
  * complement to [[MinHashLSH]]: same (id_a, id_b, j ≥ t) contract, but
  * completeness holds by a theorem about the token order, not by a
  * band-collision probability — the operator a pipeline reaches for when
  * "misses 1 pair in 10⁶ at the threshold boundary" is not acceptable.
  *
  * The filter: order all tokens by ascending document frequency (rarest
  * first; ties by token). Any pair with Jaccard ≥ t must share a token
  * inside both sides' first `sz − ⌈t·sz⌉ + 1` tokens of that order — so
  * the candidate join touches only PREFIX tokens, and because prefixes
  * are drawn from the rare end of the vocabulary, the join's collision
  * mass stays near the true pair count instead of the corpus square that
  * joining on any shared token (the oracle's shape) would produce.
  *
  * Plan anatomy (all linear in corpus + candidates):
  *  1. token df — one hash agg on the token;
  *  2. per-doc df-ordered token list — one token-keyed join + id agg
  *     (array_sort on (df, tok) structs; ordering is total, so the
  *     prefix SET is partitioning-independent);
  *  3. prefix explode (≤ (1−t)·sz + 1 rows per doc) → equi-join on the
  *     prefix token → size-compat prune → pair distinct;
  *  4. exact verify: [[MinHashLSH.verify]] over [[MinHashLSH.tokenSets]],
  *     the same step the LSH paths end in.
  *
  * FP discipline at the t-boundary (the class q53's −1 slack guards):
  * the prefix length uses `floor(t·sz) + 1 ≥ ⌈t·sz⌉` extra-token-safe
  * arithmetic and the size-compat prune keeps the −1 element margin, so
  * no IEEE rounding of `t·sz` can shorten a prefix or drop a pair whose
  * Jaccard is exactly t (AllPairsSpec pins the sz 4-vs-5, j = 0.8 case).
  *
  * At 100 TB: step 3's pair `distinct` is the one candidate-mass shuffle
  * (LSH's first-match trick has no analogue here — a pair may collide in
  * several prefix tokens); everything else is the same agg/join shapes as
  * the LSH path. The df skew works FOR the join: high-df tokens are
  * exactly the ones prefixes exclude. */
object AllPairsJoin {

  /** Exact (id_a < id_b, j = round(jaccard, 4)) pairs with jaccard ≥
    * `threshold` over `items` = (id, toks) — bit-compatible with
    * [[MinHashLSH.verifiedPairs]]' output contract. */
  def exactPairs(items: DataFrame, threshold: Double): DataFrame = {
    val n = MinHashLSH.width(items)
    val tok = items.select(col("id"), explode(array_distinct(col("toks"))).as("tok"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    // Explicit full-width pin (REPARTITION_BY_NUM — AQE never coalesces
    // it) between the per-doc agg and the prefix explode+join, the same
    // scale decision as MinHashLSH.candidatePairsSized's pre-explode
    // repartition: the agg's inputs are tiny (|corpus| rows), so AQE
    // coalesced its output to ONE partition and the quadratic stage
    // DOWNSTREAM — prefix explode → candidate join → positional filters →
    // the distinct's map side, 38M rows at sf0.1 — pipelined in a single
    // task (measured r17: a 15.8 s lone task inside x106's 17.8 s, and
    // the row ran at the SAME speed on 8 and 32 cores). The pin spreads
    // the explode+join over the cluster; one |corpus|-row round-robin
    // exchange is the price.
    val ordered = tok.join(dfreq, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"),
           count(lit(1)).as("sz"))
      .repartition(n)
    // Two prefix lengths (Xiao et al.'s probing/indexing split). A pair
    // (x, y) with (sz_y, id_y) < (sz_x, id_x) and j ≥ t MUST share a token
    // in probePrefix(x) ∩ indexPrefix(y): the overlap bound o ≥
    // ⌈t/(1+t)·(szx+szy)⌉ gives o ≥ ⌈t·szx⌉ (via szy ≥ t·szx) and o ≥
    // ⌈2t/(1+t)·szy⌉, and a miss in either prefix caps o one below each
    // bound. The index prefix is the shorter (≈(1−0.89)·sz at t=0.8 vs
    // ≈(1−0.8)·sz). What the split + the positional filter below actually
    // buy is the mass entering the pair-dedup EXCHANGE — the join
    // output itself streams map-side into the filters. Measured at
    // sf0.1 (t=0.8): 38.4M raw join rows → 25.7M after size-compat →
    // 18.8M into the distinct (the symmetric-prefix form shipped
    // 36.3M) → 7.06M distinct candidates verified; wall 45.6 s → 14.3 s.
    // floor(·)+1 ≥ ⌈·⌉ for every finite double — a prefix can only err
    // one token LONG, never short (completeness over speed).
    def prefixed(frac: Double) = ordered
      .withColumn("p",
        (col("sz") - floor(lit(frac) * col("sz").cast("double")) + 1).cast("int"))
      .select(col("id"), col("sz"),
        posexplode(slice(col("ord"), lit(1), col("p"))).as(Seq("pos0", "pt")))
      .select(col("id"), col("sz"), (col("pos0") + 1).as("pos"),
        col("pt.tok").as("tok"))
    val probe = prefixed(threshold)
      .select(col("id").as("id_x"), col("sz").as("sz_x"), col("pos").as("pos_x"), col("tok"))
    val index = prefixed(2 * threshold / (1 + threshold))
      .select(col("id").as("id_y"), col("sz").as("sz_y"), col("pos").as("pos_y"), col("tok"))
    val cand = probe.join(index, "tok")
      .filter(col("sz_y") < col("sz_x")
        || (col("sz_y") === col("sz_x") && col("id_y") < col("id_x")))
      .filter(MinHashLSH.sizeCompatible(threshold, col("sz_x"), col("sz_y")))
      // positional filter (ppjoin): past this shared token, at most
      // min(remaining suffix) + 1 tokens can still overlap — below the
      // intersection bound the pair cannot reach j ≥ t
      .filter((lit(1) + least(col("sz_x") - col("pos_x"), col("sz_y") - col("pos_y")))
        .cast("double") >= MinHashLSH.overlapBound(threshold, col("sz_x"), col("sz_y")))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        when(col("id_x") < col("id_y"), col("sz_x")).otherwise(col("sz_y")).as("sz_a"),
        when(col("id_x") < col("id_y"), col("sz_y")).otherwise(col("sz_x")).as("sz_b"))
      .distinct()
    val sets = MinHashLSH.tokenSets(items)
    MinHashLSH.verify(cand, sets, sets, threshold).select(col("id_a"), col("id_b"), col("j"))
  }
}
