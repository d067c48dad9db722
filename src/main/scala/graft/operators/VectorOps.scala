package graft.operators

import graft.Tables
import graft.functions.Rounding.dround
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10 vector side: similarity search (Q54), multimodal array
  * checksums (Q57), plus embedding near-dup (x07) and an IVF-style
  * bucketed ANN (x08) as the 100 TB scale path.
  */
object VectorOps {

  /** cos(a,b) computed in DOUBLE with a fixed left-to-right summation.
    *
    * Kernel is the codegen'd [[graft.functions.FloatDotProduct]] expression —
    * bitwise-identical to the higher-order-function formulation
    * (`aggregate(zip_with(a,b,*),0,+)`, asserted in FunctionsSpec) but a
    * primitive loop inside whole-stage codegen instead of interpreted
    * lambdas, since the dot product IS the workload of every pair-wise
    * vector operator here. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecCosine(a, b)

  /** The HOF formulation, kept as the oracle-shaped reference kernel the
    * custom expression is tested against (FunctionsSpec). */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
                lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))

  /** Corpus side of a pair-compute, spread across the full cluster width.
    *
    * The embeddings fixture is one small parquet file → a 1–2-partition scan;
    * every downstream per-pair cosine (interpreted higher-order functions,
    * the dominant cost) would run on 1–2 tasks while 30 cores idle. An
    * explicit-width round-robin repartition pins the pair stages at cluster
    * width — AQE never coalesces explicit counts. At 100 TB the corpus scan
    * arrives already wide, so this becomes a no-op-cost safety net. */
  private def wide(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Q54 cosine top-k: 10 probe vectors × all embeddings, top-5 each.
    *
    * The probe side is 10 rows → broadcast; the big side streams once, so
    * this is a single scan + per-probe TakeOrdered — linear in corpus size.
    * Ranking uses (round(cos,4) DESC, vec_id) so float last-bit differences
    * can never reorder the selection across engines. Brute force is the
    * exactness baseline; x08 is the sub-linear variant (SURVEY §7.4-6).
    */
  def q54(s: SparkSession, d: String): DataFrame =
    cosineTopK(wide(s, emb(s, d)), emb(s, d))

  /** q54's exact search over an arbitrary (vec_id, embedding) corpus —
    * probes are the vec_id < 10 rows of `probeSrc` (the fixture passes the
    * narrow re-read so the broadcast build side is the scan, not the
    * widened frame). AnnRecallSpec drives this + [[annIvf]] over a
    * clustered dev corpus. */
  def cosineTopK(corpus: DataFrame, probeSrc: DataFrame): DataFrame =
    exactTopK(corpus, probeSrc.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")), 5)

  /** x85 retrieval evaluation — the IR scorecard for the exact dense
    * searcher: per probe (vec_id < 10), precision@10 and recall@10 of the
    * cosine top-10 against the LABEL ground truth (same-label vectors are
    * the relevant set). x37 gates the IVF index against the exact
    * searcher; THIS gates the exact searcher against semantics — together
    * they are the two rungs of a retrieval-quality ladder (index ≈ exact,
    * exact ≈ relevant). On the near-uniform fixture precision is honestly
    * low (documented like x37's fixture rejection); on clustered corpora
    * the same scorecard certifies.
    *
    * Scale: the top-10 ranking is q54's broadcast probe pattern; the
    * relevance join is |probes·10| rows against a broadcast label map;
    * ratios are exact integer divisions rounded once. */
  def x85SearchEval(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
              col("label").as("p_label"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    val top = e.select(col("vec_id"), col("embedding"), col("label"))
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", dround(cosine(col("p_emb"), col("embedding")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
    val hits = top.groupBy("probe_id", "p_label")
      .agg(sum((col("label") === col("p_label")).cast("long")).as("n_hits"))
    val relevant = e.select(col("label").as("p_label"))
      .groupBy("p_label").agg(count(lit(1)).as("n_label"))
    hits.join(broadcast(relevant), "p_label")
      .select(col("probe_id"), col("n_hits"),
        // the probe itself is excluded from candidates, so its own row
        // does not count as relevant mass either
        (col("n_label") - 1).as("n_relevant"),
        dround(col("n_hits").cast("double") / 10.0, 4).as("p_at_10"),
        dround(col("n_hits").cast("double") / (col("n_label") - 1).cast("double"), 4).as("r_at_10"))
      .orderBy("probe_id")
  }

  /** x101 Matryoshka truncation eval — the dimension-budget readout for
    * MRL-style embeddings: per probe, how much of the full-64-dim exact
    * top-10 survives when search runs on the FIRST 16 dims only
    * (`recall = |top10_full ∩ top10_16| / 10`). Near-1 recall says the
    * prefix dims carry the ranking and the index can store quarter-width
    * vectors (4× memory/bandwidth); low recall says these embeddings were
    * not trained matryoshka and truncation is not free. Companion to x47
    * (PQ compression recall) and x37 (IVF recall) — three compression
    * axes, one gate pattern.
    *
    * Both rankings are x85's exact machinery (broadcast probes, one
    * corpus scan each, rounded-cos + vec_id total order); the overlap is
    * an equi-join of two 10·|probes|-row lists. */
  def x101Matryoshka(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    def topBy(c: (Column, Column) => Column): DataFrame =
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos", dround(c(col("p_emb"), col("embedding")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("probe_id"), col("vec_id"))
    val full  = topBy(cosine)
    val trunc = topBy((a, b) => cosine(slice(a, 1, 16), slice(b, 1, 16)))
    val overlap = full.join(trunc, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_common"))
    probes.select("probe_id").join(overlap, Seq("probe_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .select(col("probe_id"), col("n_common"),
        dround(col("n_common").cast("double") / 10.0, 4).as("recall"))
      .orderBy("probe_id")
  }

  /** Q57 multimodal column checksum: ARRAY<FLOAT> stored/retrieved natively;
    * per-label element-sum checksums. */
  def q57(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
           dround(sum(aggregate(col("embedding"), lit(0.0),
                                (acc, x) => acc + x.cast("double"))), 3).as("checksum"))
      .orderBy("label")

  /** x10 per-label embedding centroids + dispersion — the class-statistics
    * pass of an embedding-quality / clustering pipeline. One posexplode to
    * (label, dim, value) then a single partial+final hash aggregate per
    * (label, dim): linear, one shuffle of |labels|×|dims| groups regardless
    * of corpus size. Oracle: DuckDB UNNEST WITH ORDINALITY twin. */
  def x10Centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
           dround(avg(col("v").cast("double")), 4).as("centroid"),
           dround(stddev_samp(col("v").cast("double")), 4).as("spread"))
      .filter(col("dim") < 8) // contract keeps the first 8 dims (output size)
      .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
              col("centroid"), col("spread"))
      .orderBy("label", "dim")

  /** x07 embedding near-dup: all pairs with cosine ≥ 0.9 (blocked a<b).
    * sf-scale is brute force; the 100 TB path is x08's bucketed join or
    * MinHash-style banding on sign sketches. */
  def x07EmbedNearDup(s: SparkSession, d: String): DataFrame =
    wide(s, emb(s, d)).select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      .join(broadcast(emb(s, d).select(col("vec_id").as("id_b"), col("embedding").as("e_b"))),
            col("id_a") < col("id_b"))
      .withColumn("cos", dround(cosine(col("e_a"), col("e_b")), 4))
      .filter(col("cos") >= 0.9)
      .select(col("id_a"), col("id_b"), col("cos"))
      // TextOps.pinnedOrder: the n² cosine stage below this sort is one
      // broadcast megastage — the range sampler re-ran all of it (r16)
      .transform(TextOps.pinnedOrder(_, "id_a", "id_b"))

  /** x148 mutual nearest neighbors — the reciprocal-top-1 pairs (a's
    * nearest is b AND b's nearest is a): the classic high-precision seed
    * for clustering/dedup (a mutual edge is far stronger evidence than a
    * one-directional kNN edge) and for bitext-style alignment mining,
    * plus the label-agreement flag that scores the embedding space
    * against the fixture's ground-truth labels.
    *
    * The per-vector argmax is a map-side-combinable max(struct(cos4,
    * −id, payload…)) — ordered fields first, so ties break to the LOWEST
    * neighbor id on the ROUNDED cosine, partition-blind; no per-vector
    * window over the corpus. Brute-force n² pair generation is the
    * DECLARED exactness semantics (x07's precedent); the PRODUCTION path
    * is [[x148MutualNnIvf]] — x08's IVF probes generate ~2·n^1.5 candidate
    * edges and the identical [[mutualTop1]] kernel runs on top; X148Spec
    * pins candidate-fed ≡ exact on a planted clustered corpus. */
  def x148MutualNn(s: SparkSession, d: String): DataFrame =
    withSameLabel(s, d, mutualTop1(mutualExactEdges(wide(s, emb(s, d)), emb(s, d))))

  /** x148's candidate-fed PRODUCTION path: mutual nearest neighbors where
    * each vector's top-1 comes from its IVF candidate set instead of the
    * full corpus. Candidate generation is x08's machinery verbatim —
    * [[seedCents]] (√n centroids), [[assignCells]] (one corpus scan,
    * broadcast centroids), [[probeClusters]] with the WHOLE corpus as the
    * probe set (nprobe closest cells each) — then one shuffled equi-join
    * on cluster id yields directed candidate edges: each cell holds ~√n
    * members and receives ~nprobe·√n probes, so total edge volume is
    * ~nprobe·n^1.5, never n². The probe-cluster frame is NOT broadcast
    * here (it is corpus-sized — unlike x08's 10-probe search). On top,
    * the identical [[mutualTop1]] argmax + reciprocal join as the declared
    * exactness twin. Same trust contract as x08/x12: the x37 recall gate
    * decides per-corpus whether the index's candidates are faithful; on a
    * clustered corpus the output is row-identical to [[x148MutualNn]]
    * (X148Spec), on the near-uniform fixture the gate says to use the
    * exact path. The wall-time crossover is MEASURED, not argued
    * (round-11 scale rehearsal, BASELINE.md): dead heat at sf0.1
    * (1.10 s vs the brute 1.00 s at 2 k vectors), 9× ahead at 10×
    * (3.54 s vs 32.2 s at 20 k) — the ~nprobe·n^1.5 candidate volume
    * beats n² exactly where the complexity argument said it would.
    *
    * FIDELITY at scale is measured too (BASELINE.md, x148 fidelity rehearsal):
    * mutual-top-1 is finer-grained than x08's top-k search, and the
    * search default nprobe=2 recalls only 0.30 of exact pairs even on a
    * CLUSTERED 20 k corpus (a 2 k-member cluster spans ~14 of the √n
    * cells, so most true nearest neighbors straddle a cell boundary).
    * nprobe=16 is simultaneously EXACT (recall = precision = 1.0) and
    * ~3× faster than brute there — mutual-NN's production setting is
    * nprobe ≫ the search default, chosen per corpus by the x37 gate; on
    * isotropic data no affordable nprobe suffices (0.33 at np=16) and
    * the gate mandates the exact path, with numbers. */
  def x148MutualNnIvf(s: SparkSession, d: String, nprobe: Int = 2): DataFrame =
    withSameLabel(s, d, mutualTop1(mutualIvfEdges(wide(s, emb(s, d)), emb(s, d), nprobe)))

  /** Exact directed edge set over an arbitrary corpus: all n² ordered
    * pairs with the rounded cosine. `narrow` re-supplies the broadcast
    * build side (the fixture passes the raw scan, not the widened frame). */
  private[graft] def mutualExactEdges(wideCorpus: DataFrame, narrow: DataFrame): DataFrame =
    wideCorpus.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      .join(broadcast(narrow.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))),
        col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        dround(cosine(col("e_a"), col("e_b")), 4).as("cos"))

  /** IVF directed candidate edges over an arbitrary corpus — see
    * [[x148MutualNnIvf]] for the plan and volume math. */
  private[graft] def mutualIvfEdges(wideCorpus: DataFrame, narrow: DataFrame,
                                    nprobe: Int): DataFrame = {
    val cents = seedCents(narrow)
    val assigned = assignCells(wideCorpus, cents)
    val probes = narrow
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    assigned.join(probeClusters(cents, probes, nprobe), Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id").as("id_a"), col("vec_id").as("id_b"),
        dround(cosine(col("p_emb"), col("embedding")), 4).as("cos"))
  }

  /** The mutual-top-1 kernel over DIRECTED candidate edges (id_a, id_b,
    * cos) — candidate-blind: [[x148MutualNn]] feeds it the exact n² edges,
    * [[x148MutualNnIvf]] the IVF candidates. Per-source argmax as a
    * map-side-combinable max(struct(cos, −id_b)) — ordered fields first,
    * so ties break to the LOWEST neighbor id on the ROUNDED cosine,
    * partition-blind; no per-vector window over the edge set. Then the
    * reciprocal self-equi-join runs on n top-1 rows. */
  private[graft] def mutualTop1(directed: DataFrame): DataFrame = {
    val nn = top1(directed)
    val back = nn.select(col("id_a").as("y_id"), col("nn").as("y_nn"))
    nn.join(back, col("nn") === col("y_id") && col("y_nn") === col("id_a"))
      .filter(col("id_a") < col("nn"))
      .select(col("id_a"), col("nn").as("id_b"), col("cos"))
  }

  /** The per-source argmax shared by [[mutualTop1]] and the recall gate:
    * (id_a, nn, cos) with ties broken to the LOWEST neighbor id on the
    * ROUNDED cosine — map-side combinable, partition-blind. */
  private def top1(directed: DataFrame): DataFrame =
    directed.groupBy("id_a")
      .agg(max(struct(col("cos"), (-col("id_b")).as("nid"),
        col("id_b").as("id_b"))).as("m"))
      .select(col("id_a"), col("m.id_b").as("nn"), col("m.cos").as("cos"))

  /** The nprobe AUTO-ARBITER's measurement core — the x148 symmetry of
    * x171's candidate-volume probe (r11 verdict item 3): measured top-1
    * recall of the IVF candidate front end against the exact path, over a
    * DETERMINISTIC probe sample (every ⌈n/sampleMax⌉-th vec_id — no RNG,
    * stable at any parallelism). Walks `candidates` ASCENDING and stops at
    * the first nprobe whose sampled recall meets `recallBar`, so the cheap
    * settings are priced first and the walk costs one candidate-join per
    * measured point. Cost model: the exact reference is ONE corpus scan
    * with the ≤sampleMax-row sample broadcast (|sample|·n cheap edges,
    * argmax map-side); the per-np pass reuses one materialized cell
    * assignment. Recall estimates converge at a few hundred probes
    * regardless of corpus size (the x37 sampling argument), which is what
    * makes the gate affordable at 100 TB: the probe is |sample|·n work,
    * never n².
    *
    * Returns (chosen nprobe if any met the bar, the measured curve). */
  /** Shared harness of the two nprobe arbiter gates ([[x148ChooseNprobe]]
    * mutual-NN, [[x08ChooseNprobeFrom]] top-k serving): deterministic
    * hash-sampled probes (id-distribution-proof — a modulo rule on raw
    * ids picks NOTHING on sparse/hashed id spaces), an exact reference
    * computed once and checkpointed, an ascending first-pass-wins walk
    * over `candidates`, fail-CLOSED on empty evidence (a gate with no
    * measurable sample certifies nothing), and release of every gate
    * checkpoint on ALL paths including mid-construction failures — the
    * leak class the round's first self-review fixed, here structural.
    * `reference(sample)` builds the exact-path reference rows; `hits`
    * counts how many of them the np-candidate front end recovers. */
  private def nprobeGate(corpus: DataFrame, candidates: Seq[Int],
      sampleMax: Int, recallBar: Double)
     (reference: DataFrame => DataFrame)
     (hits: (DataFrame, DataFrame, Int) => Long): (Option[Int], Seq[(Int, Double)]) = {
    val n = corpus.count()
    if (n < 2) return (None, Nil) // no evidence → the exact path, trivially cheap
    val step = math.max(1L, n / sampleMax)
    val sample = corpus.filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0L)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      .localCheckpoint(true) // ~sampleMax rows; probed once per np below
    try {
      val ref = reference(sample).localCheckpoint(true)
      try {
        val total = ref.count().toDouble
        if (total == 0) return (None, Nil) // fail CLOSED
        val curve = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
        var chosen: Option[Int] = None
        val it = candidates.sorted.iterator
        while (chosen.isEmpty && it.hasNext) {
          val np = it.next()
          val recall = hits(sample, ref, np) / total
          curve += ((np, recall))
          if (recall >= recallBar) chosen = Some(np)
        }
        (chosen, curve.toSeq)
      } finally releaseLocal(ref)
    } finally releaseLocal(sample)
  }

  private[graft] def x148ChooseNprobe(corpus: DataFrame,
      candidates: Seq[Int] = Seq(2, 4, 8, 16), sampleMax: Int = 500,
      recallBar: Double = 0.98): (Option[Int], Seq[(Int, Double)]) = {
    // the walk's ONE corpus assignment, built lazily on the first
    // measurement (an empty-evidence gate never pays for it) and released
    // with the gate — the chosen path's edge build deliberately re-derives
    // its own (one corpus scan) rather than returning a plan pinned to
    // blocks nobody would ever release
    lazy val cents = seedCents(corpus)
    var assignedRef: DataFrame = null
    def assigned: DataFrame = {
      if (assignedRef == null)
        assignedRef = assignCells(corpus, cents).localCheckpoint(true)
      assignedRef
    }
    try {
      nprobeGate(corpus, candidates, sampleMax, recallBar) { sample =>
        top1(corpus.join(broadcast(sample), col("vec_id") =!= col("probe_id"))
            .select(col("probe_id").as("id_a"), col("vec_id").as("id_b"),
              dround(cosine(col("p_emb"), col("embedding")), 4).as("cos")))
          .select(col("id_a"), col("nn"))
      } { (sample, ref, np) =>
        val ivfTop = top1(
          assigned.join(broadcast(probeClusters(cents, sample, np)), Seq("cluster"))
            .filter(col("vec_id") =!= col("probe_id"))
            .select(col("probe_id").as("id_a"), col("vec_id").as("id_b"),
              dround(cosine(col("p_emb"), col("embedding")), 4).as("cos")))
          .select(col("id_a"), col("nn").as("ivf_nn"))
        ref.join(ivfTop, Seq("id_a")).filter(col("nn") === col("ivf_nn")).count()
      }
    } finally if (assignedRef != null) releaseLocal(assignedRef)
  }

  /** x148 with the candidate front end ARBITRATED per corpus — the
    * executable form of the r11 finding that mutual-NN's production
    * nprobe is corpus-dependent (np=16 exact-and-3×-faster-than-brute on
    * the clustered regime, NO affordable np sufficient on isotropic data):
    * run the sampled recall gate, take the cheapest nprobe meeting the
    * bar, or fall back to the exact n² path when none does. The
    * x171AutoEditDistance symmetry, closing the "documented knob, not an
    * executable arbiter" gap. */
  private[graft] def x148AutoFrom(s: SparkSession, wideCorpus: DataFrame,
      narrow: DataFrame, candidates: Seq[Int] = Seq(2, 4, 8, 16),
      recallBar: Double = 0.98): (DataFrame, Option[Int]) = {
    val (np, _) = x148ChooseNprobe(narrow, candidates, recallBar = recallBar)
    val edges = np match {
      case Some(k) => mutualIvfEdges(wideCorpus, narrow, k)
      case None    => mutualExactEdges(wideCorpus, narrow)
    }
    (mutualTop1(edges), np)
  }

  /** The dir-level auto-arbitrated x148 (bench row `x148_auto`): same
    * contract schema as the declared row; on this fixture's isotropic
    * embeddings the gate rejects every nprobe and the output equals
    * [[x148MutualNn]] exactly — the honest verdict, now executed instead
    * of documented. */
  def x148AutoMutualNn(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    withSameLabel(s, d, x148AutoFrom(s, wide(s, e), e)._1)
  }

  /** x148's output tail: attach both labels (two n-row equi-joins — AQE
    * broadcasts at fixture scale, co-shuffles at 100 TB) and flag
    * same-label agreement. */
  private def withSameLabel(s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    pairs
      .join(lab.select(col("vec_id").as("id_a"), col("label").as("l_a")), "id_a")
      .join(lab.select(col("vec_id").as("id_b"), col("label").as("l_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("cos"),
        (col("l_a") === col("l_b")).as("same_label"))
      .orderBy("id_a")
  }

  /** x12 embedding near-dup, PRODUCTION PATH: signed-random-projection
    * banding replaces x07's all-pairs join. The plan at any corpus size:
    *
    *  1. one map-side [[graft.functions.SignSketchBands]] eval per vector —
    *     512 hyperplane sign bits packed into 32 16-bit band keys, no
    *     shuffle, no row blow-up beyond 32 band rows per vector;
    *  2. candidate pairs from a self-EQUI-join on (band, key) — a shuffled
    *     hash join on a high-cardinality key, |buckets| local joins, the
    *     same shape as [[graft.functions.MinHashLSH.candidatePairs]];
    *  3. exact verification: rejoin the two embedding payloads (UNHINTED —
    *     AQE broadcasts only while the build side is measured-small) and
    *     keep pairs with codegen cosine ≥ 0.9.
    *
    * No O(n²) operator anywhere (x12PlanSpec asserts no nested-loop /
    * cartesian join in the physical plan). Recall: misses < 0.2% of pairs at
    * cos ≥ 0.95 and ~1e-9 at 0.99, rising to ~6% AT the 0.9 boundary — the
    * SRP θ/π curve's price for sub-quadratic candidates (full math in the
    * SignSketchBands scaladoc); x07 stays as the exactness baseline and the
    * oracle twin, and on this fixture (max pairwise cos ≈ 0.6 at every sf)
    * the two agree exactly. */
  def x12EmbedNearDupLsh(s: SparkSession, d: String): DataFrame =
    srpVerifiedPairs(wide(s, emb(s, d)), emb(s, d), 0.9)
      .transform(TextOps.pinnedOrder(_, "id_a", "id_b"))

  /** x12's candidate+verify plan over an arbitrary corpus — the reusable
    * SRP near-dup kernel (BASELINE.md's round-7 skew stress ran it over an
    * adversarial byte-identical-cluster corpus; [[x12EmbedNearDupLsh]] is
    * this kernel over the fixture). `vecs` (vec_id, embedding) feeds the
    * sketch and should arrive at cluster width; `payload` re-supplies
    * embeddings for the verify joins (the fixture passes the narrow
    * re-read so the scan, not the widened frame, is joined). */
  def srpVerifiedPairs(vecs: DataFrame, payload: DataFrame, minCos: Double): DataFrame = {
    val banded = vecs
      .select(col("vec_id"),
        graft.functions.VectorExpressions.signSketchBands(col("embedding")).as("bands"))
      .select(col("vec_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "key")))
    // no repartition before the payload joins: the band join is already
    // wide (round-robin upstream of the sketch) and first-match dedup emits
    // each pair once map-side — same reasoning as MinHashLSH.verify
    graft.functions.MinHashLSH.firstMatchJoin(banded, banded)
      .join(payload.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), "id_a")
      .join(payload.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), "id_b")
      .withColumn("cos", dround(cosine(col("e_a"), col("e_b")), 4))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** x08 IVF-style ANN: deterministic coarse centroids (every ⌊√n⌋-th
    * vector — nlist ≈ √n, the classic IVF sizing that balances the O(n·nlist)
    * assignment scan against the O(n/nlist) per-probe search; a fixed stride
    * would degenerate to a constant cluster count at corpus scale), cluster
    * assignment by max cosine, probes search only their top-2 closest
    * clusters.
    *
    * Scale story: the corpus is scanned once to assign clusters (centroids
    * broadcast — √n rows, e.g. ~10⁴·dim floats at n=10⁸, comfortably under
    * any broadcast budget); each query then touches ~nprobe·√n/n of the
    * corpus via an equi-join on cluster id instead of a full cross join.
    * Deterministic ranking: (round(cos,4) DESC, id ASC) everywhere.
    */
  def x08AnnIvf(s: SparkSession, d: String): DataFrame =
    annIvf(wide(s, emb(s, d)), emb(s, d))

  /** x08's IVF search over an arbitrary (vec_id, embedding) corpus —
    * centroids/stride come from `probeSrc` (fixture: the narrow scan),
    * probes are the corpus' vec_id < 10 rows. */
  def annIvf(corpus: DataFrame, probeSrc: DataFrame, nprobe: Int = 2): DataFrame = {
    val cents = seedCents(probeSrc)
    val assigned = assignCells(corpus, cents)
    val probes = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    ivfSearch(assigned, cents, probes, nprobe)
  }

  /** q54's exact top-k kernel over ARBITRARY probes (probe_id, p_emb) —
    * the generic form [[cosineTopK]]'s contract probes specialize, and
    * the exact reference/fallback of the x08 auto-arbiter. */
  private[graft] def exactTopK(corpus: DataFrame, probes: DataFrame,
                               k: Int = 5): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    corpus.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", dround(cosine(col("p_emb"), col("embedding")), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Release an eager localCheckpoint's blocks (the x186/bench scrub
    * discipline, shared by the two arbiter gates). */
  private[graft] def releaseLocal(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false); ()
      case _ => ()
    }

  /** Sampled recall@k gate for the x08 SEARCH index — the search-side
    * sibling of [[x148ChooseNprobe]]: measured recall of the IVF top-k
    * against the exact top-k over a deterministic hash-sampled probe set,
    * walked over `candidates` ascending; the cheapest nprobe meeting
    * `recallBar` wins, none ⇒ the exact path. The corpus ASSIGNMENT is
    * the caller's — [[graft.VectorStore]] passes its persisted cells (the
    * gate then recomputes nothing corpus-sized), the inline path one
    * fresh assignment — so the gate itself costs one |sample|·n exact
    * reference scan plus one candidate join per measured nprobe, never
    * n². Fails CLOSED on empty evidence (no certification without a
    * measurable sample). */
  private[graft] def x08ChooseNprobeFrom(assigned: DataFrame, cents: DataFrame,
      candidates: Seq[Int] = Seq(2, 4, 8, 16), sampleMax: Int = 200,
      k: Int = 5, recallBar: Double = 0.95): (Option[Int], Seq[(Int, Double)]) = {
    val corpus = assigned.select(col("vec_id"), col("embedding"))
    nprobeGate(corpus, candidates, sampleMax, recallBar) { sample =>
      exactTopK(corpus, sample, k).select(col("probe_id"), col("neighbor_id"))
    } { (sample, ref, np) =>
      ref.join(
        ivfSearchClusters(assigned, probeClusters(cents, sample, np), k)
          .select(col("probe_id"), col("neighbor_id")),
        Seq("probe_id", "neighbor_id")).count()
    }
  }

  /** x08's search with the nprobe ARBITRATED per corpus (bench row
    * `x08_auto`; the x148AutoMutualNn symmetry for top-k serving): the
    * sampled gate certifies the cheapest faithful nprobe — the IVF search
    * runs there — or rejects every candidate and the exact scan serves
    * instead. Same contract schema either way; on the isotropic fixture
    * the gate rejects (x37's standing verdict, now executed per call). */
  def x08AutoSearch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCents(e)
    val assigned = assignCells(wide(s, e), cents).localCheckpoint(true)
    val (np, _) =
      try x08ChooseNprobeFrom(assigned, cents)
      finally releaseLocal(assigned) // gate artifact; the chosen path below
        // re-derives its own (one corpus scan) instead of pinning blocks
    np match {
      case Some(w) => annIvf(wide(s, e), e, w)
      case None    => cosineTopK(wide(s, e), e)
    }
  }

  /** Cluster assignment by max cosine against broadcast centroids —
    * (vec_id, embedding, cluster). Shared by x08's inline path and
    * [[graft.VectorStore]]'s write/append (which PERSISTS the assignment
    * as a partition column). */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    e.crossJoin(broadcast(cents))
      .withColumn("ccos", dround(cosine(col("embedding"), col("c_emb")), 4))
      .withColumn("r", row_number().over(wAssign))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cluster"))
  }

  /** Probe → nprobe closest centroids: (probe_id, p_emb, cluster). */
  private[graft] def probeClusters(cents: DataFrame, probes: DataFrame,
                                   nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy("probe_id").orderBy(col("ccos").desc, col("cent_id"))
    probes.crossJoin(broadcast(cents))
      .withColumn("ccos", dround(cosine(col("p_emb"), col("c_emb")), 4))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nprobe)
      .select(col("probe_id"), col("p_emb"), col("cent_id").as("cluster"))
  }

  /** The IVF probe stage over a pre-assigned corpus: probes pick their
    * `nprobe` closest centroids, candidates arrive via the cluster
    * equi-join, top-k ranks (round(cos,4) DESC, vec_id). */
  private[graft] def ivfSearch(assigned: DataFrame, cents: DataFrame,
                               probes: DataFrame, nprobe: Int = 2,
                               k: Int = 5): DataFrame =
    ivfSearchClusters(assigned, probeClusters(cents, probes, nprobe), k)

  /** [[ivfSearch]]'s candidate+rank stage over PRECOMPUTED probe-cluster
    * rows — [[graft.VectorStore.searchTopK]] derives its partition filter
    * from the same frame, so the probe window runs once per search. */
  private[graft] def ivfSearchClusters(assigned: DataFrame, pc: DataFrame,
                                       k: Int): DataFrame = {
    val wTop = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(pc), Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", dround(cosine(col("p_emb"), col("embedding")), 4))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** x37 ANN recall gate: recall@5 of the IVF index ([[x08AnnIvf]]) against
    * the brute-force exact top-5 ([[q54]]), per probe — the accuracy gate a
    * pipeline runs at small scale before trusting the sub-linear index at
    * large (same tolerance-verdict pattern as x34/q21: each engine computes
    * BOTH algorithms itself; the declared output is exact hit counts plus
    * the `recall ≥ 0.95` boolean, so the contract grades the index, not
    * float internals — both rankings are already (round(cos,4), id)
    * tie-broken, making the two top-5 SETS deterministic across engines).
    *
    * Scale: the two underlying searches dominate (one linear scan + one
    * IVF probe); the gate itself joins two |probes|×5-row tables — free.
    * Run it over a SAMPLED probe set at 100 TB; recall estimates converge
    * at a few hundred probes regardless of corpus size.
    *
    * Measured on this fixture: recall ~0.0–0.4 per probe (ok=0 for 9/10
    * probes at every sf). That is the CORRECT verdict, not a bug — the
    * synthetic embeddings are near-uniform (max pairwise cos ≈ 0.6,
    * VERDICT r5), so coarse clusters have no locality for nprobe=2 to
    * exploit, and the gate is precisely the instrument that tells a
    * pipeline "use the exact path (q54) on this distribution". On real
    * embedding corpora (which cluster heavily) the same gate certifies the
    * index; both engines compute identical verdicts either way. */
  def x37AnnRecall(s: SparkSession, d: String): DataFrame =
    annRecall(wide(s, emb(s, d)), emb(s, d))

  /** x37's gate over an arbitrary corpus: recall@5 of [[annIvf]] vs
    * [[cosineTopK]] per probe. AnnRecallSpec runs it over a clustered dev
    * corpus and shows the gate CERTIFYING an index (recall ≥ 0.95), the
    * complement of the fixture's honest rejection. */
  def annRecall(corpus: DataFrame, probeSrc: DataFrame): DataFrame = {
    val exact = cosineTopK(corpus, probeSrc).select(col("probe_id"), col("neighbor_id"))
    val ivf = annIvf(corpus, probeSrc)
      .select(col("probe_id").as("p2"), col("neighbor_id").as("n2"))
    exact.join(ivf,
        col("probe_id") === col("p2") && col("neighbor_id") === col("n2"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"), count(col("n2")).as("n_hit"))
      .withColumn("recall",
        dround(col("n_hit").cast("double") / col("n_exact").cast("double"), 4))
      .select(col("probe_id"), col("n_exact"), col("n_hit"), col("recall"),
              (col("recall") >= 0.95).cast("int").as("ok"))
      .orderBy("probe_id")
  }

  /** x40 dedup-first embedding near-dup: x38's composition for vectors —
    * the operational answer the round-7 SRP skew stress measured
    * (BASELINE.md: a 10k-byte-identical cluster IS 50M output pairs;
    * collapsed first it is ZERO). Byte-identical embeddings collapse to
    * one representative (group by the vector itself — exact float
    * equality, one hash-shuffle whose key bytes are the row; min vec_id
    * keeps the choice deterministic), x12's SRP banded kernel runs over
    * representatives only, and the output carries each side's exact-copy
    * multiplicity instead of the copy square (downstream stages weight by
    * `copies`). On this fixture (no byte-identical embeddings, max cos ≈
    * 0.6) the pair list is empty exactly like x12's — the COMPOSITION is
    * the contract, and the oracle computes the same composition;
    * X40DedupFirstSpec executes the planted-copy case and the
    * multiplicity expansion identity against x12 over the raw corpus. */
  def x40EmbedDedupFirst(s: SparkSession, d: String): DataFrame =
    x40From(s, Tables.embeddings(s, d))

  /** x40 core over any (vec_id, embedding) frame — the spec entry point. */
  def x40From(s: SparkSession, e: DataFrame): DataFrame = {
    val reps = e.groupBy(col("embedding"))
      .agg(min("vec_id").as("vec_id"), count(lit(1)).as("copies"))
    val repVecs = reps.select(col("vec_id"), col("embedding"))
    val copies = reps.select(col("vec_id"), col("copies"))
    srpVerifiedPairs(wide(s, repVecs), repVecs, 0.9)
      .join(copies.select(col("vec_id").as("id_a"), col("copies").as("copies_a")), "id_a")
      .join(copies.select(col("vec_id").as("id_b"), col("copies").as("copies_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("cos"), col("copies_a"), col("copies_b"))
      .transform(TextOps.pinnedOrder(_, "id_a", "id_b"))
  }

  /** x41 embedding dedup pipeline CLOSURE — x39's shape for vectors: the
    * end-to-end composition x40 opens (exact-collapse → SRP near-dup pairs
    * over representatives → cluster resolution → survivor selection) with
    * the collapsed copy multiplicities folded back into every downstream
    * number, so the bookkeeping describes the ORIGINAL corpus:
    *   - `n_members`   = Σ copies over the cluster (every byte-identical
    *     copy counts as a member);
    *   - `n_reps`      = distinct embeddings in the cluster (what CC
    *     actually traversed);
    *   - `keeper`      = argmax by (copies DESC, vec_id ASC) — the most
    *     replicated embedding wins (replication count is the only
    *     intrinsic "weight" a bare vector carries; x39's n_chars analogue),
    *     min-id tiebreak keeps it deterministic;
    *   - `copies_kept` = the keeper's own exact-copy count.
    * Keeper choice is provably the raw-graph answer: a rep id is the min
    * vec_id of its copy group and `copies` IS that group's size, so the
    * rep-level argmax equals "group the raw cluster's members by embedding,
    * take the largest group's min vec_id" (X41FoldSpec executes the
    * equivalence).
    *
    * Scale: identical to x39's story — a 10k-copy embedding contributes
    * ONE node to the band join and the CC iteration instead of 10k nodes
    * and a 50M-edge square (the round-7 vecskewstress measurement in
    * BASELINE.md is exactly this case); multiplicity folding is one
    * integer column through the existing cluster-keyed shuffle. */
  def x41EmbedPipeline(s: SparkSession, d: String): DataFrame =
    x41PipelineFrom(s, Tables.embeddings(s, d))

  /** x41 core over any (vec_id, embedding) frame — the spec entry point:
    * the contract fixture has neither byte-identical embeddings nor pairs
    * at cos ≥ 0.9, so X41FoldSpec drives this with planted copy groups and
    * near-dup partners and checks the folded bookkeeping equals the
    * raw-graph composition. */
  def x41PipelineFrom(s: SparkSession, e: DataFrame): DataFrame = {
    val reps = e.groupBy(col("embedding"))
      .agg(min("vec_id").as("id"), count(lit(1)).as("copies"))
    val repVecs = reps.select(col("id").as("vec_id"), col("embedding"))
    val pairs = srpVerifiedPairs(wide(s, repVecs), repVecs, 0.9)
    val labels = graft.functions.ConnectedComponents.labels(
        reps.select(col("id")), pairs.select(col("id_a"), col("id_b")))
      .select(col("id"), col("comp").as("cluster_id"))
    val j = labels
      .join(reps.select(col("id"), col("copies")), "id")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("copies").desc, col("id"))))
    val agg = j.groupBy("cluster_id")
      .agg(sum("copies").as("n_members"), count(lit(1)).as("n_reps"))
    j.filter(col("rnk") === 1)
      .select(col("cluster_id"), col("id").as("keeper"),
              col("copies").as("copies_kept"))
      .join(agg, "cluster_id")
      .select(col("cluster_id"), col("keeper"), col("n_members"),
              col("n_reps"), col("copies_kept"))
      .orderBy("cluster_id")
  }

  /** x22 int8 embedding quantization: per-vector affine min/max quantization
    * to the 0..255 range plus the max absolute reconstruction error — the
    * storage/bandwidth step an embedding pipeline runs before ANN indexing
    * (4× smaller vectors; x08's cluster scan reads a quarter of the bytes).
    *
    * Determinism across engines: FLOOR (never a half-way hazard, unlike
    * round) over the identical IEEE expression `(x - mn) * 255.0 / (mx -
    * mn)` written with the same associativity on both sides; min/max are
    * order-independent; only the final error column is rounded (dround).
    * The quantized vector is emitted SERIALIZED (comma-joined exact
    * integers) rather than as a raw ARRAY column: the driver's pandas
    * canonicalizer cannot sort/hash list cells (round-4 harness error), and
    * a delimiter-joined integer string is bitwise-identical across engines.
    * Scale: pure per-row map — no shuffle, no join, whole-stage codegen'd
    * `transform`/`zip_with`/`aggregate` HOFs end to end. */
  def x22Quantize(s: SparkSession, d: String): DataFrame = {
    val de = transform(col("embedding"), _.cast("double"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), de.as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("qv", transform(col("v"), x =>
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(floor((x - col("mn")) * lit(255.0) / (col("mx") - col("mn"))))))
      .select(col("vec_id"),
        array_join(transform(col("qv"), _.cast("string")), ",").as("qv_csv"),
        dround(array_max(zip_with(col("v"), col("qv"), (x, q) =>
          abs(x - (col("mn") + q.cast("double") * (col("mx") - col("mn")) / lit(255.0))))),
          6).as("max_err"))
      .orderBy("vec_id")
  }

  /** x45 one Lloyd refinement step of x08's IVF coarse quantizer — the
    * index-BUILD primitive between "deterministic seeds" (x08) and
    * "certify recall" (x37): assign every vector to its nearest seed
    * centroid, recompute each centroid as its members' exact mean, and
    * report how far each centroid moved (cosine to its seed) — the
    * convergence signal a build pipeline loops on, feeding the output back
    * as the next step's seeds.
    *
    * Determinism at the contract level: assignment ranks (round(cos,4)
    * DESC, cent_id) like x08/x37; the mean is EXACT INTEGER arithmetic —
    * each float component scales by 1e6 into a BIGINT (a 24-bit float
    * mantissa times the 20-bit scale fits a double exactly, so the scaled
    * value is exact and ROUND-half-away agrees across engines), sums as
    * integers (associative — float-summation order sensitivity, the usual
    * centroid-hash killer, never arises), and divides back once. The
    * centroid arrays therefore hash-match bit for bit.
    *
    * Scale: one assignment scan with broadcast centroids (√n·dim floats),
    * one (cluster, dim)-keyed integer aggregate (map-side combined —
    * n·dim rows in, √n·dim out), one √n-row reassembly. A seed whose
    * vectors all prefer other centroids simply yields no row (empty
    * cluster — both engines derive the same survivor set). */
  /** x46 product-quantization encode — the vector-compression stage of a
    * 100 TB ANN build (Jégou et al.'s PQ): split each embedding into m=8
    * contiguous subvectors, quantize each against a per-subspace codebook,
    * and emit the m code ids plus the reconstruction error. With k=⌊√n⌋+1
    * codebook entries (the same deterministic every-stride-th seed rule as
    * x08/x45 — no trained state, so both engines derive identical books) a
    * dim-float vector compresses to m small ints; x47 then searches over
    * the codes alone.
    *
    * Determinism: per-subspace distance ranks on an INTEGER — d² computes
    * as dot(s,s) − 2·dot(s,c) + dot(c,c) (the same dot kernel cosine uses,
    * bit-identical to DuckDB's list_dot_product), scales by 1e6 and rounds
    * to BIGINT at scale 0 (where Spark's and DuckDB's rounding agree on
    * every double), so code choice, tie-break (cent_id), and the summed
    * error are all exact integer arithmetic — no float-order sensitivity
    * anywhere past the per-pair dot.
    *
    * Scale: one corpus scan; the codebook broadcast is k·dim floats (the
    * IVF-centroid budget); min(struct(d2i, cent_id)) is a partial
    * aggregate, so each task collapses its n·m·k candidate rows to n·m
    * map-side and the only shuffles are two narrow n·m-row exchanges. */
  def x46PqEncode(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    pqCodes(s, e, e)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"), col("code")))).as("cs"),
           sum(col("d2i")).as("esum"))
      .select(col("vec_id"),
              // CSV, not ARRAY: the driver's pandas row-sort cannot order
              // array cells (see x45); integer codes format identically
              // across engines
              array_join(transform(col("cs"),
                x => x.getField("code").cast("string")), ",").as("codes"),
              dround(col("esum").cast("double") / lit(1000000.0), 6).as("err2"))
      .orderBy("vec_id")
  }

  /** The deterministic seed-centroid rule x08/x45/x46 share: every
    * ⌊√n⌋-th vector of `src` by id — nlist ≈ √n with zero trained state,
    * so any engine derives the identical codebook from the data alone. */
  private[graft] def seedCents(src: DataFrame): DataFrame = {
    val stride = src.agg(count(lit(1)).as("n_vec"))
      .select(floor(sqrt(col("n_vec"))).cast("long").as("stride"))
    src.crossJoin(broadcast(stride))
      .filter(col("vec_id") % col("stride") === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
  }

  /** Integer-exact squared L2 between two float vectors, scaled 1e6 into a
    * BIGINT: the dot-expansion d² = a·a − 2·a·b + b·b over the codegen dot
    * kernel (bit-identical to DuckDB's list_dot_product), then one
    * scale-0 round where both engines agree on every double. Every PQ
    * ranking (code choice, ADC order, exact baseline) keys on this. */
  private def d2i(a: Column, b: Column): Column = {
    val dot = (x: Column, y: Column) => graft.functions.VectorExpressions.vecDot(x, y)
    round((dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)) * lit(1000000.0)).cast("long")
  }

  /** Per-(vector, subspace) PQ code assignment over `vecs` against
    * codebooks seeded from `bookSrc`: (vec_id, j, code, d2i). The
    * min(struct) is a partial aggregate — each task collapses its
    * n·m·k candidate rows to n·m before any shuffle. */
  private[graft] def pqCodes(s: SparkSession, vecs: DataFrame, bookSrc: DataFrame,
                             m: Int = 8): DataFrame = {
    val cents = seedCents(bookSrc)
    wide(s, vecs)
      .withColumn("sd", (size(col("embedding")) / m).cast("int"))
      .select(col("vec_id"), col("sd"), col("embedding"),
              explode(sequence(lit(0), lit(m - 1))).as("j"))
      .select(col("vec_id"), col("j"), col("sd"),
              slice(col("embedding"), col("j") * col("sd") + 1, col("sd")).as("sv"))
      .crossJoin(broadcast(cents))
      .withColumn("cs", slice(col("c_emb"), col("j") * col("sd") + 1, col("sd")))
      .select(col("vec_id"), col("j"), col("cent_id"),
              d2i(col("sv"), col("cs")).as("d2"))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("d2"), col("cent_id"))).as("b"))
      .select(col("vec_id"), col("j"),
              col("b").getField("cent_id").as("code"),
              col("b").getField("d2").as("d2i"))
  }

  /** x47 PQ asymmetric-distance search + recall gate — x37's pattern for
    * the compressed index x46 builds: search the corpus by CODES ALONE
    * (asymmetric distance: per probe, precompute the |probes|·m·k lookup
    * table of probe-subvector↔centroid d²; a database vector's distance
    * estimate is the sum of its m code lookups — the vector itself is
    * never touched), take top-5 per probe, and grade against the exact
    * full-precision L2 top-5. The declared verdict (`recall ≥ 0.95`)
    * certifies or rejects the compressed index per probe.
    *
    * Everything ranks on integers: the LUT entries and the exact
    * distances are 1e6-scaled BIGINT d² ([[d2i]]), ADC is a sum of m
    * BIGINTs, ties break on vec_id — both engines derive identical top-5
    * SETS, so hit counts and verdicts hash-match.
    *
    * Scale: the ADC join is an equi-join of the n·m-row int code table
    * against a broadcast LUT, partially aggregated to n·|probes| sums
    * map-side — the corpus' float payload moves NOWHERE after encode
    * (that is the point of PQ at 100 TB: 8 ints per vector stream through
    * one hash-agg). The exact baseline is the same brute-force scan q54
    * uses, fenced to the 10-probe gate set; production runs the gate on a
    * probe sample exactly like x37.
    *
    * On this near-uniform fixture (max cos ≈ 0.6, no cluster structure)
    * the ~23-entry seed codebooks quantize coarsely and the gate honestly
    * rejects (ok=0 for most probes) — the same correct verdict x37
    * returns for IVF here; PqRecallSpec shows the gate CERTIFYING the
    * codes on a clustered corpus. */
  def x47PqRecall(s: SparkSession, d: String): DataFrame =
    pqRecall(s, wide(s, emb(s, d)), emb(s, d))

  /** The ADC search alone: top-5 (adc, vec_id)-ranked neighbors per probe
    * (probes = vec_id < 10 of `probeSrc`), computed from codes + LUT with
    * no access to the corpus floats. PqRecallSpec drives this over a
    * clustered dev corpus to show the codes land every hit in the probe's
    * true cluster — PQ's resolution is the codebook cell, so WITHIN a
    * cell ADC ties and the id tiebreak decides; certify cell containment,
    * not within-cell order. */
  def pqSearch(s: SparkSession, corpus: DataFrame, probeSrc: DataFrame,
               m: Int = 8): DataFrame = {
    val probes = probeSrc.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    // LUT: probe × subspace × centroid → integer d² (tiny: |probes|·m·k)
    val lut = probes
      .withColumn("sd", (size(col("p_emb")) / m).cast("int"))
      .select(col("probe_id"), col("sd"), col("p_emb"),
              explode(sequence(lit(0), lit(m - 1))).as("j"))
      .select(col("probe_id"), col("j"), col("sd"),
              slice(col("p_emb"), col("j") * col("sd") + 1, col("sd")).as("sv"))
      .crossJoin(broadcast(seedCents(probeSrc)))
      .withColumn("cs", slice(col("c_emb"), col("j") * col("sd") + 1, col("sd")))
      .select(col("probe_id"), col("j"), col("cent_id").as("code"),
              d2i(col("sv"), col("cs")).as("ld2"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("vec_id"))
    pqCodes(s, corpus, probeSrc, m)
      .join(broadcast(lut), Seq("j", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("ld2").as("adc"))
      .withColumn("rnk", row_number().over(wAdc))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id"))
  }

  /** x47's gate over an arbitrary corpus: ADC top-5 from [[pqCodes]] vs
    * exact L2 top-5, per probe (probes = vec_id < 10 of `probeSrc`). */
  def pqRecall(s: SparkSession, corpus: DataFrame, probeSrc: DataFrame,
               m: Int = 8): DataFrame = {
    val probes = probeSrc.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    // ≤ |probes|·5 rows by construction → broadcast the verdict join
    val approx = broadcast(pqSearch(s, corpus, probeSrc, m)
      .select(col("probe_id").as("p2"), col("vec_id").as("n2")))
    val wExact = Window.partitionBy("probe_id").orderBy(col("ed2").asc, col("vec_id"))
    val exact = corpus.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("ed2", d2i(col("p_emb"), col("embedding")))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))
    exact.join(approx,
        col("probe_id") === col("p2") && col("neighbor_id") === col("n2"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"), count(col("n2")).as("n_hit"))
      .withColumn("recall",
        dround(col("n_hit").cast("double") / col("n_exact").cast("double"), 4))
      .select(col("probe_id"), col("n_exact"), col("n_hit"), col("recall"),
              (col("recall") >= 0.95).cast("int").as("ok"))
      .orderBy("probe_id")
  }

  def x45KmeansStep(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val stride = e.agg(count(lit(1)).as("n_vec"))
      .select(floor(sqrt(col("n_vec"))).cast("long").as("stride"))
    val cents = e.crossJoin(broadcast(stride))
      .filter(col("vec_id") % col("stride") === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    val assigned = wide(s, e).crossJoin(broadcast(cents))
      .withColumn("ccos", dround(cosine(col("embedding"), col("c_emb")), 4))
      .withColumn("r", row_number().over(wAssign))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cluster"))
    val sums = assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cluster", "dim")
      .agg(sum(round(col("v").cast("double") * lit(1000000.0)).cast("long")).as("sv"),
           count(lit(1)).as("nm"))
    val refined = sums.groupBy("cluster")
      .agg(max("nm").as("n_members"),
        array_sort(collect_list(struct(col("dim"), (col("sv").cast("double")
          / (col("nm").cast("double") * lit(1000000.0))).as("m")))).as("a"))
      .select(col("cluster").as("cluster_id"), col("n_members"),
              transform(col("a"), x => dround(x.getField("m"), 6)).as("centroid"))
    refined
      .join(broadcast(cents.select(col("cent_id").as("cluster_id"), col("c_emb"))),
            "cluster_id")
      .select(col("cluster_id"), col("n_members"),
        dround(cosineHof(col("c_emb"), col("centroid")), 4).as("shift_cos"),
        // driver-comparable encoding: the oracle harness sorts result rows
        // in pandas, which cannot order array cells — so the centroid ships
        // as an exact scaled-integer CSV (components are round(6), so ×1e6
        // is integral; integer→string formatting agrees across engines,
        // double→string would not)
        array_join(transform(col("centroid"),
          x => round(x * lit(1000000.0)).cast("long").cast("string")), ",")
          .as("centroid"))
      .orderBy("cluster_id")
  }

  /** x51 one power-iteration step of the corpus second-moment matrix —
    * the distributed linear-algebra primitive an embedding pipeline runs
    * before ANN indexing (dominant-direction estimation for whitening /
    * anisotropy diagnosis, Mu & Viswanath's "all-but-the-top"): starting
    * from the deterministic all-ones direction v₀, compute
    * y = Σᵢ (xᵢ·v₀)·xᵢ — one step of v ↦ Xᵀ(Xv) — WITHOUT ever
    * materializing the d×d Gram matrix or an n×d re-scan per component.
    *
    * Determinism (the x45 integer-mean discipline): the per-row scalar
    * xᵢ·v₀ is the same fixed-order double dot every cosine twin uses;
    * each per-(row, dim) term rounds at ×1e6 into a BIGINT, so the
    * cross-row sum is associative integer arithmetic — no float-order
    * sensitivity. The norm for the reported unit components is Σy² in
    * DECIMAL(38,0) — exact, order-free — so `comp` hash-matches despite
    * being a double division.
    *
    * Scale: ONE corpus scan; the (dim, term) aggregate is map-side
    * combined, so the only shuffle carries P·d partial rows (d=64) — the
    * reduction is constant-width regardless of corpus size, the same
    * treeAggregate shape x49's sketch uses. Further iterations rerun the
    * same query feeding y back as v — each step one scan. */
  def x51PowerIter(s: SparkSession, d: String): DataFrame = {
    val ones = (c: Column) => transform(c, _ => lit(1.0f))
    val terms = wide(s, emb(s, d))
      .withColumn("dt", graft.functions.VectorExpressions.vecDot(
        col("embedding"), ones(col("embedding"))))
      .select(posexplode(col("embedding")).as(Seq("dim", "x")), col("dt"))
      .select(col("dim"),
        round(col("dt") * col("x").cast("double") * lit(1000000.0))
          .cast("long").as("term"))
    val y = terms.groupBy("dim").agg(sum(col("term")).as("y_scaled"))
    val norm2 = y.agg(sum(col("y_scaled").cast("decimal(38,0)")
      * col("y_scaled").cast("decimal(38,0)")).as("n2"))
    y.crossJoin(broadcast(norm2))
      .select(col("dim"),
        dround(col("y_scaled").cast("double")
          / sqrt(col("n2").cast("double")), 6).as("comp"),
        col("y_scaled"))
      .orderBy("dim")
  }

  /** x68 embedding norm audit — the vector data-quality gate an index
    * build runs first: per label, count + L2-norm stats + zero-vector
    * count. Zero or wildly-scaled vectors poison cosine math (x07/x08's
    * normalization divides by the norm) and degrade IVF cell balance;
    * this is the readout that decides whether to L2-normalize at ingest.
    *
    * Norms accumulate in DOUBLE with a fixed left-to-right fold
    * ([[graft.functions.FloatDotProduct]], the same kernel every pairwise
    * operator uses), then sqrt (IEEE correctly-rounded, engine-identical).
    * One scan + one label-keyed hash agg — q19's shape. */
  def x68NormAudit(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("norm",
        sqrt(graft.functions.VectorExpressions.vecDot(col("embedding"), col("embedding"))))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
           dround(avg("norm"), 4).as("avg_norm"),
           dround(min("norm"), 4).as("min_norm"),
           dround(max("norm"), 4).as("max_norm"),
           sum(when(col("norm") === 0.0, 1).otherwise(0)).cast("long").as("n_zero"))
      .orderBy("label")

  /** x105 margin-based pair mining — the Artetxe–Schwenk margin criterion
    * bitext/near-pair miners use instead of a raw cosine threshold: a
    * candidate's score is its cosine NORMALIZED by both endpoints'
    * neighborhood density, so a vector that is "close to everything" (a
    * hub) stops winning every probe. Probe set A = vec_id < 10; candidate
    * set B = the rest; margin(a,b) = 2·cos(a,b) / (avgTop10(a over B) +
    * avg(b over A)); declared output is each probe's best-margin match.
    *
    * Cross-engine FP discipline: cosines are snapped ONCE to integer
    * ten-thousandths (cos4 = ROUND(1e4·cos), the x86/x92 all-integer
    * pattern), so both neighborhood sums are exact BIGINTs and the margin
    * is the single double divide 20·cos4/(sumA+sumB), rounded once —
    * no order-sensitive double accumulation anywhere.
    *
    * Scale: one broadcast-probe pass computes cos4 (the x85/x101
    * brute-force baseline; the SRP band index (x12) is the production
    * candidate generator at corpus×corpus scale), both rank filters
    * compile to map-side WindowGroupLimit (≤10 rows per probe forwarded
    * per task), and sumB is one high-cardinality vec_id hash agg. */
  def x105MarginMine(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val pairs = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") >= 10)
      .withColumn("cos4",
        round(cosine(col("p_emb"), col("embedding")) * lit(10000.0), 0).cast("long"))
      .select("probe_id", "vec_id", "cos4")
    val wTop = Window.partitionBy("probe_id").orderBy(col("cos4").desc, col("vec_id"))
    val sumA = pairs.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 10)
      .groupBy("probe_id").agg(sum("cos4").as("sum_a"))
    val sumB = pairs.groupBy("vec_id").agg(sum("cos4").as("sum_b"))
    val wBest = Window.partitionBy("probe_id").orderBy(col("margin").desc, col("vec_id"))
    pairs.join(broadcast(sumA), "probe_id")
      .join(sumB, "vec_id")
      .filter(col("sum_a") + col("sum_b") =!= 0L)
      .withColumn("margin",
        dround(lit(20.0) * col("cos4") / (col("sum_a") + col("sum_b")).cast("double"), 4))
      .withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") === 1)
      .select(col("probe_id"), col("vec_id").as("match_id"),
        dround(col("cos4").cast("double") / 10000.0, 4).as("cos"), col("margin"))
      .orderBy("probe_id")
  }

  /** x125 cluster separation audit over the labeled embedding space — the
    * index-quality readout a vector pipeline runs before trusting labels
    * (or a clustering) for IVF routing, stratified eval, or contrastive
    * sampling: per label, the within-cluster mean squared distance to the
    * centroid (scatter), the squared distance to the NEAREST other
    * centroid, and a Davies–Bouldin-style worst ratio
    * max_m (scatter_l + scatter_m) / d²(c_l, c_m) — low db = compact,
    * well-separated clusters; ≥ 1 = clusters overlap their neighbors.
    *
    * Exactness (the x45/x51 integer discipline, pushed through BOTH
    * moments): components scale to ×1e6 BIGINTs at the scan; per-label
    * Q = Σ‖x‖² and per-(label, dim) S = Σx are exact integer sums, so
    *   scatter·n² = n·Q − ‖S‖²             (DECIMAL(38,0), exact)
    *   d²(cₗ,cₘ)·(nₗnₘ)² = ‖nₘSₗ − nₗSₘ‖²  (exact)
    * and every double that follows is the same divide of the same exact
    * integers on both engines — min/max over identical doubles are
    * order-free, so the audit hash-matches with no FP-sum anywhere.
    *
    * Scale: one corpus scan into two map-side-combined aggregates
    * ((label) and (label, dim) — constant-width, L·d ≤ a few thousand
    * rows at ANY corpus size); everything pairwise runs on the L·d
    * aggregate (L² pair rows). The corpus never self-joins. */
  def x125ClusterSep(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("label"), col("dim"),
        round(col("xf").cast("double") * lit(1000000.0)).cast("long").as("sv"))
    val n = Tables.embeddings(s, d).groupBy("label").agg(count(lit(1)).as("n"))
    val q = x.groupBy("label").agg(sum(dec(col("sv")) * col("sv")).as("q"))
    val sd = x.groupBy("label", "dim").agg(sum("sv").as("sd"))
    val s2 = sd.groupBy("label").agg(sum(dec(col("sd")) * col("sd")).as("s2"))
    val msd = n.join(q, "label").join(s2, "label")
      .select(col("label"), col("n"),
        ((dec(col("n")) * col("q") - col("s2")).cast("double")
          / (col("n").cast("double") * col("n").cast("double"))
          / lit(1.0e12)).as("msd_raw"))
    def side(la: String, sa: String, na: String) = sd.join(n, "label")
      .select(col("label").as(la), col("dim"), col("sd").as(sa), col("n").as(na))
    val pd = side("la", "sa", "na").join(side("lb", "sb", "nb"), "dim")
      .filter(col("la") =!= col("lb"))
      .select(col("la"), col("lb"), col("na"), col("nb"),
        (col("nb") * col("sa") - col("na") * col("sb")).as("df"))
      .groupBy("la", "lb", "na", "nb")
      .agg(sum(dec(col("df")) * col("df")).as("pd2"))
      .select(col("la"), col("lb"),
        (col("pd2").cast("double")
          / (col("na").cast("double") * col("nb").cast("double")
             * col("na").cast("double") * col("nb").cast("double"))
          / lit(1.0e12)).as("sep"))
    val db = pd
      .join(msd.select(col("label").as("la"), col("msd_raw").as("msd_a")), "la")
      .join(msd.select(col("label").as("lb"), col("msd_raw").as("msd_b")), "lb")
      .groupBy("la")
      .agg(min("sep").as("min_sep"),
        max((col("msd_a") + col("msd_b")) / col("sep")).as("dbv"))
    msd.join(db, col("label") === col("la"))
      .select(col("label"), col("n"), dround(col("msd_raw"), 6).as("msd"),
        dround(col("min_sep"), 6).as("min_sep"), dround(col("dbv"), 4).as("db_index"))
      .orderBy("label")
  }
}
