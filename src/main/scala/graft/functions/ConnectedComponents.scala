package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed connected components by min-label propagation over a
  * CONTRACTED quotient graph — the cluster-resolution stage a dedup
  * pipeline needs between "near-dup pair list" (Q53/x01/x02/x12) and "one
  * survivor per duplicate cluster".
  *
  * Each round: (1) every representative (current label) takes the minimum
  * over itself and its neighbor representatives; (2) per-node labels
  * compose through the rep relabeling; (3) the edge list is rewritten onto
  * the new reps, self-loops dropped, duplicates merged. Hooking always
  * targets the minimum neighbor and labels only ever decrease toward the
  * component minimum, so at fixpoint (no cross-rep edges left) every node
  * carries the min id of its component — deterministically, for any input
  * partitioning.
  *
  * Why contraction matters at scale: plain per-node propagation re-joins
  * the FULL edge list every round. On near-dup graphs — dense by
  * construction (~clique per duplicate cluster) — round 1 collapses each
  * cluster to 1–2 reps, so the contracted edge list shrinks from |pairs|
  * to ~|clusters| and later rounds are near-free. Within each round the
  * hook forest is path-compressed by pointer doubling (O(log diameter)
  * joins over the |reps|-sized hook table), so even long thin chains —
  * rare for near-dup relations, whose similarity is near-transitive —
  * contract in a constant number of outer rounds over the big edge list.
  * Each round's tables are eagerly checkpointed (read more than once,
  * lineage truncated to a leaf) and the previous round's blocks are
  * explicitly released — peak storage is one round's working set, not the
  * whole iteration's. The rounds run on key-partitioned RDD state, not
  * DataFrames — the per-job scheduling floor (see `labels` for the
  * mechanics and the numbers). At 100 TB pass
  * `checkpointDir = Some(hdfsPath)`: rounds then persist through a
  * reliable `checkpoint`, so lineage truncates, the iteration survives
  * executor churn, and the job can recompute from the last round instead
  * of restarting.
  */
object ConnectedComponents {

  /** Symmetrize an (a, b) pair frame into both edge orientations with ONE
    * pass of the input plan — the r13 lesson, kept in one place: a
    * self-union embeds the pair PLAN twice, and when that plan is an
    * unmaterialized near-dup pipeline (x14/x48/x53/x82/x187/...), both
    * union branches re-run the full signature scan + band join + verify.
    * The explode reads the pair plan once and emits both orientations
    * map-side. */
  def symmetrize(pairs: DataFrame, a: String, b: String,
                 outA: String, outB: String): DataFrame =
    pairs.select(explode(array(
        struct(col(a).as(outA), col(b).as(outB)),
        struct(col(b).as(outA), col(a).as(outB)))).as("e"))
      .select(col(s"e.$outA").as(outA), col(s"e.$outB").as(outB))

  /** Two independent eager materializations submitted CONCURRENTLY
    * (guide §2.6 — actions are sequential only because the driver calls
    * them sequentially): at sf the contracted tables are tiny and each
    * round's wall is dominated by per-job scheduling latency, so
    * overlapping the two per-round checkpoints (labels, contracted edges)
    * halves that floor; at scale the two jobs simply share the cluster.
    * join() gives the happens-before edge, errors rethrow on the caller
    * thread. When one branch fails, the other's completed result is
    * `release`d before the error propagates; when both fail, f2's error is
    * thrown with f1's attached as suppressed. */
  private[graft] def par2[A <: AnyRef](f1: => A, f2: => A,
                                       release: A => Unit): (A, A) = {
    var r1: A = null.asInstanceOf[A]
    var err: Throwable = null
    val th = new Thread(() => try r1 = f1 catch { case e: Throwable => err = e })
    th.start()
    def fail(e: Throwable, sibling: A): Nothing = {
      if (sibling != null)
        try release(sibling) catch { case x: Throwable => e.addSuppressed(x) }
      throw e
    }
    val r2 = try f2 catch { case e: Throwable =>
      th.join()
      if (err != null) e.addSuppressed(err)
      fail(e, r1)
    }
    th.join()
    if (err != null) fail(err, r2)
    (r1, r2)
  }

  /** nodes: (id: long); edges: (id_a, id_b) undirected, any orientation.
    * Returns (id, comp) with comp = min id of the node's component.
    * `checkpointDir`: when set, per-round lineage truncation uses reliable
    * `checkpoint` into that directory (survives executor loss) instead of
    * driver/executor-local blocks; the session's prior checkpoint dir is
    * restored on return. Labels are identical either way — the checkpoint
    * strategy only changes where intermediates are stored
    * (ConnectedComponentsSpec asserts this).
    *
    * Why the rounds run on RDDs: the 400-node `text_dedup` graph writes
    * about 12 KB of shuffle, yet its `cc` op took 41 Spark jobs and
    * 2.5–3.5 s in the DataFrame form of these rounds, half of it driver
    * time between jobs. Each round was several Catalyst actions (the hook
    * probe, one count per pointer-doubling jump, two eager checkpoints),
    * and AQE submitted every shuffle stage of every action as its own job
    * and re-planned between them. Here the state is (key, value) long
    * pairs hash-partitioned once per call by
    * [[IterCheckpoint.partitioner]], and the round steps are
    * [[LongPairs]]: every table a round reads is co-partitioned on its
    * join key, so the hook aggregate and the lookups on the hook side are
    * narrow, and each action is ONE multi-stage job with no planning in
    * between — 15 jobs for that op, its own result checkpoint included.
    * Frames come in once (`nodes`, `edges`) and go out once (the returned
    * labels). */
  def labels(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50,
             checkpointDir: Option[String] = None): DataFrame = {
    // Rounds are materialized through eager checkpoints — each table is
    // read several times AND its lineage must truncate to a leaf, or every
    // round's RDD DAG would embed all the previous rounds' (and a lost
    // block would replay the whole iteration). But a local checkpoint's
    // blocks free only when the JVM GCs the RDD, so R rounds held ~2R
    // materialized tables — including the 2|E|-row round-0 edge list — for
    // the whole run, and consecutive runs in one session compounded the
    // leak (x33 re-run in a warm JVM: 15 s vs 9.6 s cold, measured
    // 2026-08-13). [[IterCheckpoint.release]] closes the gap: a superseded
    // round's blocks (or reliable checkpoint files) are dropped the moment
    // its successor is materialized, and the final empty edge table at
    // convergence — so a call leaves exactly the returned labels behind.
    val s = nodes.sparkSession
    val ck = new IterCheckpoint(s, checkpointDir)
    val part = ck.partitioner
    val drop = (r: RDD[(Long, Long)]) => ck.release(r)
    try {
      // lab: (comp, id) keyed by label; g: symmetric edges (a, b) between
      // current representatives (initially the nodes), keyed by a — both
      // orientations emitted map-side from ONE pass of the (often
      // unmaterialized) edge plan, [[symmetrize]]'s r13 lesson
      var (lab, g) = par2(
        ck(LongPairs.of(nodes, "id", "id").partitionBy(part)),
        ck(LongPairs.of(edges, "id_a", "id_b")
          .flatMap { case (a, b) => Iterator((a, b), (b, a)) }.partitionBy(part)),
        drop)
      var round = 0
      var converged = false
      while (!converged) {
        // each rep hooks to the minimum of itself and its neighbor reps
        // (narrow: g is already keyed by a under `part`); the hook pointers
        // form a forest (every pointer strictly decreases, and every hop is
        // an edge or self, so targets stay in-component). CACHED, not
        // checkpointed: its count() materializes the cache AND is the
        // convergence probe — hook is empty iff the contracted edge list
        // is. It sits at bounded depth above g's checkpoint.
        val hookPre = LongPairs.reduce(g.mapPartitions(
            _.map { case (a, b) => (a, math.min(a, b)) }, preservesPartitioning = true))(math.min)
          .cache()
        if (hookPre.count() == 0) {
          converged = true
          hookPre.unpersist(false)
          ck.release(g) // the empty final edge table — nothing reads it
        } else {
          if (round >= maxRounds) { // failing: free this call's blocks first
            hookPre.unpersist(false)
            ck.release(lab)
            ck.release(g)
          }
          require(round < maxRounds,
            s"connected components did not converge in $maxRounds rounds")
          // path-compress the forest by pointer doubling: jump each pointer
          // to its target's target until idempotent. Path lengths halve per
          // jump, so chains collapse in O(log n) joins over the |reps|-sized
          // hook table — without this, a k-hop chain costs k OUTER rounds
          // over the full edge list. Each jump is one job: (to, rep) shuffles
          // onto the hook's partitioning, the lookup side is narrow, and the
          // result is re-keyed by rep.
          var hook: RDD[(Long, Long)] = hookPre
          var jumping = 1L
          var prevCached: RDD[_] = null
          while (jumping > 0) {
            val nxt = LongPairs.lookup(hook.map(_.swap).partitionBy(part), hook) {
                case (m, (to, rep)) => val to2 = m.getOrElse(to, to); Some((rep, (to2, to2 < to)))
              }.partitionBy(part).cache()
            jumping = nxt.filter(_._2._2).count()
            // the count() above fully materialized nxt's cache, so the
            // previous jump's blocks are dead weight — freeing them bounds
            // peak STORAGE at two iterations instead of all O(log n) hook
            // tables (an eviction replays the jumps back to this round's
            // checkpoint, which keeps the replay within one round)
            if (prevCached != null) prevCached.unpersist(false)
            prevCached = nxt
            hook = nxt.mapValues(_._1)
          }
          // per-node labels compose through the hook (reps absent from the
          // quotient graph — singletons or already-contracted — keep
          // theirs): a narrow lookup, then re-keyed by the new label. Edge
          // contraction rewrites g onto the new reps: a narrow lookup of a,
          // a shuffle onto b for its lookup, then self-loops dropped and
          // duplicates merged map-side on the way back to keying by a. The
          // two checkpoints are independent — submit them concurrently.
          val byB = LongPairs.lookup(g, hook) { case (m, (a, b)) => m.get(a).map(ta => (b, ta)) }
          val (labN, gN) = par2(
            ck(LongPairs.lookup(lab, hook) { case (m, (comp, id)) => Some((m.getOrElse(comp, comp), id)) }
              .partitionBy(part)),
            ck(LongPairs.distinct(LongPairs.distinct(
              LongPairs.lookup(byB.partitionBy(part), hook) {
                case (m, (b, ta)) => m.get(b).filter(_ != ta).map(tb => (ta, tb))
              }).partitionBy(part))),
            drop)
          // this round's lab/g are checkpointed; the previous round's
          // tables and the hooks that produced them are dead weight
          ck.release(lab)
          ck.release(g)
          lab = labN
          g = gN
          prevCached.unpersist(false)
          hookPre.unpersist(false)
          round += 1
        }
      }
      val nullable = nodes.schema("id").nullable
      s.createDataFrame(lab.map { case (comp, id) => Row(id, comp) },
        StructType(Seq(StructField("id", LongType, nullable),
                       StructField("comp", LongType, nullable))))
    } finally ck.restore()
  }

  /** Incremental label maintenance — the production continuation of x42's
    * incremental pair discovery: given the standing corpus's labels and a
    * new batch's nodes + edges (batch↔corpus AND batch-internal pairs),
    * produce the labels a FULL recompute over (all nodes, all edges) would
    * — without touching the standing edge list.
    *
    * Algebra: a component's label is its min node id, so the old labels
    * are a sound CONTRACTION of everything already merged — new edges can
    * only join whole old components (never split them). Map each new
    * edge endpoint onto its old component label (new ids pass through),
    * run [[labels]] over the QUOTIENT graph (nodes = old component labels
    * ∪ batch ids; edges = the mapped batch edges), and compose: old
    * members relabel through their component's new label, batch ids take
    * theirs directly. min-of-mins = global min, so the result is exactly
    * the full recompute's (ConnectedComponentsSpec asserts equality).
    *
    * Scale: the quotient is |components touched ∪ batch| nodes and
    * |batch edges| edges — a daily increment costs O(batch + collisions),
    * never O(corpus pairs); the only corpus-sized work is the final
    * relabel join, a single equi-join on the label key. Labels that no
    * new edge touches come through that join unchanged. */
  def mergeLabels(oldLabels: DataFrame, newNodes: DataFrame, newEdges: DataFrame,
                  maxRounds: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val compNodes = oldLabels.select(col("comp").as("id")).distinct()
      .union(newNodes.select("id")).distinct()
    val la = oldLabels.select(col("id").as("id_a"), col("comp").as("ca"))
    val lb = oldLabels.select(col("id").as("id_b"), col("comp").as("cb"))
    val mapped = newEdges.join(la, Seq("id_a"), "left").join(lb, Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
              coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    val qlab = labels(compNodes, mapped, maxRounds, checkpointDir)
    val relabeledOld = oldLabels
      .join(qlab.select(col("id").as("comp"), col("comp").as("nc")), Seq("comp"))
      .select(col("id"), col("nc").as("comp"))
    val newOnly = newNodes.select("id")
      .join(oldLabels.select("id"), Seq("id"), "left_anti")
      .join(qlab, Seq("id"))
      .select(col("id"), col("comp"))
    relabeledOld.union(newOnly)
  }
}
