package graft

import graft.functions.{ConnectedComponents, IterCheckpoint}
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.labels(
      nodes.toDF("id"),
      edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Whether an eagerly local-checkpointed frame still holds its blocks. */
  private def holdsBlocks(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case l: LogicalRDD => spark.sparkContext.getPersistentRDDs.contains(l.rdd.id)
    case other => fail(s"not a checkpointed leaf: $other")
  }

  private val releaseLocal = (df: DataFrame) => new IterCheckpoint(spark, None).release(df)

  /** The RDD under a frame's plan leaf (an eager checkpoint or a frame
    * built from RDD state). */
  private def leafRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(l: LogicalRDD) => l.rdd
      case other => fail(s"not a single RDD leaf: $other")
    }

  /** `rdd` and every RDD it depends on. */
  private def lineage(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  private def rddDirs(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory)
      (if (f.getName.startsWith("rdd-")) Seq(f) else Nil) ++
        Option(f.listFiles).toSeq.flatten.flatMap(rddDirs)
    else Nil

  /** One par2 call: each branch either checkpoints a small frame (kept
    * for inspection) or throws. */
  private def par2(fail1: Boolean, fail2: Boolean) = {
    val made = Array.fill[DataFrame](2)(null)
    def branch(i: Int, fails: Boolean): DataFrame =
      if (fails) throw new IllegalStateException(s"branch ${i + 1} failed")
      else { made(i) = spark.range(50).toDF("id").localCheckpoint(true); made(i) }
    val result = scala.util.Try(ConnectedComponents.par2(
      branch(0, fail1), branch(1, fail2), releaseLocal))
    (result, made.toSeq)
  }

  test("par2: a failing branch releases the sibling's completed checkpoint") {
    val (r1, made1) = par2(fail1 = false, fail2 = true)
    assert(r1.failed.get.getMessage === "branch 2 failed")
    assert(made1(0) != null && !holdsBlocks(made1(0)), "branch 1's checkpoint leaked")
    val (r2, made2) = par2(fail1 = true, fail2 = false)
    assert(r2.failed.get.getMessage === "branch 1 failed")
    assert(made2(1) != null && !holdsBlocks(made2(1)), "branch 2's checkpoint leaked")
  }

  test("par2: when both branches fail, neither error is lost") {
    val (r, _) = par2(fail1 = true, fail2 = true)
    val e = r.failed.get
    assert(e.getMessage === "branch 2 failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("branch 1 failed"))
  }

  test("par2: success returns both checkpoints, still materialized") {
    val (r, made) = par2(fail1 = false, fail2 = false)
    val (a, b) = r.get
    assert((a eq made(0)) && (b eq made(1)))
    assert(holdsBlocks(a) && holdsBlocks(b))
    assert(a.count() === 50 && b.count() === 50)
    Seq(a, b).foreach(releaseLocal)
  }

  test("labels past maxRounds fails with the convergence error") {
    val e = intercept[IllegalArgumentException](ConnectedComponents.labels(
      Seq(1L, 2L).toDF("id"), Seq((1L, 2L)).toDF("id_a", "id_b"), maxRounds = 0))
    assert(e.getMessage.contains("did not converge in 0 rounds"))
  }

  test("cliques, chains, and singletons resolve to the component minimum") {
    // component {1,2,3} (star around 3), chain {10..14}, singleton {99}
    val labels = run(
      Seq(1L, 2L, 3L, 10L, 11L, 12L, 13L, 14L, 99L),
      Seq((2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L, 99L -> 99L))
  }

  test("labels are invariant under input partitioning and edge orientation") {
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 58L).map(i => if (i % 2 == 0) (i, i + 2) else (i + 2, i))
    val a = ConnectedComponents.labels(nodes, edges.toDF("id_a", "id_b"))
      .orderBy("id").collect().toSeq
    val b = ConnectedComponents.labels(nodes.repartition(7),
        edges.toDF("id_a", "id_b").repartition(5))
      .orderBy("id").collect().toSeq
    assert(a == b)
    // evens form one component rooted at 0, odds one rooted at 1
    val m = a.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 60L).forall(i => m(i) == i % 2))
  }

  test("reliable-checkpoint mode produces identical labels") {
    val nodes = (0L until 40L).toDF("id")
    val edges = (0L until 38L).map(i => (i, i + 2)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val local = ConnectedComponents.labels(nodes, edges)
        .orderBy("id").collect().toSeq
      val reliable = ConnectedComponents.labels(nodes, edges,
          checkpointDir = Some(dir))
        .orderBy("id").collect().toSeq
      assert(local == reliable)
      // the reliable run actually wrote RDD checkpoints into the dir
      assert(new java.io.File(dir).listFiles().nonEmpty,
             "no checkpoint data written to the reliable dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("reliable-mode labels restore the prior checkpoint dir and keep only " +
       "the returned frame's checkpoint files") {
    val nodes = (0L until 40L).toDF("id")
    val edges = (0L until 38L).map(i => (i, i + 2)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-reliable").toFile
    val priorDir = java.nio.file.Files.createTempDirectory("graft-cc-prior").toFile
    try {
      spark.sparkContext.setCheckpointDir(priorDir.toString)
      val out = ConnectedComponents.labels(nodes, edges, checkpointDir = Some(dir.toString))
      val now = spark.sparkContext.getCheckpointDir.get
      assert(new org.apache.hadoop.fs.Path(now).getParent.getName === priorDir.getName,
        s"prior checkpoint dir was not restored (now $now)")
      val read = lineage(leafRdd(out)).flatMap(_.getCheckpointFile).distinct
        .map(f => new org.apache.hadoop.fs.Path(f).getName)
      assert(read.size === 1, s"the returned frame reads $read")
      assert(rddDirs(dir).map(_.getName) === read,
        "superseded rounds' checkpoint files were left in the reliable dir")
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        (0L until 40L).map(i => i -> i % 2).toMap)
    } finally Seq(dir, priorDir).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  test("local-mode labels leave only the returned frame's blocks persisted") {
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 58L).map(i => (i, i + 2)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val marker = sc.parallelize(1 to 10).cache()
    marker.count()
    val before = sc.getPersistentRDDs.keySet
    val out = ConnectedComponents.labels(nodes, edges)
    val added = sc.getPersistentRDDs.keySet -- before
    try {
      assert(sc.getPersistentRDDs.contains(marker.id), "the call unpersisted a foreign RDD")
      val leaf = lineage(leafRdd(out)).map(_.id).filter(added).toSet
      assert(leaf.size === 1, s"the returned frame reads persisted RDDs $leaf")
      assert(added === leaf, s"labels left ${added -- leaf} persisted beyond its result")
    } finally { marker.unpersist(); added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist())) }
  }

  test("x14 clusters are consistent with q53's edge list") {
    val x14 = TextOps.x14DedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // every verified near-dup pair ends up in the same cluster
    val pairs = TextOps.q53(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(x14(a)._1 == x14(b)._1, s"pair ($a,$b) split across clusters")
    }
    // exactly one keeper per cluster, and it is the cluster id itself
    val keepers = x14.collect { case (id, (comp, 1)) => (id, comp) }
    assert(keepers.forall { case (id, comp) => id == comp })
    assert(keepers.size == x14.values.map(_._1).toSet.size)
  }

  test("x14 pipeline overload over precomputed pairs equals the standalone query") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    val pairs = graft.functions.MinHashLSH.verifiedPairs(docs, 0.8)
    val fromPairs = TextOps.x14DedupClustersFrom(spark, sfDir, pairs)
      .collect().map(_.toSeq).toSeq
    val standalone = TextOps.x14DedupClusters(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(fromPairs === standalone)
  }

  test("incremental mergeLabels equals the full recompute (x42's batch split)") {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    val corpus = toks.filter(col("id") % 7 =!= 0)
    val batch = toks.filter(col("id") % 7 === 0)
    // standing state: labels over the corpus's own near-dup graph
    val corpusPairs = graft.functions.MinHashLSH.verifiedPairs(corpus, 0.8)
      .select(col("id_a"), col("id_b"))
    val oldLabels = graft.functions.ConnectedComponents.labels(
      corpus.select("id"), corpusPairs)
    // the increment: batch↔corpus pairs (x42's contract) + batch-internal
    val crossPairs = graft.functions.MinHashLSH.crossVerifiedPairs(batch, corpus, 0.8)
      .select(col("id_a"), col("id_b"))
    val batchPairs = graft.functions.MinHashLSH.verifiedPairs(batch, 0.8)
      .select(col("id_a"), col("id_b"))
    val merged = graft.functions.ConnectedComponents.mergeLabels(
        oldLabels, batch.select("id"), crossPairs.union(batchPairs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // reference: one CC over everything
    val allPairs = graft.functions.MinHashLSH.verifiedPairs(toks, 0.8)
      .select(col("id_a"), col("id_b"))
    val full = graft.functions.ConnectedComponents.labels(toks.select("id"), allPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(merged.length === full.length)
    assert(merged === full)
  }

  test("x33 pipeline overload over precomputed pairs equals the standalone query") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    val pairs = graft.functions.MinHashLSH.verifiedPairs(docs, 0.8)
    val fromPairs = TextOps.x33DedupSurvivorsFrom(spark, sfDir, pairs)
      .collect().map(_.toSeq).toSeq
    val standalone = TextOps.x33DedupSurvivors(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(fromPairs === standalone)
  }
}
