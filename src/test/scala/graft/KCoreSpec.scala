package graft

import graft.operators.TextOps
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** x186's fixed-round k-core contract: the 8-round budget must reach the
  * peel fixpoint on the fixture (so Spark's early-exit, the twin's
  * unrolled 8 rounds, and a longer budget all agree), the peel must
  * actually remove something (k = 64 discriminates on this graph), and
  * every survivor's within-core degree honors the k threshold. */
class KCoreSpec extends SparkSpecBase {

  test("8-round peel is the fixpoint; peel removes nodes; core degrees >= k") {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    val pairs = graft.functions.MinHashLSH.verifiedPairs(toks, 0.8)
      .select("id_a", "id_b").localCheckpoint(true)
    val nodesInGraph = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id"))).distinct().count()
    val r8 = TextOps.x186KCoreFrom(spark, sfDir, pairs).cache()
    val r12 = TextOps.x186KCoreFrom(spark, sfDir, pairs, maxRounds = 12)
    try {
      assert(r8.count() > 0, "fixture's dup blob should survive a 64-core peel")
      assert(r8.count() < nodesInGraph,
        "peel removed nothing — k is not discriminating on this graph")
      assert(r8.except(r12).isEmpty && r12.except(r8).isEmpty,
        "round-8 state is not the fixpoint: the twin's fixed budget would diverge")
      assert(r8.agg(min("core_deg")).head.getLong(0) >= 64L,
        "a survivor's within-core degree fell below k")
    } finally { r8.unpersist(); () }
  }

  test("local-mode peel leaves only the returned frame's blocks persisted") {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    val pairs = graft.functions.MinHashLSH.verifiedPairs(toks, 0.8)
      .select("id_a", "id_b").localCheckpoint(true)
    val sc = spark.sparkContext
    def leafRdds(df: DataFrame): Seq[RDD[_]] = df.queryExecution.analyzed.collectLeaves().map {
      case l: LogicalRDD => l.rdd
      case other => fail(s"not an RDD leaf: $other")
    }
    def lineage(rdd: RDD[_]): Seq[RDD[_]] = rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))
    val before = sc.getPersistentRDDs.keySet
    val core = TextOps.x186KCoreFrom(spark, sfDir, pairs)
    val added = sc.getPersistentRDDs.keySet -- before
    try {
      assert(leafRdds(pairs).forall(r => sc.getPersistentRDDs.contains(r.id)),
        "the peel unpersisted its input")
      val leaf = leafRdds(core).flatMap(lineage).map(_.id).filter(added).toSet
      assert(leaf.size === 1, s"the returned frame reads persisted RDDs $leaf")
      assert(added === leaf, s"the peel left ${added -- leaf} persisted beyond its result")
      assert(core.count() > 0)
    } finally added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
  }

  test("reliable-checkpoint mode peels identical cores to local mode, " +
       "deletes superseded rounds' files, and restores the prior dir") {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    val pairs = graft.functions.MinHashLSH.verifiedPairs(toks, 0.8)
      .select("id_a", "id_b").localCheckpoint(true)
    val ckptDir = java.nio.file.Files.createTempDirectory("kcore-ckpt").toString
    val priorDir = java.nio.file.Files.createTempDirectory("kcore-prior").toString
    spark.sparkContext.setCheckpointDir(priorDir)
    val local = TextOps.x186KCoreFrom(spark, sfDir, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val reliable = TextOps.x186KCoreFrom(spark, sfDir, pairs,
        checkpointDir = Some(ckptDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(local.nonEmpty && reliable === local,
      "reliable-checkpoint peel diverged from local-checkpoint peel")
    // release discipline: only the SURVIVING round's checkpoint files remain
    // (superseded rounds deleted the moment their successor materialized)
    def rddDirs(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        (if (f.getName.startsWith("rdd-")) Seq(f) else Nil) ++
          Option(f.listFiles).toSeq.flatten.flatMap(rddDirs)
      else Nil
    val remaining = rddDirs(new java.io.File(ckptDir))
    assert(remaining.size === 1,
      s"expected exactly the surviving round's checkpoint, found $remaining")
    // session-global setCheckpointDir side effect undone (getCheckpointDir
    // returns an fs-qualified path — compare on the dir name)
    assert(spark.sparkContext.getCheckpointDir
        .exists(_.contains(new java.io.File(priorDir).getName)),
      s"prior checkpoint dir was not restored after the reliable peel " +
        s"(now ${spark.sparkContext.getCheckpointDir})")
    // and the restore does not NEST: repeat peels must keep the restored
    // path exactly <priorDir>/<uuid>, never <priorDir>/<uuid>/<uuid>/...
    TextOps.x186KCoreFrom(spark, sfDir, pairs, checkpointDir = Some(ckptDir))
      .collect()
    val restored = spark.sparkContext.getCheckpointDir.get
    assert(new org.apache.hadoop.fs.Path(restored).getParent.toString
        .endsWith(new java.io.File(priorDir).getName),
      s"repeat reliable peels nested the restored checkpoint dir: $restored")
  }
}
