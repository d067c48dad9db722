package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `text_dedup`: the LLM-data dedup pipeline over a seeded corpus with the
  * sf0.1 documents profile. Each pass runs LSH pairs → connected
  * components → survivors, the k-core peel over the same pairs, the exact
  * all-pairs join, and one 0.5-threshold containment pass. Throughput is
  * documents per second over whole passes, because single rows of this
  * pipeline do not repeat closely enough to be a metric of their own. */
final class TextDedup(a: Args) extends Workload {
  private val Docs = 400
  private val Threshold = 0.8
  private val dir = s"${a.work}/corpus"
  private var docs: Vector[Gen.Doc] = Vector.empty
  /** The last pass's materialized outputs, for the checks. */
  private var lsh, exact, labels: DataFrame = _
  private var survivors = -1L
  /** Wall ms of each timed pass. */
  private val passMs = mutable.ArrayBuffer.empty[Double]

  def primary = "pass"
  override def primaryLatencies(h: Harness): Seq[Double] = passMs.toSeq

  private def items(h: Harness): DataFrame =
    graft.Tables.documents(h.spark, dir).select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))

  def prepare(h: Harness): Unit = {
    docs = Gen.documents(a.seed, Docs)
    Files.deleteTree(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    Gen.writeSingle(Gen.documentsFrame(h.spark, docs), s"$dir/documents.parquet")
  }

  def warmup(h: Harness): Unit = pass(h)

  /** Drop the blocks of an eagerly checkpointed frame from the previous pass. */
  private def release(df: DataFrame): Unit = if (df != null) df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }

  /** One pipeline pass, each stage an op. */
  private def pass(h: Harness): Unit = {
    val s = h.spark
    Seq(lsh, exact, labels).foreach(release)
    val t0 = System.nanoTime()
    lsh = h.op("lsh")(h.span("functions.lsh") {
      graft.functions.MinHashLSH.verifiedPairs(items(h), Threshold).localCheckpoint(true)
    }).orNull
    labels = h.op("cc")(h.span("functions.cc") {
      graft.functions.ConnectedComponents.labels(items(h).select("id"), lsh.select("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("comp").as("cluster_id")).localCheckpoint(true)
    }).orNull
    survivors = h.op("survivors")(h.span("operators.survivors") {
      graft.operators.TextOps.x33SurvivorsFromLabels(s, dir, labels).count()
    }).getOrElse(-1L)
    h.op("kcore")(h.span("functions.kcore") {
      graft.operators.TextOps.x186KCoreFrom(s, dir, lsh).write.format("noop").mode("overwrite").save()
    })
    exact = h.op("allpairs")(h.span("functions.allpairs") {
      graft.functions.AllPairsJoin.exactPairs(items(h), Threshold).localCheckpoint(true)
    }).orNull
    h.op("containment")(h.span("functions.containment") {
      graft.operators.TextOps.x93ContainmentWith(s, dir, numPerm = 256)
        .write.format("noop").mode("overwrite").save()
    })
    if (h.measuring) passMs += (System.nanoTime() - t0) / 1e6
  }

  def step(h: Harness): Unit = pass(h)

  def checks(h: Harness): Seq[Check] = {
    val pairs = lsh.select("id_a", "id_b", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactSet = exact.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshSet = pairs.map(p => (p._1, p._2)).toSet
    val sets = docs.map(d => d.id -> d.text.split(" ").toSet).toMap
    val badJ = pairs.count { case (x, y, j) =>
      val (sa, sb) = (sets(x), sets(y))
      val jac = (sa & sb).size.toDouble / (sa | sb).size
      jac < Threshold || math.abs(jac - j) > 5e-5
    }
    // independent union-find over the verified pairs
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y, _) => val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(rx) = ry }
    val ufClusters = docs.map(d => find(d.id)).distinct.size.toLong
    val ccClusters = labels.select("cluster_id").distinct().count()
    Seq(
      Check("text_dedup.lsh_equals_exact", lshSet == exactSet && lshSet.size == pairs.length,
        s"LSH ${lshSet.size} pairs, exact all-pairs ${exactSet.size} pairs"),
      Check("text_dedup.jaccard_recomputed", badJ == 0 && pairs.nonEmpty,
        s"$badJ of ${pairs.length} pairs below $Threshold or off their reported Jaccard"),
      Check("text_dedup.clusters", ccClusters == ufClusters && survivors == ufClusters,
        s"CC $ccClusters clusters, union-find $ufClusters, survivors $survivors"))
  }

  def throughput(h: Harness, windowS: Double): (Double, String) =
    (Docs * passMs.size / math.max(1e-9, passMs.sum / 1000.0), "document")

  def metrics(h: Harness, windowS: Double): Seq[(String, Double, String)] = Seq(
    ("dedup_docs_per_s", throughput(h, windowS)._1, "1/s"),
    ("corpus_docs", Docs.toDouble, "count"),
    ("passes", passMs.size.toDouble, "count"),
    ("pass_p50_ms", Stats.median(passMs.toSeq), "ms"))

  /** Counted after the timed window, on the last pass's corpus. */
  def layers(h: Harness): Map[String, Double] = {
    val cand = graft.functions.MinHashLSH.candidatePairs(items(h)).count()
    val ver = lsh.count()
    def jobs(kind: String) = h.engineLayer(Set(kind))("engine.jobs_per_op")
    Map(
      "functions.lsh_ms" -> h.spanMs("functions.lsh"),
      "functions.lsh_candidates" -> cand.toDouble,
      "functions.lsh_verified" -> ver.toDouble,
      "functions.lsh_precision" -> (if (cand == 0) 0.0 else ver.toDouble / cand),
      "functions.allpairs_ms" -> h.spanMs("functions.allpairs"),
      "functions.allpairs_pairs" -> exact.count().toDouble,
      "functions.cc_ms" -> h.spanMs("functions.cc"),
      "functions.cc_jobs" -> jobs("cc"),
      "functions.kcore_ms" -> h.spanMs("functions.kcore"),
      "functions.kcore_jobs" -> jobs("kcore"),
      "functions.containment_ms" -> h.spanMs("functions.containment"),
      "operators.survivors_ms" -> h.spanMs("operators.survivors"))
  }
}
