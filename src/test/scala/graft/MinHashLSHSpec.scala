package graft

import graft.functions.MinHashLSH
import org.apache.spark.sql.functions._

/** MinHash-LSH correctness: the verified-pair output must equal the exact
  * all-pairs Jaccard result (recall at threshold 0.8 with 32×2 banding is
  * 1 − ~6e-15, so equality is the expectation, not an approximation). */
class MinHashLSHSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)
    .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))

  test("verifiedPairs == exact all-pairs Jaccard at 0.8 on sf0.001 documents") {
    val lsh = MinHashLSH.verifiedPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = docs.select(col("id"), array_distinct(col("toks")).as("set"))
    val exact = sets.as("a").join(sets.as("b"), col("a.id") < col("b.id"))
      .withColumn("j",
        size(array_intersect(col("a.set"), col("b.set"))).cast("double") /
          size(array_union(col("a.set"), col("b.set"))).cast("double"))
      .filter(col("j") >= 0.8)
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("an identical-doc cluster yields the full pair square") {
    // adversarial corpus: 60 identical docs + 60 distinct ones — every
    // cluster member shares every band key, so one bucket per band holds
    // the whole cluster
    val ident = (1 to 30).map(j => s"c$j").mkString(" ")
    val hostile = spark.range(120).select(col("id"))
      .withColumn("toks", when(col("id") < 60, split(lit(ident), " "))
        .otherwise(expr("transform(sequence(1, 30), j -> concat('u', cast(id * 100 + j as string)))")))
    val pairs = MinHashLSH.verifiedPairs(hostile, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size === 60 * 59 / 2, "identical cluster must yield the full pair square")
  }

  test("x38 dedup-first collapses the identical-copy pair square") {
    import spark.implicits._
    // 20 byte-identical copies + one near-dup (J = 9/11 ≈ 0.818) + one
    // unrelated doc, written as a real documents table
    val ident = "a b c d e f g h i j"
    val near  = "a b c d e f g h i k"
    val other = "z y x w v u t s r q"
    val rows = (0L until 20L).map(i => (i, ident)) :+ (20L, near) :+ (21L, other)
    val dir = java.nio.file.Files.createTempDirectory("x38docs").toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s1' AS source",
                  "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // raw q53 pays the square: C(20,2)=190 identity pairs + 20 near pairs
    assert(operators.TextOps.q53(spark, dir).count() === 210)
    // dedup-first: ONE representative pair, multiplicities carried
    val x38 = operators.TextOps.x38DedupFirstNearDup(spark, dir).collect()
    assert(x38.length === 1)
    val r = x38.head
    assert(r.getLong(0) === 0L && r.getLong(1) === 20L)
    assert(r.getDouble(2) === 0.8182)
    assert(r.getLong(3) === 20L && r.getLong(4) === 1L)
  }

  test("Params: recall math and a sparse-corpus config (r=4) on real docs") {
    val p = MinHashLSH.Params(numPerm = 64, rows = 4)
    assert(p.bands === 16)
    assert(math.abs(p.candidateProb(1.0) - 1.0) < 1e-12)
    assert(p.candidateProb(0.8) > 0.999)  // near-perfect recall at threshold
    assert(p.candidateProb(0.3) < 0.15)   // ~8x fewer low-sim candidates than r=2
    val sparse = MinHashLSH.verifiedPairs(docs, 0.8, p)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = MinHashLSH.verifiedPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // r=4 trades a sliver of recall for ~8x candidate pruning: every pair it
    // finds is real (exact-verified ⊆ default), recall stays >= 99.9%.
    // This is why the CONTRACT query keeps r=2 (miss prob 6e-15): only r=2
    // makes the verified output provably identical to exhaustive search.
    assert(sparse.subsetOf(default))
    assert(sparse.size >= (default.size * 0.999).toInt,
           s"recall ${sparse.size.toDouble / default.size} below 99.9%")
  }

  test("verifiedPairsDict is bitwise-identical to verifiedPairs on trigram sets") {
    val grams = Tables.documents(spark, sfDir).select(col("doc_id").as("id"),
      expr("transform(sequence(1, length(text)-2), i -> substring(text, i, 3))").as("toks"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val viaHash = rows(MinHashLSH.verifiedPairs(grams, 0.7))
    val viaDict = rows(MinHashLSH.verifiedPairsDict(grams, 0.7))
    assert(viaDict.nonEmpty && viaDict == viaHash)
  }

  test("fused band-key kernel is bitwise-equal to the explode+agg pipeline") {
    val trigrams = Tables.documents(spark, sfDir).select(col("doc_id").as("id"),
      expr("transform(sequence(1, length(text)-2), i -> substring(text, i, 3))").as("toks"))
    for (items <- Seq(docs, trigrams)) {
      val viaAgg = MinHashLSH.bandHashes(MinHashLSH.signatures(items))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      val viaKernel = MinHashLSH.bandKeys(items)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      assert(viaKernel.nonEmpty && viaKernel == viaAgg)
    }
  }

  test("band-key kernel drops empty token arrays like the explode path") {
    import spark.implicits._
    val items = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]))
      .toDF("id", "toks")
    assert(MinHashLSH.bandKeys(items).select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("signatures are deterministic across partitionings") {
    val s1 = MinHashLSH.signatures(docs).orderBy("id").collect().toSeq
    val s2 = MinHashLSH.signatures(docs.repartition(7)).orderBy("id").collect().toSeq
    assert(s1 === s2)
  }

  test("identical token sets collide in every band; disjoint sets share no band") {
    import spark.implicits._
    val tiny = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "d")),
      (3L, Seq("x", "y", "z", "w"))).toDF("id", "toks")
    val pairs = MinHashLSH.verifiedPairs(tiny, 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("x93's shallow-band variant is sound: b=32 pairs are a subset of the b=128 contract") {
    // fewer bands can only LOSE candidates; the verify stage is exact on
    // whatever survives — so every shallow-index row must be a declared row
    val deep = graft.operators.TextOps.x93Containment(spark, sfDir).cache()
    val shallow = graft.operators.TextOps
      .x93ContainmentWith(spark, sfDir, numPerm = 64).cache()
    try {
      assert(shallow.count() > 0, "fixture should contain containment pairs")
      assert(shallow.except(deep).count() === 0L,
        "shallow-band rows must verify to the same exact pairs")
    } finally { deep.unpersist(); shallow.unpersist(); () }
  }
}
