package graft

import graft.functions.SeriesFunctions
import graft.functions.SeriesFunctions.TsPoint
import graft.operators.MultimodalOps
import org.apache.spark.sql.functions._

/** Scalar/aggregate helpers + multimodal plumbing. */
class FunctionsSpec extends SparkSpecBase {

  test("ema matches hand-computed recurrence") {
    import spark.implicits._
    // alpha=0.5 over [1,2,3]: 1 → 1.5 → 2.25
    val df = Seq(Seq(1.0, 2.0, 3.0)).toDF("vs")
      .select(SeriesFunctions.ema(col("vs"), 0.5).as("e"))
    assert(math.abs(df.head.getDouble(0) - 2.25) < 1e-12)
  }

  test("ema of empty array is the (unseeded) zero initial value") {
    import spark.implicits._
    val df = Seq(Seq.empty[Double]).toDF("vs")
      .select(SeriesFunctions.ema(col("vs"), 0.5).as("e"))
    assert(df.head.getDouble(0) === 0.0)
  }

  test("LatestPointAgg is partitioning-invariant (partial+final correct)") {
    import spark.implicits._
    val pts = (1L to 1000L).map(i => TsPoint(ts = (i * 7919) % 1000, value = i.toDouble))
    val expected = pts.maxBy(_.ts).value
    val agg = udaf(SeriesFunctions.LatestPointAgg)
    for (parts <- Seq(1, 4, 13)) {
      val got = pts.toDF("ts", "value").repartition(parts)
        .agg(agg(col("ts"), col("value"))).head.getDouble(0)
      assert(got === expected, s"parts=$parts")
    }
  }

  test("multimodal decode: deterministic, row-preserving, schema stable") {
    val media = MultimodalOps.mediaTable(spark, sfDir)
    val feats = MultimodalOps.decodeAll(media)
    assert(feats.count() === media.count())
    val f = feats.filter(col("media_id") === 0).head()
    val f2 = MultimodalOps.decodeAll(media.repartition(9))
      .filter(col("media_id") === 0).head()
    assert(f.features.toSeq === f2.features.toSeq)
    assert(f.features.length === 4)
    // mean byte of lowercase ASCII text must be within the printable range
    assert(f.features(1) > 32f && f.features(1) < 127f)
  }

  test("frame sampling on known bytes: stride, tail frame, checksums") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    // 150 bytes → frames of 64: idx 0 (64), 1 (64), 2 (22); stride 2 keeps 0, 2
    val payload = Array.tabulate[Byte](150)(i => (i % 7).toByte)
    val media = Seq(MultimodalOps.MediaRecord(9L, payload, "x", 150L)).toDS()
    val got = MultimodalOps.sampleFrames(media, 64, 2).collect().sortBy(_.frame_idx)
    assert(got.map(f => (f.frame_idx, f.frame_bytes)).toSeq == Seq((0L, 64L), (2L, 22L)))
    assert(got(0).checksum == (0 until 64).map(_ % 7).sum)
    assert(got(1).checksum == (128 until 150).map(_ % 7).sum)
  }

  test("decodeStub on known bytes") {
    val f = MultimodalOps.decodeStub("ab".getBytes("UTF-8"))
    assert(f.toSeq === Seq(2f, 97.5f, math.sqrt((97.0 * 97 + 98.0 * 98) / 2).toFloat, 97f))
  }

  test("typed Dataset[Event] surface round-trips the events table") {
    val ds = Tables.eventsDs(spark, sfDir)
    val first = ds.filter(_.event_type == "click").map(_.value)(
      org.apache.spark.sql.Encoders.scalaDouble).head()
    assert(!first.isNaN)
    assert(ds.count() === Tables.events(spark, sfDir).count())
  }

  test("FloatDotProduct is BITWISE-identical to the HOF dot on real embeddings") {
    // Same fold order ⇒ identical doubles; compared without rounding, in both
    // codegen and (collect-side) interpreted paths.
    val e = Tables.embeddings(spark, sfDir).limit(200)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.crossJoin(e.select(col("vec_id").as("id2"), col("embedding").as("emb2")))
      .filter(col("vec_id") < col("id2")).limit(5000)
    val cmp = pairs.select(
      graft.operators.VectorOps.cosine(col("embedding"), col("emb2")).as("fast"),
      graft.operators.VectorOps.cosineHof(col("embedding"), col("emb2")).as("ref"))
    assert(cmp.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("SortedIntersectCount matches array_intersect size on hashed token sets") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        array_sort(transform(array_distinct(col("toks")), t => xxhash64(t))).as("set"))
      .limit(100)
    val pairs = docs.crossJoin(docs.select(col("doc_id").as("id2"), col("set").as("set2")))
      .filter(col("doc_id") < col("id2"))
    val cmp = pairs.select(
      graft.functions.VectorExpressions
        .sortedIntersectAtLeast(col("set"), col("set2"), lit(0)).as("fast"),
      size(array_intersect(col("set"), col("set2"))).as("ref"))
    assert(cmp.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("RollingMd5Min is bitwise-identical to the HOF formulation on real docs") {
    val docs = Tables.documents(spark, sfDir).limit(200)
    val cmp = docs.select(
      graft.functions.TextExpressions.rollingMd5Min(col("text"), 8).as("fast"),
      expr("array_min(transform(sequence(1, length(text)-7), i -> substr(md5(substring(text, i, 8)), 1, 8)))").as("ref"))
    assert(cmp.filter(col("fast") =!= col("ref")).count() === 0)
    assert(cmp.filter(col("fast").isNull).count() === 0)
  }

  test("RollingMd5Min: short strings null, multibyte path consistent") {
    import spark.implicits._
    val df = Seq("short", "exactly8", "ünïcødé-text-with-multibyte-chars").toDF("t")
    val got = df.select(graft.functions.TextExpressions.rollingMd5Min(col("t"), 8).as("f"))
      .collect().map(r => Option(r.getString(0)))
    assert(got(0).isEmpty)       // 5 chars < 8 → null
    assert(got(1).isDefined)     // one window
    assert(got(2).isDefined)
    // multibyte: equals the HOF reference too
    val cmp = df.select(
      graft.functions.TextExpressions.rollingMd5Min(col("t"), 8).as("fast"),
      expr("array_min(transform(sequence(1, greatest(length(t)-7, 1)), i -> substr(md5(substring(t, i, 8)), 1, 8)))").as("ref"))
      .filter(length(col("t")) >= 8)
    assert(cmp.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("HexPrefixToLong: all 64 SimHash bits equal the locate-based formula") {
    val h = Tables.documents(spark, sfDir).limit(300)
      .select(md5(col("text")).as("h"))
      .withColumn("hl", graft.functions.TextExpressions.hexPrefixToLong(col("h")))
    val checks = (0 until 64).map { j =>
      val viaLocate = expr(
        s"((locate(substr(h, ${1 + j / 4}, 1), '0123456789abcdef') - 1) >> ${j % 4}) & 1")
      val viaShift = shiftright(col("hl"), 4 * (15 - j / 4) + j % 4).bitwiseAND(1)
      sum(when(viaLocate =!= viaShift, 1).otherwise(0)).as(s"d$j")
    }
    val diffs = h.agg(checks.head, checks.tail: _*).head.toSeq.map(_.asInstanceOf[Long])
    assert(diffs.forall(_ == 0L), s"bit mismatches per j: $diffs")
  }

  test("SigMatchCount counts equal slots; estimate tracks exact Jaccard") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)), // 2 matches
      (Seq(5L, 5L), Seq(5L, 5L)),                 // 2 matches
      (Seq(1L), Seq(2L))                          // 0 matches
    ).toDF("a", "b")
    val got = df.select(graft.functions.VectorExpressions.sigMatches(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(2, 2, 0))
  }

  test("CharGrams/WordShingles are bitwise-identical to the HOF forms on real docs") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val grams = docs.select(
      graft.functions.TextExpressions.charGrams(col("text"), 3).as("k"),
      expr("transform(sequence(1, length(text)-2), i -> substring(text, i, 3))").as("h"))
      .collect()
    assert(grams.nonEmpty && grams.forall(r => r.getSeq[String](0) == r.getSeq[String](1)))
    val sh = docs.select(split(col("text"), " ").as("t"))
      .select(
        graft.functions.TextExpressions.wordShingles(col("t"), 5).as("k"),
        expr("transform(sequence(1, size(t)-4), i -> concat_ws(' ', slice(t, i, 5)))").as("h"))
      .collect()
    assert(sh.nonEmpty && sh.forall(r => r.getSeq[String](0) == r.getSeq[String](1)))
    // sub-size inputs: empty array, not descending-sequence nonsense
    import spark.implicits._
    val short = Seq("ab").toDF("text")
      .select(graft.functions.TextExpressions.charGrams(col("text"), 3).as("k"))
      .head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("sketch probe kernels are bitwise-identical to the udf path") {
    // the r9 item-7 contract: BloomMightContain / CmsEstimate (UTF8String
    // bytes, codegen) must agree row-for-row with the String-decoding udf
    // probes they replaced — spark-sketch hashes the UTF-8 bytes either way
    import org.apache.spark.sql.functions.udf
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val bloom = toks.filter(length(col("tok")) > 4).stat.bloomFilter("tok", 1 << 12, 0.01)
    val cms = toks.stat.countMinSketch("tok", 1e-3, 0.99, 42)
    val udfBloom = udf((t: String) => bloom.mightContainString(t))
    val udfCms = udf((t: String) => cms.estimateCount(t))
    val diff = toks
      .select(col("tok"),
        graft.functions.SketchExpressions.bloomMightContain(col("tok"), bloom).as("kb"),
        udfBloom(col("tok")).as("ub"),
        graft.functions.SketchExpressions.cmsEstimate(col("tok"), cms).as("kc"),
        udfCms(col("tok")).as("uc"))
      .filter(col("kb") =!= col("ub") || col("kc") =!= col("uc"))
      .count()
    assert(diff === 0L)
    // multibyte path: non-ASCII keys hash the same bytes too
    import spark.implicits._
    val uni = Seq("héllo wörld ", "日本語テキスト", "emoji 🎄 tail").toDF("tok")
    val uniDiff = uni
      .select(
        graft.functions.SketchExpressions.bloomMightContain(col("tok"), bloom).as("kb"),
        udfBloom(col("tok")).as("ub"),
        graft.functions.SketchExpressions.cmsEstimate(col("tok"), cms).as("kc"),
        udfCms(col("tok")).as("uc"))
      .filter(col("kb") =!= col("ub") || col("kc") =!= col("uc"))
      .count()
    assert(uniDiff === 0L)
  }

  test("vec_dot SQL registration works") {
    graft.functions.VectorExpressions.register(spark)
    Tables.embeddings(spark, sfDir).limit(5).createOrReplaceTempView("emb_t")
    val n = spark.sql(
      "SELECT vec_dot(embedding, embedding) AS d FROM emb_t WHERE vec_dot(embedding, embedding) > 0")
      .count()
    assert(n === 5)
  }
}
