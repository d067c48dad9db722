package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression, UnaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, NullType, ShortType, StringType}

/** Native Catalyst expressions for the vector/LSH packages (SURVEY §7.3 "v2").
  *
  * The higher-order-function dot product (`aggregate(zip_with(a,b,*),0,+)`)
  * is semantically right but `ArrayAggregate`/`ZipWith` are CodegenFallback —
  * every element goes through an interpreted lambda plus boxing. For the
  * pair-wise operators (Q54 cosine top-k, x07 near-dup, x08 IVF) the dot
  * product IS the workload, so it gets a first-class `Expression` with
  * `doGenCode`: a tight primitive loop inside whole-stage codegen, no
  * allocation, no virtual calls.
  *
  * FP contract: the sum is a single double accumulator folded left-to-right
  * over `(double)a[i] * (double)b[i]` — exactly the association order of the
  * HOF formulation and of DuckDB's `list_dot_product` twin, so `round(.,4)`
  * oracle hashes are unchanged (asserted bitwise in FunctionsSpec).
  *
  * Inputs must be same-length ARRAY<FLOAT> with no null elements (the
  * embeddings fixture guarantees both; see FIXTURES.md).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** The input rule of the two ARRAY<BIGINT> signature kernels below: arrays
  * of integral elements widen to ARRAY<BIGINT> (the analyzer inserts the
  * cast), anything else fails at analysis with the function's name. A bare
  * ARRAY<BIGINT> expectation is not enough: the coercion rules would cast
  * an ARRAY<DOUBLE> to it and truncate every element. */
trait LongArrayInputs extends ImplicitCastInputTypes { self: BinaryExpression =>

  override def inputTypes: Seq[DataType] = children.map(_.dataType match {
    case ArrayType(ByteType | ShortType | IntegerType | LongType, _) | NullType =>
      ArrayType(LongType)
    case other => other // left uncast for the check below to reject
  })

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case Seq(ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case ts => TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes two arrays of integral elements; got ${ts.map(_.catalogString).mkString(", ")}")
  }
}

/** Count of positions where two ARRAY<BIGINT> agree — the MinHash-signature
  * match counter. `matches / numPerm` is an unbiased estimate of Jaccard
  * similarity, evaluated here as a codegen'd primitive loop so that
  * estimating J over millions of candidate pairs costs ~64 long-compares
  * each, no interpreted lambdas and no per-row allocation. This is the
  * estimate-only path for corpora where an approximate Jaccard suffices
  * (the exact path is [[SortedIntersectAtLeast]]; on THIS fixture the true
  * pair density makes exact verification affordable, so the contract query
  * uses exact — but at 100 TB an estimate-first pipeline with
  * `sigMatches/64 ≥ t+ε` can skip most exact checks).
  */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayInputs {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_match_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED, distinct-element arrays via a
  * codegen'd two-pointer merge scan — O(|a|+|b|) primitive compares, no
  * per-row hash-set allocation. This replaces `array_intersect` (which
  * builds an OpenHashSet per pair, interpreted) in the exact-Jaccard
  * verify of [[MinHashLSH.verify]], where millions of candidate pairs each
  * need an intersection count: token sets are hashed once per document and
  * pre-sorted, so the per-pair cost is a branch-predictable compare loop
  * inside whole-stage codegen.
  *
  * Element type: ARRAY<BIGINT> (xxhash64 token sets) or ARRAY<INT>
  * (dictionary-encoded sets — for a bounded universe such as char n-grams
  * the 4-byte width halves the verify bytes per candidate). Both arrays
  * must share it; the generated loop reads it from the children.
  *
  * Early exit: returns the exact count when the pair can still reach
  * `minReq` (the INT third argument), or -1 the moment `count-so-far +
  * min(remaining_a, remaining_b) < minReq` proves it cannot.
  * Threshold-verify workloads (keep pairs with Jaccard ≥ t) reject almost
  * every candidate — x02's fixture verifies ~10M candidates for ~900
  * survivors — and a failing merge stops as soon as failure is certain
  * (≈40-60% through for typical J≈0.3-0.5 pairs vs t=0.7) instead of
  * draining both arrays. A pair that can still pass is NEVER exited early,
  * so downstream `j ≥ t` filters see bitwise-identical survivors provided
  * `minReq` is a valid lower bound on the intersection of any passing pair;
  * callers derive it as `floor(t·(|a|+|b|)/(1+t)) − 1` — the algebraic
  * bound minus one whole element, which makes double-rounding in the
  * derivation irrelevant. Non-positive `minReq` disables the exit: the
  * plain count (SQL `sorted_intersect_count`).
  */
case class SortedIntersectAtLeast(first: Expression, second: Expression,
                                  third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = IntegerType
  // SQL callers keep the name they called (NanosRangePushdown tags it)
  override def prettyName: String =
    getTagValue(FunctionRegistry.FUNC_ALIAS).getOrElse("sorted_intersect_at_least")

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(x, _), ArrayType(y, _), IntegerType)
          if x == y && (x == IntegerType || x == LongType) => TypeCheckResult.TypeCheckSuccess
      case (x, y, m) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes two sorted arrays of one element type, INT or BIGINT, " +
          s"and an INT bound; got ${x.catalogString}, ${y.catalogString}, ${m.catalogString}")
    }

  private def elementType: DataType = first.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any, m: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val minReq = m.asInstanceOf[Int]
    val wide = elementType == LongType
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val remMin = math.min(na - i, nb - j)
      if (c + remMin < minReq) return -1
      val xv = if (wide) x.getLong(i) else x.getInt(i).toLong
      val yv = if (wide) y.getLong(j) else y.getInt(j).toLong
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = elementType
    val jt = CodeGenerator.javaType(et)
    nullSafeCodeGen(ctx, ev, (a, b, m) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val rem = ctx.freshName("rem")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $na && $j < $nb) {
         |  final int $rem = ($na - $i < $nb - $j) ? $na - $i : $nb - $j;
         |  if ($c + $rem < $m) { $c = -1; break; }
         |  final $jt $xv = ${CodeGenerator.getValue(a, et, i)};
         |  final $jt $yv = ${CodeGenerator.getValue(b, et, j)};
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SortedIntersectAtLeast =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** splitmix64 finalizer over `child + (index+1)·φ` — the per-permutation
  * MinHash mixer. 4 wrapping long ops per (row, permutation) instead of an
  * xxhash64 round on the 64×|tokens| signature hot loop. Must be a native
  * expression: the mixer NEEDS wrapping 64-bit arithmetic, which ANSI-mode
  * Column `+`/`*` (Spark 4 default) rejects as overflow; Java arithmetic
  * wraps by definition. Any finalizer-quality mixer preserves the MinHash
  * estimator guarantees, and the exact verify makes precise candidate
  * membership irrelevant beyond the recall math (MinHashLSH scaladoc). */
case class SplitMix64(child: Expression, index: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "splitmix64"

  private val gamma: Long = 0x9E3779B97F4A7C15L * (index + 1)

  override def nullSafeEval(v: Any): Any = {
    var z = v.asInstanceOf[Long] + gamma
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val z = ctx.freshName("z")
      s"""
         |long $z = $c + ${gamma}L;
         |$z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |$z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |${ev.value} = $z ^ ($z >>> 31);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SplitMix64 =
    copy(child = newChild)
}

/** The whole MinHash LSH feature extractor as ONE per-row kernel:
  * ARRAY<STRING> tokens → ARRAY<BIGINT> band keys, bitwise-equal to the
  * explode → `xxhash64(tok)` → per-permutation [[SplitMix64]] min-aggregate
  * → `xxhash64(slots)` band-hash pipeline it can replace (asserted in
  * MinHashLSHSpec), via the same public XXH64/XxHash64Function primitives
  * Spark's `xxhash64` evaluates with (seed 42).
  *
  * Why: the agg formulation shuffles an exploded (id, tokenHash) row per
  * token to build signatures — correct, map-side combined, and the right
  * shape when single documents are huge. But signatures are a PER-ROW
  * function of the token multiset (min over duplicates = min over the
  * set, so the explode path's dedup is irrelevant to the result), so for
  * normal corpora the whole stage can run inside the scan with ZERO
  * shuffle — and in a stream, per arriving row. Token-loop-outer /
  * permutation-loop-inner: each token is hashed once, then 4 wrapping ops
  * per permutation update the running minima.
  *
  * Returns null for empty token arrays — the explode path emits no rows
  * for those ids, so callers filter nulls to keep the semantics aligned.
  */
case class MinHashBandKeys(child: Expression, numPerm: Int, rows: Int)
    extends UnaryExpression {
  require(numPerm % rows == 0, "numPerm must be divisible by rows")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_band_keys"

  private val bands = numPerm / rows

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mh = Array.fill(numPerm)(Long.MaxValue)
    var t = 0
    while (t < n) {
      val s = arr.getUTF8String(t)
      val th = XxHash64Function.hash(s, StringType, 42L)
      var i = 0
      while (i < numPerm) {
        var z = th + 0x9E3779B97F4A7C15L * (i + 1)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= (z >>> 31)
        if (z < mh(i)) mh(i) = z
        i += 1
      }
      t += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var j = b * rows
      while (j < (b + 1) * rows) { h = XXH64.hashLong(mh(j), h); j += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
    val fn = "org.apache.spark.sql.catalyst.expressions.XxHash64Function$.MODULE$"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val mh = ctx.freshName("mh")
      val t = ctx.freshName("t"); val s = ctx.freshName("s")
      val th = ctx.freshName("th"); val i = ctx.freshName("i")
      val z = ctx.freshName("z"); val out = ctx.freshName("out")
      val b = ctx.freshName("b"); val h = ctx.freshName("h")
      val j = ctx.freshName("j")
      s"""
         |final int $n = $a.numElements();
         |if ($n == 0) { ${ev.isNull} = true; } else {
         |  final long[] $mh = new long[$numPerm];
         |  java.util.Arrays.fill($mh, Long.MAX_VALUE);
         |  for (int $t = 0; $t < $n; $t++) {
         |    final org.apache.spark.unsafe.types.UTF8String $s = $a.getUTF8String($t);
         |    final long $th = $fn.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $i = 0; $i < $numPerm; $i++) {
         |      long $z = $th + (0x9E3779B97F4A7C15L * ($i + 1));
         |      $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |      $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |      $z ^= ($z >>> 31);
         |      if ($z < $mh[$i]) $mh[$i] = $z;
         |    }
         |  }
         |  final long[] $out = new long[$bands];
         |  for (int $b = 0; $b < $bands; $b++) {
         |    long $h = 42L;
         |    for (int $j = $b * $rows; $j < ($b + 1) * $rows; $j++) {
         |      $h = $xxh.hashLong($mh[$j], $h);
         |    }
         |    $out[$b] = $h;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

/** First index at which two ARRAY<BIGINT> agree, -1 if none — the LSH
  * first-matching-band dedup kernel. A pair colliding in k of the b band
  * buckets appears k times in the band self-join; keeping only the rows
  * where the join band equals the pair's FIRST hash-equal band emits each
  * pair exactly once, replacing a |collisions|-row `distinct()` shuffle
  * (20-30× the pair count on a dense corpus) with a map-side filter.
  */
case class FirstMatchIndex(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayInputs {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_match_index"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) { ${ev.value} = $i; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FirstMatchIndex =
    copy(left = newLeft, right = newRight)
}

/** Signed-random-projection (SRP) sketch of an ARRAY<FLOAT>, emitted directly
  * as banded LSH keys: `numBits` hyperplane sign bits packed into
  * `numBits / bandBits` longs of `bandBits` bits each — one codegen-friendly
  * eval per row instead of `numBits` separate dot-product expressions (512
  * projections would blow past the JVM's 64 KB method limit as individual
  * codegen'd columns; here the loop lives in one compiled kernel).
  *
  * Hyperplanes are Rademacher ±1 vectors derived from splitmix64 (public
  * finalizer constants) over `(seed, plane·dim + d)` — fully deterministic
  * across JVMs/tasks with no `java.util.Random`, and ±1 components make the
  * projection an exact float-sum (no Gaussian sampling needed: Rademacher
  * projections satisfy the same sign-collision bound P[bit differs] = θ/π
  * up to lower-order terms, e.g. Achlioptas 2003's database-friendly
  * projections). The matrix is built lazily once per (task, dim) and reused
  * for every row.
  *
  * Recall math (θ = arccos cos, p = 1 − θ/π per-bit agreement): a pair is a
  * candidate iff some band of `bandBits` bits agrees exactly, so
  * P(candidate) = 1 − (1 − p^bandBits)^bands. With the default 512 bits in
  * 32 bands of 16: cos 0.99 → miss ~1e-9, cos 0.95 → miss 1.7e-3, cos 0.90
  * → miss 6e-2, while a random pair (cos ≈ 0) collides with only 5e-4 — the
  * sign-collision curve θ/π is shallower than MinHash's Jaccard curve, so
  * SRP banding cannot reach MinHash's e-15 guarantees at the threshold
  * itself; the miss mass concentrates AT the 0.9 boundary and vanishes in
  * the true-duplicate regime (≥ 0.95) that embedding dedup targets.
  * [[graft.operators.VectorOps.x07EmbedNearDup]] remains the exactness
  * baseline.
  */
case class SignSketchBands(child: Expression, numBits: Int, bandBits: Int, seed: Long)
    extends UnaryExpression {
  require(numBits % bandBits == 0, "numBits must be divisible by bandBits")
  require(bandBits > 0 && bandBits < 64, "bandBits must fit a long")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_sketch_bands"

  /** splitmix64 finalizer — public-domain constants (Steele et al. 2014). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** (dim, flattened numBits×dim ±1 matrix); immutable pair published via a
    * single reference write — safe to race, builds are identical. */
  @transient private var cache: (Int, Array[Float]) = _

  private def planes(dim: Int): Array[Float] = {
    val c = cache
    if (c != null && c._1 == dim) return c._2
    val p = new Array[Float](numBits * dim)
    var i = 0
    while (i < p.length) {
      p(i) = if ((mix(seed + i) & 1L) == 0L) 1.0f else -1.0f
      i += 1
    }
    cache = (dim, p)
    p
  }

  /** Called from both interpreted eval and generated code. */
  def sketch(arr: ArrayData): ArrayData = {
    val dim = arr.numElements()
    val p = planes(dim)
    val keys = new Array[Long](numBits / bandBits)
    var j = 0
    while (j < numBits) {
      var s = 0.0
      var i = 0
      val off = j * dim
      while (i < dim) { s += arr.getFloat(i).toDouble * p(off + i); i += 1 }
      if (s > 0) keys(j / bandBits) |= 1L << (j % bandBits)
      j += 1
    }
    new GenericArrayData(keys)
  }

  override def nullSafeEval(a: Any): Any = sketch(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signSketch", this, classOf[SignSketchBands].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.sketch($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): SignSketchBands =
    copy(child = newChild)
}

object VectorExpressions {

  /** Default SRP shape for cosine-0.9 near-dup banding — see the
    * [[SignSketchBands]] scaladoc for the recall curve these give. */
  val SketchBits  = 512
  val SketchBand  = 16
  val SketchSeed  = 0x5eed5eedL

  /** Column-API entry: banded SRP sketch keys for an ARRAY<FLOAT> column. */
  def signSketchBands(v: Column, numBits: Int = SketchBits,
                      bandBits: Int = SketchBand, seed: Long = SketchSeed): Column =
    Bridge.column(SignSketchBands(Bridge.expression(v), numBits, bandBits, seed))

  /** Column-API entry: codegen'd dot product over two ARRAY<FLOAT> columns. */
  def vecDot(a: Column, b: Column): Column =
    Bridge.column(FloatDotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** cos(a,b) = dot/(|a|·|b|) with the identical expression tree shape as the
    * HOF formulation — only the dot kernel differs. */
  def vecCosine(a: Column, b: Column): Column =
    vecDot(a, b) / (sqrt(vecDot(a, a)) * sqrt(vecDot(b, b)))

  /** Codegen'd per-position match count over two ARRAY<BIGINT> columns. */
  def sigMatches(a: Column, b: Column): Column =
    Bridge.column(SigMatchCount(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd first index where two ARRAY<BIGINT> agree (-1 if none). */
  def firstMatchIndex(a: Column, b: Column): Column =
    Bridge.column(FirstMatchIndex(Bridge.expression(a), Bridge.expression(b)))

  /** Early-exit intersect over two sorted ARRAY<BIGINT> or ARRAY<INT>: exact
    * count, or -1 once the pair provably cannot reach `minReq` (INT column;
    * `lit(0)` for the plain count). */
  def sortedIntersectAtLeast(a: Column, b: Column, minReq: Column): Column =
    Bridge.column(SortedIntersectAtLeast(
      Bridge.expression(a), Bridge.expression(b), Bridge.expression(minReq)))

  /** splitmix64-mixed permutation `i` of a 64-bit hash column. */
  def splitmix64(c: Column, i: Int): Column =
    Bridge.column(SplitMix64(Bridge.expression(c), i))

  /** Fused per-row MinHash LSH band keys over an ARRAY<STRING> column. */
  def minhashBandKeys(toks: Column, numPerm: Int, rows: Int): Column =
    Bridge.column(MinHashBandKeys(Bridge.expression(toks), numPerm, rows))

  /** SQL surface: `SELECT vec_dot(e1, e2)`. Idempotent per session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => FloatDotProduct(children(0), children(1)))
}
