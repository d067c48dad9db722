package graft

import graft.functions.{FloatDotProduct, SigMatchCount, SignSketchBands, SortedIntersectAtLeast}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
import org.scalacheck.{Gen, Prop, Properties}

/** Property-based checks (SURVEY §5.2.3) for the codegen kernels, evaluated
  * through the interpreted `eval` path against straightforward Scala
  * references over arbitrary inputs. The codegen path is exercised against
  * real data in FunctionsSpec; these pin the algebra over the full input
  * space (empty arrays, unequal lengths, extreme values, duplicates).
  */
object KernelProps extends Properties("graft.kernels") {

  private def floatArr(a: Seq[Float]) = Literal.create(a, ArrayType(FloatType))
  private def longArr(a: Seq[Long]) = Literal.create(a, ArrayType(LongType))

  private val genFloats = Gen.listOf(Gen.chooseNum(-1e6f, 1e6f))
  private val genLongs = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))

  property("FloatDotProduct == left-fold of double products over min length") =
    Prop.forAll(genFloats, genFloats) { (a, b) =>
      val got = FloatDotProduct(floatArr(a), floatArr(b)).eval(null)
      val expected = a.zip(b)
        .map { case (x, y) => x.toDouble * y.toDouble }
        .foldLeft(0.0)(_ + _)
      // bitwise compare: the kernel must reproduce the exact fold
      got.asInstanceOf[Double].compareTo(expected) == 0
    }

  // the count form (SQL's sorted_intersect_count): the one intersection
  // kernel with its early exit off (bound 0)
  private def count(a: Literal, b: Literal) =
    SortedIntersectAtLeast(a, b, Literal(0)).eval(null)

  property("SortedIntersectCount == set intersection size on sorted distinct arrays") =
    Prop.forAll(genLongs, genLongs) { (a, b) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      val got = count(longArr(sa), longArr(sb))
      got == sa.toSet.intersect(sb.toSet).size
    }

  property("SortedIntersectCount is symmetric") =
    Prop.forAll(genLongs, genLongs) { (a, b) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      count(longArr(sa), longArr(sb)) == count(longArr(sb), longArr(sa))
    }

  property("SortedIntersectCount with itself == array size (Jaccard(x,x)=1)") =
    Prop.forAll(genLongs) { a =>
      val sa = a.distinct.sorted
      count(longArr(sa), longArr(sa)) == sa.size
    }

  private val genMinReq = Gen.chooseNum(-5, 200)

  property("SortedIntersectAtLeast: exact count whenever it reaches minReq, -1 only below") =
    Prop.forAll(genLongs, genLongs, genMinReq) { (a, b, m) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      val exact = sa.toSet.intersect(sb.toSet).size
      val got = SortedIntersectAtLeast(longArr(sa), longArr(sb), Literal(m)).eval(null)
      if (exact >= m) got == exact else got == exact || got == -1
    }

  property("SortedIntersectAtLeast: non-positive minReq degenerates to the plain kernel") =
    Prop.forAll(genLongs, genLongs, Gen.chooseNum(-5, 0)) { (a, b, m) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      SortedIntersectAtLeast(longArr(sa), longArr(sb), Literal(m)).eval(null) ==
        sa.toSet.intersect(sb.toSet).size
    }

  private val genInts = Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue))
  private def intArr(a: Seq[Int]) =
    Literal.create(a, ArrayType(org.apache.spark.sql.types.IntegerType))

  property("SortedIntersectAtLeast over INT: exact count whenever it reaches minReq, -1 only below") =
    Prop.forAll(genInts, genInts, genMinReq) { (a, b, m) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      val exact = sa.toSet.intersect(sb.toSet).size
      val got = SortedIntersectAtLeast(intArr(sa), intArr(sb), Literal(m)).eval(null)
      if (exact >= m) got == exact else got == exact || got == -1
    }

  property("SortedIntersectAtLeast: INT and BIGINT inputs of the same values agree for every minReq") =
    Prop.forAll(genInts, genInts, genMinReq) { (a, b, m) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      SortedIntersectAtLeast(intArr(sa), intArr(sb), Literal(m)).eval(null) ==
        SortedIntersectAtLeast(longArr(sa.map(_.toLong)), longArr(sb.map(_.toLong)),
          Literal(m)).eval(null)
    }

  property("SigMatchCount == positionwise equality count over min length") =
    Prop.forAll(genLongs, genLongs) { (a, b) =>
      val got = SigMatchCount(longArr(a), longArr(b)).eval(null)
      got == a.zip(b).count { case (x, y) => x == y }
    }

  property("SigMatchCount with itself == length (estimated J of identical sets = 1)") =
    Prop.forAll(genLongs) { a =>
      SigMatchCount(longArr(a), longArr(a)).eval(null) == a.size
    }

  property("FirstMatchIndex == index of first positionwise match, -1 if none") =
    Prop.forAll(genLongs, genLongs) { (a, b) =>
      val got = graft.functions.FirstMatchIndex(longArr(a), longArr(b)).eval(null)
      val expected = a.zip(b).indexWhere { case (x, y) => x == y }
      got == expected
    }

  // bounded magnitudes + bounded dim so doubling can't overflow (the
  // scale-invariance property below relies on exact ×2 float arithmetic)
  private val genVec = Gen.chooseNum(1, 64).flatMap(d =>
    Gen.listOfN(d, Gen.chooseNum(-1e3f, 1e3f)))

  private def sketchOf(v: Seq[Float], numBits: Int = 64, bandBits: Int = 16,
                       seed: Long = 42L): Seq[Long] = {
    val got = SignSketchBands(floatArr(v), numBits, bandBits, seed).eval(null)
    got.asInstanceOf[ArrayData].toLongArray().toSeq
  }

  property("SignSketchBands: deterministic across fresh instances (plane cache rebuilt)") =
    Prop.forAll(genVec) { v => sketchOf(v) == sketchOf(v) }

  property("SignSketchBands: numBits/bandBits keys, each within bandBits bits") =
    Prop.forAll(genVec) { v =>
      val ks = sketchOf(v)
      ks.size == 4 && ks.forall(k => k >= 0L && k < (1L << 16))
    }

  property("SignSketchBands: invariant under positive scaling (×2 is exact in IEEE)") =
    Prop.forAll(genVec) { v => sketchOf(v) == sketchOf(v.map(_ * 2.0f)) }

  property("SignSketchBands: seed changes the sketch (planes actually depend on seed)") =
    Prop.forAll(genVec.suchThat(_.exists(_ != 0.0f))) { v =>
      // 64 bits drawn from independent ±1 planes: collision across two seeds
      // is astronomically unlikely for any nonzero vector
      sketchOf(v, seed = 1L) != sketchOf(v, seed = 2L)
    }
}
