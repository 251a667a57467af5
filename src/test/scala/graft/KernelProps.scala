package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.functions.HashKernels
import graft.pipeline.ExcelIO

/** Property-based checks (SURVEY.md §5.2) over the PURE JVM kernels — no
  * SparkSession, so hundreds of generated cases run in milliseconds. The
  * algebraic properties here (MinHash distributes over union, Jaccard
  * symmetry/range, window-count bounds) are exactly what the oracle's
  * example-based checks cannot cover exhaustively.
  */
object KernelProps extends Properties("HashKernels") {

  private def longs(xs: Seq[Long]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(xs.toArray)
  private def toSeq(a: ArrayData): Seq[Long] = a.toLongArray().toSeq

  private val hashList: Gen[List[Long]] =
    Gen.listOfN(30, Gen.choose(0L, 1000000006L))
  private val word: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
  private val text: Gen[String] =
    Gen.listOfN(20, word).map(_.mkString(" "))

  property("colRef/colIndex roundtrip") =
    forAll(Gen.choose(0, 100000)) { j =>
      ExcelIO.colIndex(ExcelIO.colRef(j) + "1") == j
    }

  property("rollingHash lands in [0, P) and is deterministic") =
    forAll(text) { s =>
      val u = UTF8String.fromString(s)
      val h = HashKernels.rollingHash(u)
      h >= 0L && h < 1000000007L && h == HashKernels.rollingHash(u)
    }

  property("minhash signature has k entries, each the min over the affine family") =
    forAll(hashList.suchThat(_.nonEmpty)) { hs =>
      val sig = toSeq(HashKernels.minhashSig(longs(hs), 32))
      sig.length == 32 && sig.forall(_ >= 0L)
    }

  property("minhash distributes over union: sig(A++B) = elementwise min") =
    forAll(hashList, hashList) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val sa = toSeq(HashKernels.minhashSig(longs(a), 32))
        val sb = toSeq(HashKernels.minhashSig(longs(b), 32))
        val su = toSeq(HashKernels.minhashSig(longs(a ++ b), 32))
        su == sa.zip(sb).map { case (x, y) => math.min(x, y) }
      }
    }

  property("jaccardLong is symmetric, in [0,1], and 1 on self") =
    forAll(hashList, hashList) { (a, b) =>
      val (aa, bb) = (longs(a), longs(b))
      val j = HashKernels.jaccardLong(aa, bb)
      val jSym = HashKernels.jaccardLong(bb, aa)
      val self = if (a.nonEmpty) HashKernels.jaccardLong(aa, aa) == 1.0 else true
      j == jSym && j >= 0.0 && j <= 1.0 && self
    }

  property("containmentLong equals set algebra max(i/|A|, i/|B|), symmetric, 1 on self") =
    forAll(hashList, hashList) { (a, b) =>
      val (aa, bb) = (longs(a), longs(b))
      val c = HashKernels.containmentLong(aa, bb)
      val (sa, sb) = (a.toSet, b.toSet)
      val expected =
        if (sa.isEmpty || sb.isEmpty) 0.0
        else {
          val i = (sa intersect sb).size.toDouble
          math.max(i / sa.size, i / sb.size)
        }
      c == expected && c == HashKernels.containmentLong(bb, aa) &&
        (a.isEmpty || HashKernels.containmentLong(aa, aa) == 1.0)
    }

  property("windowHashSet yields at most len-n+1 distinct grams; empty below n") =
    forAll(hashList, Gen.choose(1, 40)) { (hs, n) =>
      val grams = toSeq(HashKernels.windowHashSet(longs(hs), n))
      if (hs.length < n) grams.isEmpty
      else grams.length <= hs.length - n + 1 && grams.distinct == grams
    }

  property("tokenHashes honors the token length bounds") =
    forAll(text, Gen.choose(1, 3), Gen.choose(4, 15)) { (s, lo, hi) =>
      val toks = s.split(" ").filter(t => t.length >= lo && t.length <= hi)
      val hs = toSeq(HashKernels.tokenHashes(UTF8String.fromString(s), lo, hi))
      hs.length == toks.length
    }

  property("simhash32 uses only 32 bits and is deterministic") =
    forAll(hashList.suchThat(_.nonEmpty)) { hs =>
      val h = HashKernels.simhash32(longs(hs))
      h >= 0L && h < (1L << 32) && h == HashKernels.simhash32(longs(hs))
    }

  property("simhashBits(60) uses only 60 bits and is deterministic") =
    forAll(hashList.suchThat(_.nonEmpty)) { hs =>
      val h = HashKernels.simhashBits(longs(hs), 60)
      h >= 0L && h < (1L << 60) && h == HashKernels.simhashBits(longs(hs), 60)
    }

  property("unitVector has norm 1 for nonzero input") =
    forAll(Gen.listOfN(8, Gen.choose(-100.0, 100.0))
      .suchThat(v => v.exists(_ != 0.0))) { v =>
      val u = HashKernels.unitVector(ArrayData.toArrayData(v.toArray))
        .toDoubleArray()
      math.abs(u.map(x => x * x).sum - 1.0) < 1e-9
    }

  property("lshBands emits `bands` fixed-width keys") =
    forAll(hashList.suchThat(_.nonEmpty)) { hs =>
      val sig = HashKernels.minhashSig(longs(hs), 32)
      toSeq(HashKernels.lshBands(sig, 8, 4)).length == 8
    }

  property("markerHits == per-language filter counts (shared words count for each)") =
    forAll(Gen.listOf(Gen.oneOf(
      graft.functions.TextKernels.allMarkers ++ Seq("zz", "qq", "la", "de")))) { ws =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(UTF8String.fromString).toArray[Any])
      val got = graft.functions.TextKernels.markerHits(arr).toLongArray().toSeq
      val want = Seq("de", "en", "es", "fr").map(l =>
        ws.count(graft.functions.TextKernels.langMarkers(l).contains).toLong)
      got == want
    }

  property("tfMap counts every token exactly (== Scala groupBy)") =
    forAll(Gen.listOf(word)) { ws =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(UTF8String.fromString).toArray[Any])
      val m = graft.functions.TextKernels.tfMap(arr)
      val got = (0 until m.numElements()).map(i =>
        m.keyArray().getUTF8String(i).toString ->
          m.valueArray().getLong(i)).toMap
      got == ws.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    }

  // ---- window-coverage interval kernels vs brute-force window sets ----
  import graft.functions.TextKernels
  private def bruteWindows(ps: Seq[Int], t: Int, w: Int): Set[Long] =
    ps.flatMap(p => math.max(1, p - w + 1).toLong to
      math.min(p, math.max(t - w + 1, 1)).toLong).toSet
  private val docGen = for {
    t <- Gen.choose(1, 200)
    n <- Gen.choose(1, 30)
    ps <- Gen.listOfN(n, Gen.choose(1, t))
    w <- Gen.choose(1, 120)
  } yield (ps.distinct.sorted, t, w)

  property("windowCover union == brute-force covered-window set") =
    forAll(docGen) { case (ps, t, w) =>
      val iv = TextKernels.windowCover(ps.toArray, t, w)
      val expanded = iv.grouped(2).flatMap(a => a(0) to a(1)).toSet
      expanded == bruteWindows(ps, t, w) &&
        TextKernels.intervalTotal(iv) == expanded.size.toLong
    }

  property("intervalIntersect == brute-force set intersection size") =
    forAll(docGen, docGen) { case ((psA, tA, w), (psB, _, _)) =>
      // same doc: same t and w for both words
      val psB2 = psB.filter(_ <= tA)
      (psB2.nonEmpty) ==> {
        val a = TextKernels.windowCover(psA.toArray, tA, w)
        val b = TextKernels.windowCover(psB2.toArray, tA, w)
        TextKernels.intervalIntersect(a, b) ==
          (bruteWindows(psA, tA, w) & bruteWindows(psB2, tA, w)).size.toLong
      }
    }
}
