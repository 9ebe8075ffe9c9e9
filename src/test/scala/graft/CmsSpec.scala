package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Golden/behavioral traces from /root/reference/tests/countminsketch_test.py. */
class CmsSpec extends AnyFunSuite {
  import TestUtil._

  private val keys = Seq(
    ("this is a test", 255L),
    ("this is another test", 189L),
    ("this is also a test", 16L),
    ("this is something to test", 5L))

  test("param derivations both directions (countminsketch_test.py:26-43)") {
    val cms = CountMinSketch.empty(1000, 5)
    assert(cms.confidence == 0.96875)
    assert(cms.errorRate == 0.002)
    val cms2 = CountMinSketch.fromConfidence(0.96875, 0.002)
    assert(cms2.width == 1000 && cms2.depth == 5)
  }

  test("add returns running count (countminsketch_test.py:76-92)") {
    val cms = CountMinSketch.empty(1000, 5)
    assert(cms.add("this is a test") == 1)
    assert(cms.add("this is a test") == 2)
    assert(cms.add("this is a test", 4) == 6)
    assert(cms.remove("this is a test") == 5)
    assert(cms.elementsAdded == 5)
  }

  test("check min/mean/mean-min all recover the workload (countminsketch_test.py:111-185)") {
    for (qt <- Seq(CmsQueryType.Min, CmsQueryType.Mean, CmsQueryType.MeanMin)) {
      val cms = CountMinSketch.empty(1000, 5, qt)
      keys.foreach { case (k, n) => assert(cms.add(k, n) == n) }
      keys.foreach { case (k, n) => assert(cms.check(k) == n, s"$qt $k") }
      assert(cms.elementsAdded == 465)
    }
    // mean-min with even depth (countminsketch_test.py:173-185)
    val cms6 = CountMinSketch.empty(1000, 6, CmsQueryType.MeanMin)
    keys.foreach { case (k, n) => assert(cms6.add(k, n) == n) }
    keys.foreach { case (k, n) => assert(cms6.check(k) == n) }
  }

  test("export md5 golden (countminsketch_test.py:187-203)") {
    val cms = CountMinSketch.empty(1000, 5)
    cms.add("this is a test", 100)
    assert(md5hex(cms.toBytes) == "fb1c39dd1a73f1ef0d7fc79f60fc028e")
  }

  test("bytes round trip") {
    val cms = CountMinSketch.empty(1000, 5)
    cms.add("this is a test", 100)
    val cms2 = CountMinSketch.fromBytes(cms.toBytes)
    assert(cms2.toBytes.toSeq == cms.toBytes.toSeq)
    assert(cms2.check("this is a test") == 100)
    assert(cms2.confidence == 0.96875 && cms2.errorRate == 0.002)
  }

  test("saturation: cells clamp at INT32, totals at INT64 (countminsketch_test.py:262-278)") {
    val cms = CountMinSketch.empty(1000, 5)
    cms.add("this is a test", Long.MaxValue)
    assert(cms.check("this is a test") == Int.MaxValue)
    assert(cms.elementsAdded == Long.MaxValue)

    val cms2 = CountMinSketch.empty(1000, 5)
    cms2.remove("this is a test", Long.MaxValue)
    cms2.remove("this is a test", Long.MaxValue)
    assert(cms2.check("this is a test") == Int.MinValue)
    assert(cms2.elementsAdded == Long.MinValue)
  }

  test("join doubles counts (countminsketch_test.py:304-324)") {
    val cms1 = CountMinSketch.empty(1000, 5)
    val cms2 = CountMinSketch.empty(1000, 5)
    keys.foreach { case (k, n) => cms1.add(k, n); cms2.add(k, n) }
    cms1.join(cms2)
    keys.foreach { case (k, n) => assert(cms1.check(k) == 2 * n) }
    assert(cms1.elementsAdded == 2 * 465)
  }

  test("join overflow is sticky (countminsketch_test.py:326-350)") {
    val cms = CountMinSketch.empty(1000, 5)
    cms.add("this is a test", (Int.MaxValue.toLong + 5) / 2)
    cms.join(cms)
    assert(cms.check("this is a test") == Int.MaxValue)
    assert(cms.elementsAdded == Int.MaxValue.toLong + 5) // 2*((2^31+4)/2)

    val cmsU = CountMinSketch.empty(1000, 5)
    cmsU.remove("this is a test", (Int.MaxValue.toLong + 5) / 2)
    cmsU.join(cmsU)
    assert(cmsU.check("this is a test") == Int.MinValue)
  }

  test("join guards on mismatched dimensions (countminsketch_test.py:379-433)") {
    val a = CountMinSketch.empty(1000, 5)
    val b = CountMinSketch.empty(1000, 4)
    assertThrows[CountMinSketchError](a.join(b))
  }

  test("join is associative and commutative on bytes") {
    def mk(seed: Int): CountMinSketch = {
      val c = CountMinSketch.empty(500, 5)
      (0 until 200).foreach(i => c.add(s"k${(i * seed) % 97}", (i % 7) + 1))
      c
    }
    val x1 = mk(1).join(mk(2).join(mk(3)))
    val x2 = mk(1).join(mk(2)).join(mk(3))
    val x3 = mk(3).join(mk(1)).join(mk(2))
    assert(x1.toBytes.toSeq == x2.toBytes.toSeq)
    assert(x1.toBytes.toSeq == x3.toBytes.toSeq)
  }

  test("bin index: the power-of-two mask equals the unsigned division, negative hashes included") {
    val rnd = new scala.util.Random(65536L)
    val hashes = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue, Long.MinValue + 1L) ++
      Seq.fill(4000)(rnd.nextLong())
    assert(hashes.count(_ < 0) > 1500)
    Seq(1, 2, 1024, 2048, 4096, 65536, 1000, 3, 65535).foreach { w =>
      val c = CountMinSketch.empty(w, 3)
      for (h <- hashes; i <- 0 until 3)
        assert(c.binIdx(h, i) == java.lang.Long.remainderUnsigned(h, w.toLong).toInt + i * w,
          s"width $w, hash $h, row $i")
    }
  }

  test("overcount bound: est in [true, true + eps*N] (CMS guarantee)") {
    val cms = CountMinSketch.empty(1000, 5)
    val rnd = new scala.util.Random(42)
    val trueCounts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    (0 until 20000).foreach { _ =>
      val k = s"key-${rnd.nextInt(2000)}"
      trueCounts(k) += 1
      cms.add(k)
    }
    val n = cms.elementsAdded
    val eps = cms.errorRate
    var violations = 0
    trueCounts.foreach { case (k, t) =>
      val est = cms.check(k)
      assert(est >= t, "CMS must never undercount")
      if (est > t + (eps * n).toLong) violations += 1
    }
    // the bound holds w.p. >= confidence per key
    assert(violations.toDouble / trueCounts.size < 1 - cms.confidence + 0.05)
  }
}

class HeavyHittersSpec extends AnyFunSuite {
  test("eviction trace with num_hitters=2 (countminsketch_test.py:589-617)") {
    val hh = HeavyHitters.empty(2, 1000, 5)
    hh.add("this is a test", 3)
    assert(hh.heavyHitters == Map("this is a test" -> 3L))
    hh.add("this is another test", 2)
    assert(hh.heavyHitters == Map("this is a test" -> 3L, "this is another test" -> 2L))
    hh.add("this is yet another test", 4)
    // evicts the smallest (2)
    assert(hh.heavyHitters == Map("this is a test" -> 3L, "this is yet another test" -> 4L))
  }

  test("mergeable extension: merged HH ⊇ exact top-k on disjoint streams") {
    val a = HeavyHitters.empty(3, 1000, 5)
    val b = HeavyHitters.empty(3, 1000, 5)
    (0 until 100).foreach(_ => a.add("big-a"))
    (0 until 50).foreach(_ => a.add("mid-a"))
    (0 until 90).foreach(_ => b.add("big-b"))
    (0 until 5).foreach(_ => b.add("tiny-b"))
    a.merge(b)
    val hh = a.heavyHitters
    assert(hh.contains("big-a") && hh.contains("big-b") && hh.contains("mid-a"))
    assert(hh("big-a") == 100 && hh("big-b") == 90)
  }
}

class StreamThresholdSpec extends AnyFunSuite {
  test("threshold dict trace (countminsketch_test.py:782-862)") {
    val st = StreamThreshold.empty(10, 1000, 5)
    (0 until 9).foreach(_ => st.add("k"))
    assert(st.meetsThreshold.isEmpty)
    st.add("k")
    assert(st.meetsThreshold == Map("k" -> 10L))
    st.add("k", 5)
    assert(st.meetsThreshold == Map("k" -> 15L))
    st.remove("k", 6)
    assert(st.meetsThreshold.isEmpty)
  }
}
