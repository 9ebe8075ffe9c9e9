package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext._

class HllSpec extends AnyFunSuite {
  test("relative error within 3 standard errors at p=14") {
    val h = Hll(14)
    val n = 200000
    (0 until n).foreach(i => h.add(s"url-$i"))
    val se = 1.04 / math.sqrt(h.m.toDouble)
    val rel = math.abs(h.estimate.toDouble - n) / n
    assert(rel < 3 * se, s"rel err $rel vs bound ${3 * se}")
  }

  test("small-range linear counting is near-exact") {
    val h = Hll(12)
    (0 until 100).foreach(i => h.add(s"k$i"))
    assert(math.abs(h.estimate - 100L) <= 2)
  }

  test("duplicates don't inflate") {
    val h = Hll(12)
    (0 until 10000).foreach(i => h.add(s"k${i % 500}"))
    assert(math.abs(h.estimate.toDouble - 500) / 500 < 0.1)
  }

  test("merge == union; associative, commutative, idempotent on bytes") {
    def mk(r: Range): Hll = { val h = Hll(12); r.foreach(i => h.add(s"u$i")); h }
    val m1 = mk(0 until 4000).merge(mk(2000 until 6000))
    val all = mk(0 until 6000)
    assert(m1.toBytes.toSeq == all.toBytes.toSeq)
    val a = mk(0 until 1000); val b = mk(500 until 1500); val c = mk(1200 until 2500)
    val x = mk(0 until 1000).merge(mk(500 until 1500).merge(mk(1200 until 2500)))
    val y = mk(1200 until 2500).merge(mk(0 until 1000)).merge(mk(500 until 1500))
    assert(x.toBytes.toSeq == y.toBytes.toSeq)
    assert(a.merge(b).merge(c).merge(c).toBytes.toSeq == x.toBytes.toSeq)
  }

  test("bytes round trip") {
    val h = Hll(14)
    (0 until 5000).foreach(i => h.add(s"k$i"))
    val h2 = Hll.fromBytes(h.toBytes)
    assert(h2.estimate == h.estimate)
    assert(h2.toBytes.toSeq == h.toBytes.toSeq)
  }
}

class KllSpec extends AnyFunSuite {
  private def exactRank(data: Array[Double], v: Double): Long = data.count(_ <= v).toLong

  test("rank error within eps*n for k=200") {
    val k = Kll(200)
    val rnd = new scala.util.Random(42)
    val data = Array.fill(50000)(rnd.nextDouble() * 1000)
    data.foreach(k.update)
    assert(k.n == 50000)
    val sorted = data.sorted
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.95, 0.99)) {
      val est = k.quantile(q)
      val estRank = exactRank(sorted, est).toDouble / data.length
      assert(math.abs(estRank - q) < 0.03, s"q=$q estRank=$estRank")
    }
  }

  test("skewed data (log-normal-ish lengths)") {
    val k = Kll(200)
    val rnd = new scala.util.Random(1)
    val data = Array.fill(30000)(math.exp(4 + 1.5 * rnd.nextGaussian()))
    data.foreach(k.update)
    val sorted = data.sorted
    for (q <- Seq(0.5, 0.95, 0.99)) {
      val est = k.quantile(q)
      val estRank = exactRank(sorted, est).toDouble / data.length
      assert(math.abs(estRank - q) < 0.03, s"q=$q estRank=$estRank")
    }
  }

  test("merge keeps rank error") {
    val a = Kll(200); val b = Kll(200); val c = Kll(200)
    val rnd = new scala.util.Random(9)
    val all = Array.fill(30000)(rnd.nextDouble() * 100)
    all.zipWithIndex.foreach { case (v, i) =>
      (i % 3) match { case 0 => a.update(v); case 1 => b.update(v); case _ => c.update(v) }
    }
    a.merge(b.merge(c))
    assert(a.n == 30000)
    val sorted = all.sorted
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val estRank = exactRank(sorted, a.quantile(q)).toDouble / all.length
      assert(math.abs(estRank - q) < 0.04, s"q=$q estRank=$estRank")
    }
  }

  test("byte golden: 300k updates and a merge (level capacities cached per level count)") {
    val rnd = new scala.util.Random(300000L)
    val x = Kll(200); val y = Kll(200)
    (0 until 300000).foreach(_ => x.update(rnd.nextGaussian() * 1000))
    (0 until 50000).foreach(_ => y.update(rnd.nextDouble()))
    x.merge(y)
    assert(x.n == 350000)
    // the bytes of the sketch that recomputed every capacity on every update
    assert(TestUtil.md5hex(x.toBytes) == "154541aee26cb42fb70e1297b2333c77")
    // a sketch read back from bytes grows its levels exactly like the original
    val z = Kll.fromBytes(x.toBytes)
    (0 until 20000).foreach { i => x.update(i.toDouble); z.update(i.toDouble) }
    assert(z.toBytes.toSeq == x.toBytes.toSeq)
  }

  test("bytes round trip") {
    val k = Kll(200)
    (0 until 10000).foreach(i => k.update(i.toDouble))
    val k2 = Kll.fromBytes(k.toBytes)
    assert(k2.n == k.n)
    assert(k2.quantile(0.5) == k.quantile(0.5))
    assert(k2.toBytes.toSeq == k.toBytes.toSeq)
  }
}

class TDigestSpec extends AnyFunSuite {
  test("quantiles within 1% rank error on uniform data") {
    val td = TDigest(100)
    val rnd = new scala.util.Random(42)
    val data = Array.fill(50000)(rnd.nextDouble() * 1000)
    data.foreach(v => td.update(v))
    val sorted = data.sorted
    for (q <- Seq(0.01, 0.5, 0.95, 0.99)) {
      val est = td.quantile(q)
      val estRank = sorted.count(_ <= est).toDouble / data.length
      assert(math.abs(estRank - q) < 0.015, s"q=$q estRank=$estRank est=$est")
    }
  }

  test("tail quantiles are tight (k1 scale function)") {
    val td = TDigest(100)
    val rnd = new scala.util.Random(5)
    val data = Array.fill(100000)(math.exp(5 + rnd.nextGaussian()))
    data.foreach(v => td.update(v))
    val sorted = data.sorted
    for (q <- Seq(0.999, 0.0001)) {
      val est = td.quantile(q)
      val estRank = sorted.count(_ <= est).toDouble / data.length
      assert(math.abs(estRank - q) < 0.005, s"q=$q estRank=$estRank")
    }
  }

  test("merge keeps accuracy; cdf is monotone") {
    val parts = (0 until 4).map(_ => TDigest(100))
    val rnd = new scala.util.Random(11)
    val all = Array.fill(40000)(rnd.nextDouble() * 50)
    all.zipWithIndex.foreach { case (v, i) => parts(i % 4).update(v) }
    val merged = parts.reduce((a, b) => a.merge(b))
    val sorted = all.sorted
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val estRank = sorted.count(_ <= merged.quantile(q)).toDouble / all.length
      assert(math.abs(estRank - q) < 0.02, s"q=$q estRank=$estRank")
    }
    val cdfs = (0 to 50 by 5).map(v => merged.cdf(v.toDouble))
    assert(cdfs == cdfs.sorted)
  }

  test("bytes round trip") {
    val td = TDigest(100)
    (0 until 10000).foreach(i => td.update(i.toDouble))
    val td2 = TDigest.fromBytes(td.toBytes)
    assert(td2.quantile(0.5) == td.quantile(0.5))
    assert(td2.toBytes.toSeq == td.toBytes.toSeq)
  }
}
