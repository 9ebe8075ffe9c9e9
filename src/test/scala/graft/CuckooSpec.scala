package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Goldens from /root/reference/tests/cuckoo_test.py / countingcuckoo_test.py. */
class CuckooSpec extends AnyFunSuite {
  import TestUtil._

  test("export md5 golden: default filter + str(0..999) (cuckoo_test.py:248-257)") {
    val c = CuckooFilter()
    (0 until 1000).foreach(i => c.add(i.toString))
    assert(md5hex(c.toBytes) == "1371760d4ee9ccbe83e0144919750140")
  }

  test("error-rate sizing: eps=1e-5, b=4 -> 20 fingerprint bits (cuckoo.py:518-524)") {
    val c = CuckooFilter.withErrorRate(1e-5)
    assert(c.fingerprintSizeBits == 20)
  }

  test("export md5 golden: eps=1e-5 + str(0..999)") {
    val c = CuckooFilter.withErrorRate(1e-5)
    (0 until 1000).foreach(i => c.add(i.toString))
    assert(md5hex(c.toBytes) == "3c693508d1a3acd819310fd0c11dc906")
  }

  test("membership + dedup + remove") {
    val c = CuckooFilter(capacity = 1000)
    (0 until 100).foreach(i => c.add(s"k$i"))
    (0 until 100).foreach(i => assert(c.check(s"k$i")))
    val before = c.elementsAdded
    c.add("k0") // dedup: no-op
    assert(c.elementsAdded == before)
    assert(c.remove("k0"))
    assert(!c.check("k0"))
    assert(!c.remove("absent"))
  }

  test("auto-expand under load (cuckoo_test.py:316-333)") {
    val c = CuckooFilter(capacity = 100, bucketSize = 2, maxSwaps = 10)
    (0 until 375).foreach(i => c.add(i.toString))
    assert(c.capacity >= 200)
    (0 until 375).foreach(i => assert(c.check(i.toString)))
  }

  test("full error without auto-expand (cuckoo_test.py:177-186)") {
    val c = CuckooFilter(capacity = 10, bucketSize = 2, maxSwaps = 5, autoExpand = false)
    assertThrows[CuckooFilterFullException] {
      (0 until 100).foreach(i => c.add(i.toString))
    }
  }

  test("bucket indices: the power-of-two mask equals the unsigned remainder, also after expand()") {
    val rnd = new scala.util.Random(131072L)
    val fps = Seq(0, 1, -1, Int.MinValue, Int.MaxValue, Int.MinValue + 1) ++ Seq.fill(3000)(rnd.nextInt())
    assert(fps.count(_ < 0) > 1000)
    // the reference: fp mod capacity, and fnv-1a-64 of the fingerprint's decimal string mod capacity
    def reference(fp: Int, capacity: Int): (Int, Int) = {
      val u = fp & 0xffffffffL
      ((u % capacity).toInt,
        java.lang.Long.remainderUnsigned(graft.hash.Fnv.fnv1a64(u.toString, 0), capacity.toLong).toInt)
    }
    Seq(1, 2, 1024, 1 << 17, 1000, 3, 65535).foreach { cap =>
      val c = new CuckooFilter(cap, 4, 500, 2, true, 32)
      val cc = new CountingCuckooFilter(cap, 4, 500, 2, true, 32)
      Seq(cap, 2 * cap).foreach { expected =>
        assert(c.capacity == expected && cc.capacity == expected)
        fps.foreach { fp =>
          assert(c.indicesFromFingerprint(fp) == reference(fp, expected), s"cuckoo capacity $expected, fp $fp")
          assert(cc.indicesFromFingerprint(fp) == reference(fp, expected), s"counting capacity $expected, fp $fp")
        }
        if (expected == cap) { c.expand(); cc.expand() }
      }
    }
  }

  test("bytes round trip") {
    val c = CuckooFilter()
    (0 until 500).foreach(i => c.add(i.toString))
    val c2 = CuckooFilter.fromBytes(c.toBytes)
    assert(c2.toBytes.toSeq == c.toBytes.toSeq)
    assert(c2.capacity == c.capacity && c2.elementsAdded == c.elementsAdded)
    (0 until 500).foreach(i => assert(c2.check(i.toString)))
  }

  test("merge extension unions fingerprint sets") {
    val a = CuckooFilter(capacity = 2000)
    val b = CuckooFilter(capacity = 2000)
    (0 until 300).foreach(i => a.add(s"a$i"))
    (0 until 300).foreach(i => b.add(s"b$i"))
    a.mergeFrom(b)
    (0 until 300).foreach { i => assert(a.check(s"a$i")); assert(a.check(s"b$i")) }
  }

  // byte goldens through kicks, expansion and merge: a storage-layout change
  // must keep insertion order, the seeded kicks and expansion byte for byte
  test("kick-and-expansion byte golden: 1,000 buckets fed 20,000 keys expand to 8,000") {
    val c = new CuckooFilter(1000, 4, 500, 2, true, 32)
    (0 until 20000).foreach(i => c.add(i.toString))
    assert(c.capacity == 8000 && c.elementsAdded == 20000)
    assert(md5hex(c.toBytes) == "5ce04b2a180b0cb22efa56359569bd2a")
  }

  test("merge-with-expansion byte golden") {
    val a = new CuckooFilter(1000, 4, 500, 2, true, 32)
    val b = new CuckooFilter(1000, 4, 500, 2, true, 32)
    (0 until 5000).foreach { i => a.add(s"a$i"); b.add(s"a${i * 3}") }
    a.mergeFrom(b)
    assert(a.capacity == 4000 && a.elementsAdded == 8333)
    assert(md5hex(a.toBytes) == "54722b342eae0724531fa55244cca1ad")
  }

  test("Java-serialized 2^17 x 4, 32-bit filter stays within 1.3x of its export") {
    val c = new CuckooFilter(1 << 17, 4, 500, 2, true, 32)
    (0 until 300000).foreach(i => c.add(s"member-$i"))
    assert(c.capacity == (1 << 17) && c.loadFactor > 0.55)
    val exported = c.toBytes.length
    val serialized = CuckooSerde.javaSerializedSize(c)
    assert(serialized <= 1.3 * exported, s"serialized $serialized B vs export $exported B")
  }

  test("a homeless Int.MinValue fingerprint expands the filter or throws; it is never dropped") {
    // capacity 1, bucket size 1, one swap: the second add kicks
    // Int.MinValue out and leaves it homeless
    val c = new CuckooFilter(1, 1, 1, 2, true, 32)
    c.addFingerprint(Int.MinValue)
    c.addFingerprint(1)
    assert(c.capacity == 2 && c.elementsAdded == 2)
    assert(c.buckets.flatten.sorted.toSeq == Seq(Int.MinValue, 1))
    val full = new CuckooFilter(1, 1, 1, 2, false, 32)
    full.addFingerprint(Int.MinValue)
    intercept[CuckooFilterFullException](full.addFingerprint(1))
  }

  test("digit-fold idx2 == fnv-1a-64 of the decimal string mod capacity") {
    val rnd = new scala.util.Random(20141202)
    val fps = Seq(0, 1, 9, 10, 99, 100, Int.MaxValue, -1) ++ Seq.fill(10000)(rnd.nextInt())
    for (capacity <- Seq(1, 1000, 1 << 17)) {
      val c = new CuckooFilter(capacity, 1, 500, 2, true, 32)
      val cc = new CountingCuckooFilter(capacity, 1, 500, 2, true, 32)
      fps.foreach { fp =>
        val fpU = fp & 0xffffffffL
        val want = java.lang.Long.remainderUnsigned(
          graft.hash.Fnv.fnv1a64(java.lang.Long.toString(fpU), 0), capacity.toLong).toInt
        assert(c.indicesFromFingerprint(fp) == ((fpU % capacity).toInt, want), s"fp=$fp cap=$capacity")
        assert(cc.indicesFromFingerprint(fp) == ((fpU % capacity).toInt, want), s"fp=$fp cap=$capacity")
      }
    }
  }
}

private object CuckooSerde {
  def javaSerializedSize(o: AnyRef): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size
  }
}

class CountingCuckooSpec extends AnyFunSuite {
  import TestUtil._

  test("export md5 golden: (1000,2,no-expand) + str(0..99) (countingcuckoo_test.py:199-218)") {
    val c = CountingCuckooFilter(capacity = 1000, bucketSize = 2, autoExpand = false)
    (0 until 100).foreach(i => c.add(i.toString))
    assert(md5hex(c.toBytes) == "6a98c2df1ec9fbb4f75f8e6392696b9b")
  }

  test("counting semantics: repeated adds increment; remove decrements") {
    val c = CountingCuckooFilter(capacity = 1000)
    c.add("x"); c.add("x"); c.add("x")
    assert(c.check("x") == 3)
    assert(c.uniqueElements == 1)
    assert(c.insertedElements == 3)
    c.remove("x")
    assert(c.check("x") == 2)
    c.remove("x"); c.remove("x")
    assert(c.check("x") == 0)
    assert(c.uniqueElements == 0)
  }

  test("bytes round trip") {
    val c = CountingCuckooFilter(capacity = 1000, bucketSize = 2, autoExpand = false)
    (0 until 100).foreach { i => c.add(i.toString); if (i % 3 == 0) c.add(i.toString) }
    val c2 = CountingCuckooFilter.fromBytes(c.toBytes)
    assert(c2.toBytes.toSeq == c.toBytes.toSeq)
    assert(c2.check("0") == c.check("0"))
  }

  test("merge extension adds counts") {
    val a = CountingCuckooFilter(capacity = 2000)
    val b = CountingCuckooFilter(capacity = 2000)
    (0 until 50).foreach { _ => a.add("k"); b.add("k"); b.add("only-b") }
    a.mergeFrom(b)
    assert(a.check("k") == 100)
    assert(a.check("only-b") == 50)
  }

  // Pins the DELIBERATE count>1 kick-path divergence (CuckooFilter.scala
  // insertFingerprint doc): the reference's kick loop seeds the newcomer as
  // CountingCuckooBin(fp, 1) and charges +1, silently losing count-1
  // occurrences; the engine keeps the full count in the relocated bin and
  // charges `count` — required for elements_added to stay the total
  // occurrence count under the distributed merge. Only reachable through
  // addFingerprintCount (the reference-absent merge extension) and
  // expansion re-inserts, so the kick-free parity fixtures can't cover it.
  test("counting kick with count > 1 keeps the full count (merge-path divergence)") {
    val c = CountingCuckooFilter(capacity = 4, bucketSize = 1, maxSwaps = 5,
      autoExpand = false)
    // newcomer fpX with distinct home buckets (a, b); residents fp1 -> a and
    // fp2 -> b whose ALTERNATE buckets are outside {a, b}, so the kick
    // resolves in one swap into a free bucket
    def indices(fp: Int) = c.indicesFromFingerprint(fp)
    val fpX = (1 to 10000).find(fp => { val (a, b) = indices(fp); a != b }).get
    val (a, b) = indices(fpX)
    def residentFor(home: Int, taken: Set[Int]): Int =
      (1 to 100000).find { fp =>
        val (i1, i2) = indices(fp)
        fp != fpX && !taken.contains(fp) && i1 == home && i2 != a && i2 != b
      }.get
    val fp1 = residentFor(a, Set.empty)
    val fp2 = residentFor(b, Set(fp1))
    c.addFingerprintCount(fp1, 1L)
    c.addFingerprintCount(fp2, 1L)
    assert(c.insertedElements == 2 && c.uniqueElements == 2)
    c.addFingerprintCount(fpX, 3L) // both home buckets full -> kick loop
    assert(c.insertedElements == 5, "kick must charge the full count (+3, not +1)")
    assert(c.uniqueElements == 3)
    val bins = c.buckets.flatten.map(bin => ((bin >>> 32).toInt, bin & 0xffffffffL))
    assert(bins.toSet == Set((fp1, 1L), (fp2, 1L), (fpX, 3L)),
      "the relocated newcomer bin must keep count 3 (the reference would hold 1)")
  }

  test("a homeless bin packing to -1L (fingerprint -1, count 2^32-1) expands or throws") {
    val c = new CountingCuckooFilter(1, 1, 1, 2, true, 32)
    c.addFingerprintCount(-1, 0xffffffffL)
    c.addFingerprintCount(2, 1L)
    assert(c.capacity == 2 && c.uniqueElements == 2 && c.insertedElements == 0x100000000L)
    val bins = c.buckets.flatten.map(bin => ((bin >>> 32).toInt, bin & 0xffffffffL))
    assert(bins.toSet == Set((-1, 0xffffffffL), (2, 1L)))
    val full = new CountingCuckooFilter(1, 1, 1, 2, false, 32)
    full.addFingerprintCount(-1, 0xffffffffL)
    intercept[CuckooFilterFullException](full.addFingerprintCount(2, 1L))
  }

  test("kick-and-expansion byte golden: 1,000 buckets fed 20,000 keys expand to 8,000") {
    val c = new CountingCuckooFilter(1000, 4, 500, 2, true, 32)
    (0 until 20000).foreach { i => c.add(i.toString); if (i % 7 == 0) c.add(i.toString) }
    assert(c.capacity == 8000 && c.insertedElements == 22858 && c.uniqueElements == 20000)
    assert(md5hex(c.toBytes) == "1018483adc70d4f97b4ee867311d415b")
  }

  test("merge-with-expansion byte golden") {
    val a = new CountingCuckooFilter(1000, 4, 500, 2, true, 32)
    val b = new CountingCuckooFilter(1000, 4, 500, 2, true, 32)
    (0 until 5000).foreach(i => a.add(s"a$i"))
    (0 until 5000).foreach { i => b.add(s"a${i * 3}"); b.add(s"a${i * 3}") }
    a.mergeFrom(b)
    assert(a.capacity == 4000 && a.insertedElements == 15000 && a.uniqueElements == 8333)
    assert(md5hex(a.toBytes) == "a55d7777a89664f2ecf5e1d60a8eb123")
  }

  test("Java-serialized 2^17 x 4, 32-bit filter stays within 1.3x of its export") {
    val c = new CountingCuckooFilter(1 << 17, 4, 500, 2, true, 32)
    (0 until 300000).foreach(i => c.add(s"member-$i"))
    assert(c.capacity == (1 << 17) && c.loadFactor > 0.55)
    val exported = c.toBytes.length
    val serialized = CuckooSerde.javaSerializedSize(c)
    assert(serialized <= 1.3 * exported, s"serialized $serialized B vs export $exported B")
  }
}

class QuotientFilterSpec extends AnyFunSuite {
  test("param derivation: q=20 -> r=12, 1048576 slots (quotientfilter_test.py:25-55)") {
    val qf = QuotientFilter(20)
    assert(qf.q == 20 && qf.r == 12 && qf.size == 1048576 && qf.bitsPerElm == 16)
    val qf8 = QuotientFilter(8)
    assert(qf8.r == 24 && qf8.bitsPerElm == 32)
    val qf24 = QuotientFilter(24)
    assert(qf24.r == 8 && qf24.bitsPerElm == 8)
    assertThrows[QuotientFilterException](QuotientFilter(2))
    assertThrows[QuotientFilterException](QuotientFilter(32))
  }

  test("add / check / dedup") {
    val qf = QuotientFilter(7, autoExpand = false)
    val alpha = "abcd.efghij;klm-nopqrs=tuvwxyz".toSeq.map(_.toString)
    alpha.foreach(qf.add)
    alpha.foreach(a => assert(qf.check(a), s"missing $a"))
    val n = qf.elementsAdded
    alpha.foreach(qf.add) // dedup
    assert(qf.elementsAdded == n)
    assert(!qf.check("~"))
  }

  test("remove preserves all other members across every cluster shape (quotientfilter_test.py:367-388)") {
    val alpha0 = "abcd.efghij;klm-nopqrs=tuvwxyz".toSeq.map(_.toString)
    var alpha = alpha0.toList
    val qf = QuotientFilter(7)
    alpha.foreach(qf.add)
    while (alpha.nonEmpty) {
      val v = alpha.head
      alpha = alpha.tail
      qf.remove(v)
      alpha.foreach(a => assert(qf.check(a), s"lost $a after removing $v"))
    }
  }

  test("randomized differential remove vs naive set") {
    val rnd = new scala.util.Random(7)
    val qf = QuotientFilter(10, autoExpand = false)
    var set = Set.empty[String]
    (0 until 400).foreach { _ =>
      val k = s"key-${rnd.nextInt(300)}"
      if (rnd.nextBoolean() || set.isEmpty) {
        if (set.size < 800) { qf.add(k); set += k }
      } else {
        qf.remove(k); set -= k
      }
    }
    set.foreach(k => assert(qf.check(k), s"false negative for $k"))
  }

  test("hashes() losslessly enumerates; merge {0..199} U {300..499} (quotientfilter_test.py:197-216)") {
    val a = QuotientFilter(10)
    val b = QuotientFilter(10)
    (0 until 200).foreach(i => a.add(i.toString))
    (300 until 500).foreach(i => b.add(i.toString))
    a.merge(b)
    assert(a.elementsAdded == 400)
    (0 until 200).foreach(i => assert(a.check(i.toString)))
    (300 until 500).foreach(i => assert(a.check(i.toString)))
  }

  test("resize keeps membership (quotientfilter_test.py:115-184)") {
    val qf = QuotientFilter(8, autoExpand = true)
    (0 until 230).foreach(i => qf.add(i.toString)) // forces auto-resize past 0.85*256
    assert(qf.q > 8)
    (0 until 230).foreach(i => assert(qf.check(i.toString)))
    qf.resize(qf.q + 1)
    (0 until 230).foreach(i => assert(qf.check(i.toString)))
  }

  test("bytes round trip via hash enumeration") {
    val qf = QuotientFilter(9)
    (0 until 150).foreach(i => qf.add(s"v$i"))
    val qf2 = QuotientFilter.fromBytes(qf.toBytes)
    assert(qf2.toBytes.toSeq == qf.toBytes.toSeq)
    (0 until 150).foreach(i => assert(qf2.check(s"v$i")))
  }
}

class ExpandingBloomSpec extends AnyFunSuite {
  import TestUtil._

  test("empty export md5 golden (expandingbloom_test.py:99-109)") {
    val e = ExpandingBloomFilter(25, 0.05)
    assert(md5hex(e.toBytes) == "eb5769ae9babdf7b37d6ce64d58812bc")
  }

  test("105 adds -> 3 expansions; byte round trip (expandingbloom_test.py:111-126)") {
    val e = ExpandingBloomFilter(25, 0.05)
    (0 until 105).foreach(i => e.add(i.toString))
    assert(e.expansions == 3)
    assert(e.elementsAdded == 105)
    val e2 = ExpandingBloomFilter.fromBytes(e.toBytes)
    assert(e2.expansions == 3)
    assert(e2.fpr.toDouble == 0.05000000074505806)
    assert(e2.estElements == 25)
    assert(e2.elementsAdded == 105)
    assert(e2.toBytes.toSeq == e.toBytes.toSeq)
    (0 until 105).foreach(i => assert(e2.check(i.toString)))
  }

  test("rotating: oldest filter rolls off (expandingbloom_test.py:168-200)") {
    val r = RotatingBloomFilter(10, 0.05, maxQueueSize = 3)
    (0 until 10).foreach(i => r.add(s"a$i"))
    (0 until 10).foreach(i => r.add(s"b$i"))
    (0 until 10).foreach(i => r.add(s"c$i"))
    assert(r.currentQueueSize == 3)
    (0 until 10).foreach(i => assert(r.check(s"a$i")))
    // next insert rotates the "a" bloom off
    (0 until 10).foreach(i => r.add(s"d$i"))
    assert(r.currentQueueSize == 3)
    assert((0 until 10).count(i => r.check(s"a$i")) < 10)
    (0 until 10).foreach(i => assert(r.check(s"d$i")))
  }

  test("rotating pop on size 1 raises (expandingbloom_test.py:332-341)") {
    val r = RotatingBloomFilter(10, 0.05, maxQueueSize = 3)
    assertThrows[RotatingBloomFilterException](r.pop())
  }
}
