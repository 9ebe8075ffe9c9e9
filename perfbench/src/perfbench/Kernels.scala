package perfbench

import graft.core.{BloomFilter, CountMinSketch, CuckooFilter, HeavyHitters, QuotientFilter}
import graft.ext.{Hll, Kll}
import graft.hash.Fnv1aHasher

/** Single-thread ns/op of graft's pure-Scala kernels on a sample of the
  * workload's own keys and values, with no Spark involved. Sketch sizes are
  * the ones the workloads use: the `registerAll` defaults for the sketch_build
  * aggregates, the sketch_probe sizes for the probed filters. */
object Kernels {
  private var sink = 0L

  /** Median over 5 timed passes; each pass repeats `call` (which performs
    * `opsPerCall` operations) for at least 10 ms, after 0.2 s of warm-up. */
  private def nsPerOp(opsPerCall: Int)(call: => Long): Double = {
    val warmEnd = System.nanoTime() + 200000000L
    var calls = 0
    while (System.nanoTime() < warmEnd || calls < 2) { sink += call; calls += 1 }
    val t0 = System.nanoTime(); sink += call
    val perPass = math.max(1L, 10000000L / math.max(1L, System.nanoTime() - t0)).toInt
    val passes = Array.fill(5) {
      val s = System.nanoTime()
      var i = 0
      while (i < perPass) { sink += call; i += 1 }
      (System.nanoTime() - s).toDouble / (perPass.toLong * opsPerCall)
    }
    passes.sorted.apply(2)
  }

  private def forKeys(keys: Array[String])(f: String => Long): Long = {
    var acc = 0L; var i = 0
    while (i < keys.length) { acc += f(keys(i)); i += 1 }
    acc
  }

  def measure(keys: Array[String], values: Array[Double], span: Tracer.SpanFn): Map[String, Double] = {
    val n = keys.length
    val half = keys.take(n / 2)
    val bloomOf = (ks: Array[String]) => {
      val b = BloomFilter.empty(1000000L, 0.01); ks.foreach(b.add); b
    }
    val hhOf = (ks: Array[String]) => { val h = HeavyHitters.empty(10, 4096, 5); ks.foreach(h.add(_)); h }
    val hllOf = (ks: Array[String]) => { val h = Hll(14); ks.foreach(h.add); h }
    val kllOf = (vs: Array[Double]) => { val k = Kll(200); vs.foreach(k.update); k }
    val (bloomA, bloomB) = (bloomOf(half), bloomOf(keys.drop(n / 2)))
    val (hhA, hhB) = (hhOf(half), hhOf(keys.drop(n / 2)))
    val (hllA, hllB) = (hllOf(half), hllOf(keys.drop(n / 2)))
    val (kllA, kllB) = (kllOf(values.take(values.length / 2)), kllOf(values.drop(values.length / 2)))
    val cuckoo = new CuckooFilter(SketchProbe.cuckooBuckets, 4, 500, 2, true, SketchProbe.cuckooFpBits)
    half.foreach(cuckoo.add)
    val qf = QuotientFilter(SketchProbe.qfQuotient)
    half.foreach(qf.add)
    val cms = CountMinSketch.empty(SketchProbe.cmsWidth, SketchProbe.cmsDepth)
    half.foreach(cms.add(_))
    val b2i = (b: Boolean) => if (b) 1L else 0L

    val ops: Seq[(String, () => Double)] = Seq(
      "hash.fnv_hashes_ns" -> (() => nsPerOp(n)(forKeys(keys)(k => Fnv1aHasher.hashes(k, bloomA.numHashes)(0)))),
      "core.bloom_add_ns" -> (() => nsPerOp(n)(forKeys(keys) { k => bloomA.add(k); 1L })),
      "core.bloom_check_ns" -> (() => nsPerOp(n)(forKeys(keys)(k => b2i(bloomB.check(k))))),
      "core.bloom_merge_ns" -> (() => nsPerOp(1)(bloomA.union(bloomB).numBits)),
      "core.bloom_serde_ns" -> (() => nsPerOp(1)(BloomFilter.fromBytes(bloomA.toBytes).numBits)),
      "core.hh_add_ns" -> (() => nsPerOp(n)(forKeys(keys)(k => hhA.add(k)))),
      "core.hh_merge_ns" -> (() => nsPerOp(1)(hhA.merge(hhB).elementsAdded)),
      "core.hh_serde_ns" -> (() => nsPerOp(1)(HeavyHitters.fromBytes(hhA.toBytes).elementsAdded)),
      "core.cuckoo_check_ns" -> (() => nsPerOp(n)(forKeys(keys)(k => b2i(cuckoo.check(k))))),
      "core.qf_check_ns" -> (() => nsPerOp(n)(forKeys(keys)(k => b2i(qf.check(k))))),
      "core.cms_check_ns" -> (() => nsPerOp(n)(forKeys(keys)(k => cms.check(k)))),
      "ext.hll_add_ns" -> (() => nsPerOp(n)(forKeys(keys) { k => hllA.add(k); 1L })),
      "ext.hll_merge_ns" -> (() => nsPerOp(1)(hllA.merge(hllB).p.toLong)),
      "ext.hll_serde_ns" -> (() => nsPerOp(1)(Hll.fromBytes(hllA.toBytes).p.toLong)),
      "ext.kll_update_ns" -> (() => nsPerOp(values.length) {
        var i = 0; while (i < values.length) { kllA.update(values(i)); i += 1 }; kllA.n
      }),
      "ext.kll_merge_ns" -> (() => nsPerOp(1)(kllA.merge(kllB).n)),
      "ext.kll_serde_ns" -> (() => nsPerOp(1)(Kll.fromBytes(kllA.toBytes).n)))
    val out = ops.map { case (name, f) => name -> span(name)(f()) }.toMap
    if (sink == 42L) System.err.println("")
    out
  }
}
