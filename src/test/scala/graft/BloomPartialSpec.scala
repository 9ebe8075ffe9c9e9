package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomFilter, BloomMath}
import graft.spark.aggs.{BloomKind, BloomPartial, SketchAgg, SketchUdafs}

/** `bloom_agg`'s sparse-until-dense buffer ([[BloomPartial]]) at three
  * filter sizes: one whose partials stay sparse, one whose partials switch
  * to dense in the middle of a partition, and one that is dense from the
  * start. Whatever the form, the output is the bytes of one driver-side
  * [[BloomFilter]] fold. */
class BloomPartialSpec extends AnyFunSuite with SketchFoldFixture {

  /** (est elements, fpr, what the partials of the 8,000-key fixture do) */
  private val sizes = Seq(
    (1000000L, 0.01, "stays sparse"),    // 1.2 MB filter, ~300k positions fit
    (2000L, 0.01, "switches mid-partition"), // 2,397 bytes: 85 keys fit
    (10L, 0.05, "starts dense"))         // 8 bytes: not one key's 4 positions fit

  private def fold(keys: Seq[String], est: Long, fpr: Double): BloomFilter = {
    val b = BloomFilter.empty(est, fpr)
    keys.foreach(b.add)
    b
  }

  private def partial(keys: Seq[String], est: Long, fpr: Double): BloomPartial = {
    val p = BloomPartial.empty(est, fpr)
    keys.foreach(k => p.addHashes(graft.hash.Fnv1aHasher.hashes(k, p.numHashes)))
    p
  }

  test("the three sizes take the forms they are named for") {
    val keys = keysOf(ascii = true)
    assert(!partial(keys, 1000000L, 0.01).isDense)
    assert(!partial(keys.take(85), 2000L, 0.01).isDense)
    assert(partial(keys.take(86), 2000L, 0.01).isDense)
    assert(BloomPartial.empty(10L, 0.05).isDense)
    assert(BloomPartial.startsDense(BloomMath.optimizedParams(10L, 0.05)))
    assert(!BloomPartial.startsDense(BloomMath.optimizedParams(2000L, 0.01)))
  }

  test("bloom_agg bytes at 1, 2, 8 and 64 partitions == one driver-side BloomFilter fold") {
    for ((est, fpr, what) <- sizes; ascii <- Seq(true, false)) {
      val rows = rowsOf(ascii)
      val want = fold(rows.map(_._1), est, fpr).toBytes.toSeq
      for (parts <- Seq(1, 2, 8, 64)) {
        val got = bytesOf(df(rows, parts), SketchUdafs.bloom(est, fpr)(col("k")))
        assert(got.toSeq == want, s"$what ascii=$ascii parts=$parts")
      }
    }
  }

  test("every merge order of sparse and dense partials gives the fold's bytes") {
    val (est, fpr) = (2000L, 0.01)
    val kind = BloomKind(est, fpr)
    val keys = keysOf(ascii = true).distinct
    // a + b fit the sparse limit together, a + b + c do not; d and e are dense
    val cuts = Seq(0, 20, 60, 120, 270, 470)
    val slices = cuts.zip(cuts.tail).map { case (lo, hi) => keys.slice(lo, hi) }
    val parts = slices.map(s => kind.toBytes(partial(s, est, fpr)))
    assert(parts.map(b => kind.fromBytes(b).isDense) == Seq(false, false, false, true, true))
    val want = fold(slices.flatten, est, fpr).toBytes.toSeq
    def read(b: Array[Byte]) = kind.fromBytes(b)
    for (order <- parts.indices.permutations) {
      val ps = order.map(parts)
      val left = ps.foldLeft(kind.create())((acc, b) => kind.merge(acc, read(b)))
      assert(kind.eval(left).asInstanceOf[Array[Byte]].toSeq == want, s"left fold $order")
      val tree = kind.merge(kind.merge(read(ps(0)), read(ps(1))),
        kind.merge(read(ps(2)), kind.merge(read(ps(3)), read(ps(4)))))
      assert(kind.eval(tree).asInstanceOf[Array[Byte]].toSeq == want, s"tree $order")
    }
  }

  test("SketchAgg serialize / deserialize round-trips both forms and a dense export") {
    val (est, fpr) = (2000L, 0.01)
    val agg = SketchAgg(Seq(Literal("k")), BloomKind(est, fpr))
    val keys = keysOf(ascii = false).distinct
    val denseLen = BloomFilter.empty(est, fpr).exportSize
    for (n <- Seq(0, 1, 85, 86, 400)) {
      val p = partial(keys.take(n), est, fpr)
      val bytes = agg.serialize(p)
      val back = agg.deserialize(bytes)
      assert(back.isDense == p.isDense && back.isDense == (n > 85), s"n=$n")
      assert(if (back.isDense) bytes.length == denseLen else bytes.length < denseLen, s"n=$n")
      assert(agg.serialize(back).toSeq == bytes.toSeq, s"n=$n")
      assert(back.elsAdded == n, s"n=$n")
      assert(agg.eval(back).asInstanceOf[Array[Byte]].toSeq ==
        fold(keys.take(n), est, fpr).toBytes.toSeq, s"n=$n")
    }
    // a dense export written as the reference format (the format of every
    // buffer before sparse partials) reads back dense and merges with both
    for (n <- Seq(0, 10, 300)) {
      val `export` = fold(keys.take(n), est, fpr).toBytes
      val back = agg.deserialize(`export`)
      assert(back.isDense && agg.serialize(back).toSeq == `export`.toSeq, s"n=$n")
      val merged = agg.merge(agg.deserialize(`export`), partial(keys.slice(n, n + 30), est, fpr))
      assert(agg.eval(merged).asInstanceOf[Array[Byte]].toSeq ==
        fold(keys.take(n + 30), est, fpr).toBytes.toSeq, s"n=$n")
    }
  }

  test("positions fit an Int up to 2^31 bits; larger filters start dense") {
    assert(BloomPartial.positionsFitInt(1L))
    assert(BloomPartial.positionsFitInt(Int.MaxValue.toLong))
    assert(BloomPartial.positionsFitInt(1L << 31))
    assert(!BloomPartial.positionsFitInt((1L << 31) + 1))
    assert(!BloomPartial.positionsFitInt(1L << 40))
    // parameters only: nothing of this size is allocated
    val huge = BloomMath.optimizedParams(300000000L, 0.01)
    assert(huge.numBits > (1L << 31))
    assert(BloomPartial.startsDense(huge))
    assert(!BloomPartial.startsDense(BloomMath.optimizedParams(200000000L, 0.01)))
  }
}
