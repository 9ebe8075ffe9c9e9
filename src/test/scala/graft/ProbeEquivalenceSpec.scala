package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.BloomFilter
import graft.hash.{Fnv1aHasher, Hashers, KeyHasher}
import graft.spark.fns.TextKernels

/** The early-exit Bloom probes answer exactly what the all-hashes probe
  * answers: `BloomFilter.check` against `checkHashes(hashes(key))`, and the
  * fused decontamination kernel against a shingle-string reference. */
class ProbeEquivalenceSpec extends AnyFunSuite {

  private val keys: Seq[String] = Seq(
    "", " ", "a", "url-1", "Hello World", "the quick brown fox",
    "数据清洗", "東京 大阪", "𠀀𠀁", "emoji 😀 face", "mixed ascii 😀 数据 𝔘",
    "lone high \ud800 end", "\udc00 lone low", "tail high \ud83d", "\udfff",
    "İstanbul", "ß straße")

  private def roundTrip(f: BloomFilter): BloomFilter = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(f)
    oos.close()
    new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[BloomFilter]
  }

  /** A small, well-filled filter: non-members hit often enough that both
    * answers occur on every probe path. */
  private def filled(hasher: KeyHasher): BloomFilter = {
    val f = BloomFilter.empty(40, 0.2, hasher)
    keys.zipWithIndex.filter(_._2 % 2 == 0).foreach { case (k, _) => f.add(k) }
    (0 until 30).foreach(i => f.add(s"member-$i"))
    f
  }

  test("check == checkHashes(hashes) for fnv, md5 and sha256, before and after serialization") {
    val probes = keys ++ (0 until 30).map(i => s"member-$i") ++
      (0 until 400).map(i => s"probe-$i-数据-${new String(Character.toChars(0x1f600 + i % 40))}")
    for ((name, hasher) <- Seq("fnv" -> Fnv1aHasher, "md5" -> Hashers.md5,
        "sha256" -> Hashers.sha256)) {
      val f = filled(hasher)
      val rt = roundTrip(f)
      assert(rt.hasher.name == hasher.name)
      if (hasher eq Fnv1aHasher)
        assert(rt.hasher eq Fnv1aHasher, "the default hasher must stay the singleton")
      for (filter <- Seq(f, rt); k <- probes) {
        assert(filter.check(k) == filter.checkHashes(filter.hashes(k)), s"$name string key '$k'")
        val b = k.getBytes(UTF_8)
        assert(filter.check(b) == filter.checkHashes(filter.hashes(b)), s"$name byte key '$k'")
      }
      val answers = probes.map(f.check)
      assert(answers.contains(true) && answers.contains(false), s"$name: one answer only")
      keys.zipWithIndex.filter(_._2 % 2 == 0)
        .foreach { case (k, _) => assert(f.check(k) && rt.check(k), s"$name member '$k'") }
    }
  }

  /** The kernel's contract written with strings: lowercase, split on the
    * ASCII whitespace class, join n-token windows with one space (fewer
    * than n tokens: the single joined shingle), all-hashes probe. */
  private def reference(text: String, n: Int, f: BloomFilter): Boolean = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("[ \t\n\u000B\f\r]+")
      .filter(_.nonEmpty)
    val shingles =
      if (toks.length < n) Iterator(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" "))
    shingles.exists(s => f.checkHashes(f.hashes(s)))
  }

  test("shingleAnyInBloom == the shingle-string reference") {
    val n = 3
    val planted = "Alpha 数据 😀"
    val texts = Seq(
      "", " \t\n ", "one", "one two", "alpha 数据 😀", "one two three",
      "  Alpha\t数据\n😀  ", "x y z w alpha 数据 😀", "x\u000By\fz\rw alpha  数据\t\t😀",
      "东京 大阪 京都 名古屋 福冈", "𠀀 𠀁 𠀂 𠀃", "İstanbul İzmir Ankara Bursa",
      "lone \ud800 high and \udc00 low surrogates here",
      "the quick brown fox jumps over the lazy dog " * 3 + planted)
    val rnd = new scala.util.Random(20261017L)
    val vocab = Array("alpha", "数据", "😀", "Beta", "𠀀x", "ß", "İ", "gamma", "q")
    val ws = Array(" ", "  ", "\t", "\n", " \r\n")
    val random = (0 until 300).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .map(_ + ws(rnd.nextInt(ws.length))).mkString
    }
    val sparse = BloomFilter.empty(10000, 0.001)
    sparse.add("alpha 数据 😀")
    sparse.add("one two")
    val dense = BloomFilter.empty(20, 0.3)
    Seq("alpha", "数据", "beta", "gamma q ß").foreach(dense.add)
    val md5 = BloomFilter.empty(20, 0.3, Hashers.md5)
    Seq("alpha 数据 😀", "beta ß").foreach(md5.add)
    for ((name, f) <- Seq("sparse" -> sparse, "dense" -> dense, "md5" -> md5,
        "sparse round-tripped" -> roundTrip(sparse))) {
      val answers = for (k <- Seq(1, 2, n, 8); t <- texts ++ random) yield {
        // the kernel receives UTF-8: an unpaired surrogate arrives as '?'
        val u = UTF8String.fromString(t)
        val got = TextKernels.shingleAnyInBloom(u, k, f)
        assert(got == reference(u.toString, k, f), s"$name n=$k text '$t'")
        got
      }
      assert(answers.contains(true) && answers.contains(false), s"$name: one answer only")
    }
    assert(TextKernels.shingleAnyInBloom(UTF8String.fromString(texts.last), n, sparse),
      "a hit in the last window is found")
  }
}
