package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.spark.text.CharLm

/** Char-n-gram LM perplexity scorer (CCNet-style quality filtering):
  * determinism, normalization, strict positivity, in/out-of-distribution
  * ordering, and the Expression reference-object serialization path. */
class CharLmSpec extends AnyFunSuite {

  test("deterministic: identical corpus -> identical scores") {
    val a = CharLm.train(Seq("the cat sat on the mat", "the dog ate the food"))
    val b = CharLm.train(Seq("the cat sat on the mat", "the dog ate the food"))
    Seq("the cat", "a dog", "zzz qqq", "").foreach { s =>
      assert(a.bitsMilli(s) == b.bitsMilli(s), s"'$s'")
    }
  }

  test("scores are finite and strictly positive for any non-blank input") {
    val lm = CharLm.standard
    Seq("the quick brown fox", "zq xvj qkz wxq", "東京 москва", "a",
      "!@#$%^&*()", "0123456789").foreach { s =>
      val bits = lm.bitsPerChar(s)
      assert(!bits.isNaN && !bits.isInfinite, s"'$s' -> $bits")
      assert(bits > 0.0, s"'$s' -> $bits")
      assert(lm.bitsMilli(s) > 0L, s"'$s'")
    }
    assert(lm.bitsMilli("") == 0L)
    assert(lm.bitsMilli("   \n\t  ") == 0L)
    assert(lm.bitsMilli(null) == 0L)
  }

  test("normalization: case and whitespace runs do not change the score") {
    val lm = CharLm.standard
    assert(lm.bitsMilli("The Quick   Brown\t\tFox") == lm.bitsMilli("the quick brown fox"))
  }

  test("orders in/out-of-distribution text correctly") {
    val lm = CharLm.standard
    val natural = lm.bitsPerChar("the work is divided between the machines that share it")
    val salad = lm.bitsPerChar("data page web crawl spark sketch filter count text")
    val gibberish = lm.bitsPerChar("zq xvj qkz wxq jzv qxz kjq vzx qwj zxk")
    assert(natural < salad, s"natural $natural vs salad $salad")
    assert(salad < gibberish, s"salad $salad vs gibberish $gibberish")
  }

  test("fuzz: random unicode soup always scores finite, positive, idempotent-stable") {
    val lm = CharLm.standard
    val rng = new graft.core.SplitMix64(0xBEEFL)
    (0 until 1000).foreach { _ =>
      val len = (Math.floorMod(rng.nextLong(), 60L) + 1).toInt
      val s = new String(Array.fill(len) {
        // mix ASCII, Latin-1, CJK, surrogate-pair plane chars
        Math.floorMod(rng.nextLong(), 4L) match {
          case 0 => (32 + Math.floorMod(rng.nextLong(), 95L)).toChar
          case 1 => (0xC0 + Math.floorMod(rng.nextLong(), 63L)).toChar
          case 2 => (0x4E00 + Math.floorMod(rng.nextLong(), 1000L)).toChar
          case _ => '\t'
        }
      })
      val bits = lm.bitsPerChar(s)
      if (s.exists(c => !Character.isWhitespace(c))) {
        assert(!bits.isNaN && !bits.isInfinite && bits > 0.0, s"'$s' -> $bits")
      }
      assert(lm.bitsMilli(s) == lm.bitsMilli(s)) // deterministic
    }
  }

  test("distributed training == in-memory training when nothing is pruned") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // incl. supplementary-plane code points: grams are built on CODE-POINT
    // boundaries, so no lone surrogate ever crosses the String→UTF8String
    // round-trip (which would corrupt it to '?' and desynchronize the paths)
    val corpus = Seq("The cat sat on the mat and looked out",
      "Counting things exactly requires remembering everything",
      "zq unusual 東京 bytes   here\tand more text",
      "emoji corpus 😀 twice 😀 and 🤖 done")
    val local = CharLm.train(corpus)
    val dist = CharLm.trainDistributed(corpus.toDF("text"), "text")
    Seq("the cat", "count remember", "zq 東京", "never seen input xyz",
      "requires everything exactly", "new 😀 emoji 🤖 here",
      "unseen 🍕 emoji").foreach { s =>
      assert(dist.bitsMilli(s) == local.bitsMilli(s), s"'$s'")
    }
    // pruning keeps the model usable: heavy truncation still scores finite
    val pruned = CharLm.trainDistributed(corpus.toDF("text"), "text", maxGrams = 10)
    Seq("the cat", "zq").foreach { s =>
      val b = pruned.bitsPerChar(s)
      assert(!b.isNaN && !b.isInfinite && b > 0.0, s"'$s' -> $b")
    }
  }

  test("byte codec: deterministic fixpoint, reloaded model scores identically") {
    val lm = CharLm.standard
    val bytes = lm.toBytes
    val back = CharLm.fromBytes(bytes)
    assert(java.util.Arrays.equals(back.toBytes, bytes), "codec must be a fixpoint")
    Seq("the quick brown fox", "zq xvj 東京", "new 😀 emoji", "").foreach { s =>
      assert(back.bitsMilli(s) == lm.bitsMilli(s), s"'$s'")
    }
  }

  test("survives serialization (the Expression reference-object path)") {
    val lm = CharLm.standard
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(lm); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[CharLm]
    Seq("the quick brown fox", "zq xvj").foreach { s =>
      assert(back.bitsMilli(s) == lm.bitsMilli(s))
    }
  }
}
