package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.text.{CjkSegment, CjkUnigram}

/** Corpus-trained unigram Viterbi segmentation: trained-frequency decoding
  * must fix the cross-boundary mistakes the greedy lexicon baseline makes,
  * keep the CJK-free whitespace contract, fall back to greedy when
  * untrained, and train deterministically across partitionings. */
class CjkUnigramSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Segmented training corpus (the shape public pipelines have: existing
    * segmented resources). Counts: 研究/生命/的/起源 10 each; 生活/很/好 8;
    * 研究生/招生/考试/学生/上课 2 each. */
  private def corpusRows: Seq[String] =
    Seq.fill(10)("研究 生命 的 起源") ++ Seq.fill(2)("研究生 招生 考试") ++
      Seq.fill(8)("生活 很 好") ++ Seq.fill(2)("学生 上课")

  private lazy val model: CjkUnigram.Model = {
    import spark.implicits._
    CjkUnigram.train(corpusRows.toDF("text"), "text")
  }

  test("train: bounded distributed counting, deterministic across partitionings") {
    import spark.implicits._
    assert(model.counts("研究") == 10L && model.counts("研究生") == 2L &&
      model.counts("生活") == 8L)
    assert(!model.counts.contains("很好") && !model.counts.contains("spark"))
    val m2 = CjkUnigram.train(corpusRows.toDF("text").repartition(7), "text")
    assert(m2.counts == model.counts && m2.total == model.total)
  }

  test("viterbi resolves the ambiguity the greedy longest-match cannot") {
    // 研究生命: greedy would commit to the longest dictionary word 研究生
    // and strand 命; under the trained frequencies [研究][生命] (10·10)
    // beats [研究生][命] (2·floor)
    assert(model.segment("研究生命").toSeq == Seq("研究", "生命"))
    assert(model.segment("研究生招生考试").toSeq == Seq("研究生", "招生", "考试"),
      "three known words beat mixing the frequent prefix with singles")
  }

  test("held-out uplift over the greedy lexicon baseline") {
    val heldOut = Seq(
      "研究生命" -> Seq("研究", "生命"),
      "生命的起源" -> Seq("生命", "的", "起源"),
      "学生上课的生活" -> Seq("学生", "上课", "的", "生活"),
      "研究生招生考试" -> Seq("研究生", "招生", "考试"),
      "生活很好" -> Seq("生活", "很", "好"))
    def accuracy(seg: String => Seq[String]): Int =
      heldOut.count { case (raw, truth) => seg(raw) == truth }
    val viterbi = accuracy(t => model.segment(t).toSeq)
    val greedy = accuracy(t => CjkSegment.segment(t).toSeq)
    assert(viterbi == heldOut.size, s"trained model must segment all held-out rows ($viterbi)")
    assert(viterbi > greedy,
      s"measured uplift: viterbi $viterbi vs greedy $greedy on the ambiguity fixture")
  }

  test("CJK-free text keeps the whitespace contract; mixed runs compose") {
    assert(model.segment("  the  quick fox ").toSeq == Seq("the", "quick", "fox"))
    assert(model.segment("").isEmpty && model.segment(null).isEmpty)
    assert(model.segment("spark 处理生命 data").toSeq ==
      Seq("spark", "处", "理", "生命", "data"),
      "unseen multi-char words decompose to singles; known words survive")
  }

  test("empty model falls back to the greedy lexicon baseline") {
    val empty = CjkUnigram.Model(Map.empty)
    val texts = Seq("我们喜欢学习中文", "今天天气非常好", "the quick fox")
    texts.foreach { t =>
      assert(empty.segment(t).toSeq == CjkSegment.segment(t).toSeq, t)
    }
  }

  test("tie rule: equal-score parses prefer the shorter last word, deterministically") {
    // two unseen singles vs nothing else: the backtrace is fixed regardless
    // of arithmetic noise; repeated runs are identical
    val a = model.segment("夏冬").toSeq
    assert(a == Seq("夏", "冬") && a == model.segment("夏冬").toSeq)
  }

  test("is_cjk_word (codegen'd and interpreted) == the String rule on CJK, mixed, supplementary and malformed UTF-8") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(0x3040L)
    def cp(lo: Int, hi: Int): Int = {
      var c = lo + rnd.nextInt(hi - lo)
      while (c >= 0xd800 && c <= 0xdfff) c -= 0x800
      c
    }
    def str(cps: Seq[Int]): String = new String(cps.toArray, 0, cps.length)
    // the letter ranges first, then their neighbours (CJK punctuation,
    // Bopomofo, Yijing hexagrams, Yi), ASCII, 2-byte and supplementary Han
    val pool = Seq((0x3040, 0x3100), (0x3400, 0x4dc0), (0x4e00, 0xa000), (0x3000, 0x3040),
      (0x3100, 0x3400), (0x4dc0, 0x4e00), (0xa000, 0xa4d0), (0x20, 0x7f), (0x80, 0x800),
      (0x20000, 0x2a6e0))
    val words = Seq("", "中", "研究生", "ひらがな", "カタカナ", "中a", "a中", "、", "中。", "\ud840\udc00", "中\ud840\udc00") ++
      Seq.fill(200) {
        val n = 1 + rnd.nextInt(5)
        val from = if (rnd.nextInt(3) == 0) pool.length else 3
        str(Seq.fill(n)(pool(rnd.nextInt(from))).map { case (lo, hi) => cp(lo, hi) })
      }
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // malformed: cut short, bad continuation, stray continuation, overlong, surrogate
    val keys = words.map(_.getBytes(utf8)) ++ Seq(bytes(0xe4, 0xb8), bytes(0xe4, 0xb8, 0x41),
      bytes(0xe4, 0xb8, 0xad, 0xe4), bytes(0xe4, 0x41, 0xad), bytes(0xad, 0xe4, 0xb8),
      bytes(0xe0, 0x81, 0x81), bytes(0xed, 0xa0, 0x80), bytes(0xe4, 0xb8, 0xad, 0xe5, 0x9b))
    def rule(b: Array[Byte]): Boolean = {
      val w = UTF8String.fromBytes(b).toString
      w.nonEmpty && w.forall(CjkSegment.isCjkLetter)
    }
    assert(keys.count(rule) > 50 && keys.count(!rule(_)) > 50)
    val e = graft.spark.fns.CjkWordExpr(BoundReference(0, StringType, nullable = true))
    keys.foreach(b => assert(e.eval(InternalRow(UTF8String.fromBytes(b))) == rule(b), b.mkString(",")))
    assert(e.eval(InternalRow(null)) == null)
    val df = spark.createDataFrame(keys.map(Tuple1(_))).toDF("b").repartition(2)
      .select(col("b"), graft.spark.fns.TextExpressions.cjkWordNative(col("b").cast("string")).as("w"))
    val out = df.collect()
    assert(out.length == keys.length && PlanUdfs.scalaUdfs(df).isEmpty)
    out.foreach { r =>
      assert(r.getBoolean(1) == rule(r.getAs[Array[Byte]](0)), r.getAs[Array[Byte]](0).mkString(","))
    }
  }
}
