package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The COUNT(DISTINCT) -> HLL optimizer rule, end to end through a session
  * built with GraftExtensions. Needs its own session (extensions are
  * install-time), so it uses a distinct appName/context carefully. */
class ExtensionsSpec extends AnyFunSuite {

  test("COUNT(DISTINCT string) rewrites to the HLL aggregate when enabled") {
    GraftExtSession { spark =>
      val df = spark.range(0, 20000, 1, 4)
        .select(concat(lit("u"), col("id") % 5000).as("k"), (col("id") % 7).as("g"))
      df.createOrReplaceTempView("t_ext")

      spark.conf.set("spark.graft.hll.rewriteCountDistinct", "false")
      val exact = spark.sql("SELECT g, COUNT(DISTINCT k) AS d FROM t_ext GROUP BY g")
      assert(!exact.queryExecution.optimizedPlan.toString.contains("graft_hll_count"))
      val exactRes = exact.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      spark.conf.set("spark.graft.hll.rewriteCountDistinct", "true")
      try {
        val approx = spark.sql("SELECT g, COUNT(DISTINCT k) AS d FROM t_ext GROUP BY g")
        val plan = approx.queryExecution.optimizedPlan.toString
        assert(plan.contains("graft_hll_count"), plan)
        // the rewritten plan has no Expand/double-exchange distinct machinery
        assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
        val approxRes = approx.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(approxRes.keySet == exactRes.keySet)
        approxRes.foreach { case (g, est) =>
          val ex = exactRes(g)
          assert(math.abs(est - ex).toDouble / ex < 0.05, s"g=$g est=$est exact=$ex")
        }
      } finally spark.conf.set("spark.graft.hll.rewriteCountDistinct", "false")
    }
  }

  test("percentile_approx rewrites to the KLL quantile aggregate when enabled") {
    GraftExtSession { spark =>
      // uniform 0..9999 doubles plus an INT column (type-preservation check)
      spark.range(0, 20000, 1, 4)
        .selectExpr("CAST(id % 10000 AS DOUBLE) AS v", "CAST(id % 1000 AS INT) AS iv",
          "id % 3 AS g")
        .createOrReplaceTempView("t_pct")

      spark.conf.set("spark.graft.kll.rewritePercentileApprox", "false")
      val off = spark.sql("SELECT percentile_approx(v, 0.5) FROM t_pct")
      assert(!off.queryExecution.optimizedPlan.toString.contains("graft_kll_quantile"))

      spark.conf.set("spark.graft.kll.rewritePercentileApprox", "true")
      try {
        val q = spark.sql(
          """SELECT g, percentile_approx(v, 0.5) AS p50,
            |       percentile_approx(v, array(0.1, 0.9)) AS p_arr,
            |       percentile_approx(iv, 0.5) AS ip50
            |FROM t_pct GROUP BY g""".stripMargin)
        val plan = q.queryExecution.optimizedPlan.toString
        assert(plan.contains("graft_kll_quantile"), plan)
        // output types preserved: double, array<double>, int
        assert(q.schema("p50").dataType.typeName == "double")
        assert(q.schema("ip50").dataType.typeName == "integer")
        q.collect().foreach { r =>
          assert(math.abs(r.getDouble(1) - 5000.0) < 300, s"p50=${r.getDouble(1)}")
          val arr = r.getSeq[Double](2)
          assert(math.abs(arr.head - 1000.0) < 300 && math.abs(arr(1) - 9000.0) < 300)
          assert(math.abs(r.getInt(3) - 500) < 40, s"ip50=${r.getInt(3)}")
        }
        // empty-input parity: percentile_approx returns null
        val empty = spark.sql(
          "SELECT percentile_approx(v, 0.5) FROM t_pct WHERE v < -1").head()
        assert(empty.isNullAt(0))
      } finally spark.conf.set("spark.graft.kll.rewritePercentileApprox", "false")
    }
  }

  test("injected native-agg SQL functions work end to end") {
    GraftExtSession { spark =>
      spark.range(0, 5000, 1, 4)
        .selectExpr("concat('u', id % 700) AS k", "CAST(id % 100 AS DOUBLE) AS v")
        .createOrReplaceTempView("t_native_fns")
      val row = spark.sql(
        """SELECT hll_count(k) AS d,
          |       hll_count(k, 12) AS d12,
          |       cms_agg(k, CAST(1 AS BIGINT)) AS cms,
          |       bloom_agg(k, 10000, 0.01) AS blm,
          |       kll_agg(v, 200) AS kll,
          |       heavy_hitters(k, CAST(1 AS BIGINT), 3) AS hh
          |FROM t_native_fns""".stripMargin).head()
      assert(math.abs(row.getLong(0) - 700L) <= 25)
      assert(math.abs(row.getLong(1) - 700L) <= 40)
      val cms = graft.core.CountMinSketch.fromBytes(row.getAs[Array[Byte]]("cms"))
      // min estimate is one-sided: true count 8 (ids 3, 703, ..., 4903),
      // small possible overcount from collisions among 700 keys in 2048 cells
      assert(cms.check("u3") >= 8 && cms.check("u3") <= 12)
      val blm = graft.core.BloomFilter.fromBytes(row.getAs[Array[Byte]]("blm"))
      assert(blm.check("u1") && blm.check("u699"))
      val kll = graft.ext.Kll.fromBytes(row.getAs[Array[Byte]]("kll"))
      assert(math.abs(kll.quantile(0.5) - 50.0) <= 5.0)
      assert(row.getMap[String, Long](5).nonEmpty)

      // scalar kernel injection: cosine_f32 straight from SQL
      val cos = spark.sql(
        """SELECT cosine_f32(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
        .head().getDouble(0)
      assert(cos == 1.0)

      // text kernels straight from SQL
      val sh = spark.sql("SELECT sort_array(shingles('A quick brown fox')) AS s")
        .head().getSeq[String](0)
      assert(sh == Seq("a quick brown", "quick brown fox"))
      val nfc = spark.sql("SELECT nfc_normalize('marke\u0301d') AS t").head().getString(0)
      assert(nfc == "mark\u00e9d")
      val sim = spark.sql("SELECT simhash64('hello world') AS h").head().getLong(0)
      assert(sim == graft.spark.fns.TextKernels.simhash64(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))

      // round-3 kernels straight from SQL: true-BPE count + language ID
      val bpe = spark.sql(
        "SELECT bpe_count('the quick brown fox jumps over the lazy dog') AS n")
        .head().getLong(0)
      assert(bpe == graft.spark.text.BpeTokenizer.standard
        .countText("the quick brown fox jumps over the lazy dog"))
      val lid = spark.sql(
        "SELECT lang_id('the train was late again so we waited on the platform') AS l")
        .head().getString(0)
      assert(lid == "en")
      val lidDe = spark.sql(
        "SELECT lang_id('der zug hatte wieder verspätung also warteten wir') AS l")
        .head().getString(0)
      assert(lidDe == "de")
      val spans = spark.sql("SELECT span_hashes('a b c d', 3) AS s")
        .head().getSeq[Long](0)
      assert(spans.length == 2) // "a b c", "b c d"
      assert(spans(0) != spans(1))

      // round-4 kernels straight from SQL: lang confidence, byte-level BPE,
      // char-LM perplexity score
      val conf = spark.sql(
        "SELECT lang_confidence('the train was late again so we waited') AS c")
        .head().getLong(0)
      assert(conf == graft.spark.text.TextFunctions
        .classifyConfidence("the train was late again so we waited"))
      assert(conf > 0L)
      val bpeB = spark.sql("SELECT bpe_count_bytes('café 東京') AS n").head().getLong(0)
      assert(bpeB == graft.spark.text.BpeTokenizer.standardBytes.countText("café 東京"))
      assert(bpeB > spark.sql("SELECT bpe_count('café 東京') AS n").head().getLong(0))
      val lmBits = spark.sql(
        "SELECT charlm_bits_milli('the quick brown fox') AS b").head().getLong(0)
      assert(lmBits == graft.spark.text.CharLm.standard.bitsMilli("the quick brown fox"))
      assert(lmBits > 0L)
      val canon = spark.sql(
        "SELECT url_canonicalize('HTTPS://E.com:443/a?b=2&a=1&utm_source=x#f') AS u")
        .head().getString(0)
      assert(canon == "https://e.com/a?a=1&b=2")
      val zr = spark.sql(
        "SELECT deflate_ratio_milli('spark spark spark spark spark spark') AS r")
        .head().getLong(0)
      assert(zr == graft.spark.fns.CompressKernel.deflateRatioMilli(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "spark spark spark spark spark spark")))
      assert(zr > 0L && zr < 1000L) // repetitive text compresses below 1:1

      // round-5 kernels: CJK segmentation surface straight from SQL
      val segZh = spark.sql("SELECT cjk_segment('我们喜欢学习中文') AS s").head().getString(0)
      assert(segZh == "我们 喜欢 学习 中 文")
      val nZh = spark.sql("SELECT cjk_token_count('我们喜欢学习中文') AS n").head().getLong(0)
      assert(nZh == 5L)
      // CJK-free text: segmentation is whitespace re-normalization only
      val segEn = spark.sql("SELECT cjk_segment('  the  quick fox ') AS s").head().getString(0)
      assert(segEn == "the quick fox")
      val dsir = spark.sql("SELECT dsir_buckets('alpha beta gamma', 512) AS f")
        .head().getSeq[Int](0)
      assert(dsir.length == 5 && dsir.forall(b => b >= 0 && b < 512))
      assert(dsir == graft.spark.fns.TextKernels.dsirBuckets(
        org.apache.spark.unsafe.types.UTF8String.fromString("alpha beta gamma"), 512)
        .toIntArray().toSeq)
      // the bucket count is read like every other literal argument: a bigint
      // or a folded cast gives the same buckets, a column is rejected
      Seq("512L", "CAST(512 AS BIGINT)", "CAST('512' AS INT)", "256 + 256").foreach { b =>
        val got = spark.sql(s"SELECT dsir_buckets('alpha beta gamma', $b) AS f")
          .head().getSeq[Int](0)
        assert(got == dsir, b)
      }
      val nonLiteral = intercept[Exception] {
        spark.sql("SELECT dsir_buckets(t, n) FROM VALUES ('alpha', 512) AS v(t, n)").collect()
      }
      assert(nonLiteral.getMessage.contains("buckets must be a literal"), nonLiteral.getMessage)

      // round-6 kernel: deterministic text embedding straight from SQL
      val e1 = spark.sql("SELECT text_embedding('alpha beta gamma', 16) AS e")
        .head().getSeq[Float](0)
      assert(e1.length == 16)
      assert(math.abs(e1.map(x => x.toDouble * x).sum - 1.0) < 1e-4, "unit norm")
      assert(e1 == graft.spark.fns.TextKernels.hashEmbedding(
        org.apache.spark.unsafe.types.UTF8String.fromString("alpha beta gamma"), 16, 42L)
        .toFloatArray().toSeq)
      // explicit seed changes the projection; empty text is the zero vector
      val e2 = spark.sql("SELECT text_embedding('alpha beta gamma', 16, 7) AS e")
        .head().getSeq[Float](0)
      assert(e1 != e2)
      val e0 = spark.sql("SELECT text_embedding('   ', 16) AS e").head().getSeq[Float](0)
      assert(e0.forall(_ == 0.0f), "featureless text must embed to the zero vector")
    }
  }

  test("a GraftExtensions session resolves all 13 sketch aggregate names") {
    GraftExtSession { spark =>
      val names = graft.spark.aggs.SketchUdafs.sqlAggregates.map(_._1)
      assert(names.sorted == Seq("bloom_agg", "cbf_agg", "cms_agg", "counting_cuckoo_agg",
        "cuckoo_agg", "ebf_agg", "heavy_hitters", "hll_agg", "hll_count", "kll_agg", "qf_agg",
        "stream_threshold", "tdigest_agg"))
      names.foreach(n => assert(spark.catalog.functionExists(n), n))
      spark.range(0, 100, 1, 2)
        .selectExpr("CAST(id % 7 AS STRING) AS k", "id AS c", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("t_all_aggs")
      val row = spark.sql(
        """SELECT bloom_agg(k), cms_agg(k, c), heavy_hitters(k, c), hll_agg(k), hll_count(k),
          |       kll_agg(v), cbf_agg(k, c), stream_threshold(k, c), cuckoo_agg(k),
          |       counting_cuckoo_agg(k), qf_agg(k), ebf_agg(k), tdigest_agg(v)
          |FROM t_all_aggs""".stripMargin).head()
      assert(row.getLong(4) == 7L)
      assert(row.getMap[String, Long](2).size == 7)
      assert(graft.ext.TDigest.fromBytes(row.getAs[Array[Byte]](12)).totalWeight == 100.0)
    }
  }

  test("rewrite path buffers serialize in the reference HLL byte format") {
    // the aggregate the rule builds must ship its buffer as the reference
    // HLL export, not kryo: serialize() output must parse as Hll.fromBytes
    GraftExtSession { spark =>
      spark.conf.set("spark.graft.hll.rewriteCountDistinct", "true")
      try {
        val df = spark.range(0, 1000, 1, 2)
          .select(concat(lit("v"), col("id") % 300).as("k"))
        df.createOrReplaceTempView("t_enc")
        val q = spark.sql("SELECT COUNT(DISTINCT k) FROM t_enc")
        val aggExprs = q.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
            a.aggregateExpressions
        }.flatten
        val hllAggs = aggExprs.flatMap(_.collect {
          case h: graft.spark.aggs.SketchAgg[_] if h.kind.isInstanceOf[graft.spark.aggs.HllKind] =>
            h.asInstanceOf[graft.spark.aggs.SketchAgg[graft.ext.Hll]]
        })
        assert(hllAggs.nonEmpty, "rewritten HLL aggregate not found in plan")
        val agg = hllAggs.head
        val buf = agg.createAggregationBuffer()
        (0 until 100).foreach(i => buf.add(s"x$i"))
        val payload = agg.serialize(buf)
        assert(payload.toSeq == buf.toBytes.toSeq)
        val back = graft.ext.Hll.fromBytes(payload) // kryo bytes would fail here
        assert(back.estimate == buf.estimate)
      } finally spark.conf.set("spark.graft.hll.rewriteCountDistinct", "false")
    }
  }
}
