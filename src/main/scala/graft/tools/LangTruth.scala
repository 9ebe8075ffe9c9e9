package graft.tools

import graft.spark.text.{LangEval, LangFixture}

/** Dev tool: measure the language-ID classifier on the HELD-OUT fixture
  * (and, for reference, the legacy stopword fixture + per-sentence
  * breakdown), and print the q_lang_id oracle literals. Rerun after ANY
  * change to LangProfiles / LangEval / the langId tiers. */
object LangTruth {

  /** The langId UDF body, callable directly (no Spark session needed —
    * evaluation is deterministic per string). */
  def classify(text: String): String =
    graft.spark.text.TextFunctions.classifyText(text)

  def main(args: Array[String]): Unit = {
    val perLang = if (args.nonEmpty) args(0).toInt else 50
    // per-sentence breakdown (the sharpest view of profile quality)
    println("-- per-sentence misclassifications --")
    var sentTotal = 0; var sentOk = 0
    LangEval.pools.toSeq.sortBy(_._1).foreach { case (lang, pool) =>
      pool.foreach { s =>
        val got = classify(s)
        sentTotal += 1
        if (got == lang) sentOk += 1
        else println(s"  [$lang -> $got] $s")
      }
    }
    println(s"sentences: $sentOk/$sentTotal")

    println("-- held-out docs (LangEval) --")
    val rows = LangEval.langs.map { lang =>
      val results = (0L until perLang.toLong).map { i =>
        graft.spark.text.TextFunctions.classifyTextWithConfidence(LangEval.textOf(lang, i))
      }
      val correct = results.count(_._1 == lang)
      val minConf = results.map(_._2).min
      (lang, perLang.toLong, correct.toLong, minConf)
    }
    rows.foreach { case (l, n, c, mc) => println(s"  $l: $c/$n min_conf_pm=$mc") }

    println("-- legacy stopword fixture (LangFixture) --")
    LangFixture.langs.foreach { lang =>
      val correct = (0L until perLang.toLong)
        .count(i => classify(LangFixture.textOf(lang, i)) == lang)
      println(s"  $lang: $correct/$perLang")
    }

    println("-- q_lang_id oracle literals --")
    rows.zipWithIndex.foreach { case ((l, n, c, mc), i) =>
      val row =
        if (i == 0) s"('$l', CAST($n AS BIGINT), CAST($c AS BIGINT), CAST($mc AS BIGINT)), "
        else s"('$l', $n, $c, $mc), "
      println(row)
    }
  }
}
