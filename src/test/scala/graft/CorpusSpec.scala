package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.dedup.Corpus

/** Corpus-level operators: benchmark decontamination (bloom-pruned,
  * exact-verified) and corpus-frequency line dedup. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("corpus")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("decontaminate flags exactly the docs sharing a shingle with the benchmark") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "a completely different sentence about nothing at all here"),
      (2L, "we see the quick brown fox again in this doc"),    // shares "the quick brown"
      (3L, "short doc"),                                       // < 3 tokens -> whole-text shingle
      (4L, "entirely novel words that overlap with no benchmark text ever"),
      (5L, "what does the fox say")
    ).toDF("doc_id", "text")
    val bench = Seq("the quick brown fox is a benchmark sentence", "short doc")
      .toDF("text")
    val got = Corpus.decontaminate(docs, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> true, 3L -> true,
      4L -> false, 5L -> false))
  }

  test("decontaminate is exact under a deliberately tiny (high-fpr) bloom") {
    import spark.implicits._
    // capacity 10 for ~60 shingles drives the fpr way up: false positives
    // must die in the verify join, and bloom-no-false-negatives keeps recall
    val docs = (0L until 30L)
      .map(i => (i, s"token$i alpha$i beta$i gamma$i delta$i epsilon$i"))
      .toDF("doc_id", "text")
    val bench = Seq("token7 alpha7 beta7 gamma7 delta7 epsilon7").toDF("text")
    val got = Corpus.decontaminate(docs, bench, "doc_id", "text",
        bloomCapacity = 10L, fpr = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(7L))
    assert(got.count(_._2) == 1)
  }

  test("lineFrequencyFlags thresholds on corpus-wide line counts") {
    import spark.implicits._
    val docs = Seq(
      ("a", "unique one\nshared line\n  "),
      ("a", "unique two\nshared line"),
      ("b", "shared line\nunique three"),
      ("b", "unique four\nrare pair"),
      ("b", "rare pair")
    ).toDF("lang", "text")
    val rows = Corpus.lineFrequencyFlags(docs, "text", minCount = 3L, Seq("lang"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    // blank-only line dropped; "shared line" (3x) boilerplate; "rare pair" (2x) not
    assert(rows.length == 9)
    assert(rows.filter(_._2 == "shared line").forall(_._3))
    assert(rows.filter(_._2 == "rare pair").forall(!_._3))
    assert(rows.filter(_._2.startsWith("unique")).forall(!_._3))
  }

  test("shingles kernel matches the built-in-expression formula (incl. edge cases)") {
    import spark.implicits._
    val texts = Seq(
      "the quick  brown\tfox\njumps over the lazy dog",
      "ONE", "", "   ", "two words", "a b c",
      "répété répété RÉPÉTÉ unicode tokens répété here now",
      "а б в г Д Е",  // cyrillic
      "dup dup dup dup dup dup",                     // all shingles identical
      "xy mixed\fws\rhere ok fine then"
    ).toDF("text")
    val got = texts.select(
      sort_array(graft.spark.dedup.Corpus.shingles(col("text"))).as("k"),
      sort_array(graft.spark.dedup.Corpus.shinglesBuiltin(col("text"))).as("b"))
      .collect()
    got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
  }

  test("removeBoilerplate rebuilds text byte-identically with heavy lines dropped") {
    import spark.implicits._
    val docs = Seq(
      "keep one\nshared line\nkeep two",
      "shared line\nkeep three\n   \nshared line",
      "shared line\nunique tail",
      "all alone here"
    ).toDF("text")
    val got = graft.spark.dedup.Corpus.removeBoilerplate(docs, "text", minCount = 3L)
      .select(col("text_clean")).collect().map(_.getString(0)).toSet
    assert(got == Set(
      "keep one\nkeep two",
      "keep three\n   ",      // blank-only line preserved, order kept
      "unique tail",
      "all alone here"))
  }

  test("spanFrequencyFlags marks exactly the corpus-repeated window positions") {
    import spark.implicits._
    // window n=3, minCount=3: "a b c" occurs 3x (docs 1,2,3), "x y z" 2x
    val docs = Seq(
      (1L, "a b c d e"),        // windows: "a b c"(R) "b c d" "c d e"
      (2L, "z a b c q"),        // "z a b" "a b c"(R) "b c q"
      (3L, "a b c"),            // "a b c"(R)
      (4L, "x y z w"),          // "x y z" "y z w"
      (5L, "x y z"),            // "x y z"
      (6L, "too short")         // < 3 tokens -> no windows
    ).toDF("doc_id", "text")
    val rows = graft.spark.dedup.Corpus
      .spanFrequencyFlags(docs, "text", n = 3, minCount = 3L, passthrough = Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(rows.length == 3 + 3 + 1 + 2 + 1) // per-position, non-distinct
    assert(rows.filter(_._2 == "a b c").forall(_._3))
    assert(rows.count(_._2 == "a b c") == 3)
    assert(rows.filter(_._2 == "x y z").forall(!_._3)) // 2 < minCount
    assert(!rows.exists(_._1 == 6L))
  }

  test("spanHashFrequencyFlags agrees with the string variant per position") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = ((0L until 40L).map(i => (i, s"alpha$i beta$i gamma$i delta$i common tail words here")) ++
      Seq((100L, "short"), (101L, "UPPER case TEXT common tail words here repeated")))
      .toDF("doc_id", "text")
    def flags(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(col("repeated"), 1L).otherwise(0L)).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val s = flags(graft.spark.dedup.Corpus.spanFrequencyFlags(
      docs, "text", n = 4, minCount = 5L, passthrough = Seq("doc_id")))
    val h = flags(graft.spark.dedup.Corpus.spanHashFrequencyFlags(
      docs, "text", n = 4, minCount = 5L, passthrough = Seq("doc_id")))
    assert(s == h, s"string=$s hash=$h")
    assert(s.values.exists(_._2 > 0), "planted repeats must flag")
  }

  test("removeRepeatedSpans drops exactly the covered token positions") {
    import spark.implicits._
    // n=3, minCount=3: "a b c" repeats in docs 1,2,3 -> tokens under any
    // heavy window drop; surrounding tokens survive; original CASE kept
    val docs = Seq(
      (1L, "KEEP a b c tail"),       // covers positions 1..3
      (2L, "a b c"),                 // fully covered -> ""
      (3L, "x a b c Y z"),
      (4L, "un related short"),      // its single window is unique
      (5L, "a b c")                  // duplicate of 2 (counts toward >= 3)
    ).toDF("doc_id", "text")
    val got = Corpus.removeRepeatedSpans(docs, "text", n = 3, minCount = 3L,
        idCol = Some("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "KEEP tail", 2L -> "", 3L -> "x Y z",
      4L -> "un related short", 5L -> ""))
  }

  test("removeRepeatedSpans broadcast and join paths produce identical output") {
    import spark.implicits._
    val docs = ((0L until 30L).map(i =>
      (i, s"alpha$i beta$i this exact repeated filler phrase here gamma$i")) ++
      Seq((100L, "   irregular\t\twhitespace doc"), (101L, "short")))
      .toDF("doc_id", "text")
    def run(max: Long) = Corpus.removeRepeatedSpans(docs, "text", n = 4, minCount = 5L,
        maxHeavyBroadcast = max, idCol = Some("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = run(50000000L)
    val j = run(0L)
    assert(b == j)
    assert(b.values.exists(_.contains("alpha")), "unique tokens must survive")
    assert(!b(0L).contains("repeated filler"), "planted repeats must drop")
    // synthetic-id path (no idCol) agrees too — maxHeavyBroadcast = 0 forces
    // the join-rebuild branch where the synthetic rid actually matters
    val noId = Corpus.removeRepeatedSpans(docs, "text", n = 4, minCount = 5L,
        maxHeavyBroadcast = 0L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(noId == b)
  }

  test("flag operators produce identical output on broadcast and join-fallback paths") {
    import spark.implicits._
    // maxHeavyBroadcast = 0 forces the shuffled-join fallback; default takes
    // the broadcast path — outputs must be identical row-for-row
    val docs = ((0L until 30L).map(i =>
      (i, s"alpha$i beta$i shared span of common words here\nSign up now\nunique line $i")) ++
      Seq((100L, "Sign up now\nSign up now"), (101L, "   \nshort")))
      .toDF("doc_id", "text")
    def sortRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val linesB = Corpus.lineFrequencyFlags(docs, "text", 3L, Seq("doc_id"))
    val linesJ = Corpus.lineFrequencyFlags(docs, "text", 3L, Seq("doc_id"),
      maxHeavyBroadcast = 0L)
    assert(sortRows(linesB) == sortRows(linesJ))
    val spansB = Corpus.spanFrequencyFlags(docs, "text", 4, 3L, Seq("doc_id"))
    val spansJ = Corpus.spanFrequencyFlags(docs, "text", 4, 3L, Seq("doc_id"),
      maxHeavyBroadcast = 0L)
    assert(sortRows(spansB) == sortRows(spansJ))
    val hashB = Corpus.spanHashFrequencyFlags(docs, "text", 4, 3L, Seq("doc_id"))
    val hashJ = Corpus.spanHashFrequencyFlags(docs, "text", 4, 3L, Seq("doc_id"),
      maxHeavyBroadcast = 0L)
    assert(sortRows(hashB) == sortRows(hashJ))
    assert(linesB.filter(col("boilerplate")).count() > 0, "fixture must flag something")
  }

  test("decontaminate collected and fallback paths agree; nothing stays cached on normal paths") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val docs = (0L until 40L)
      .map(i => (i, if (i % 4 == 0) "common phrase shared by many docs here"
                    else s"w$i x$i y$i z$i q$i"))
      .toDF("doc_id", "text")
    val bench = Seq("common phrase shared by many docs indeed").toDF("text")
    def run(max: Long) = Corpus.decontaminate(docs, bench, "doc_id", "text",
      maxBenchCollect = max).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def runFrac(max: Long) = Corpus.contaminationOverlap(docs, bench, "doc_id", "text",
      maxBenchCollect = max).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val collected = run(1000000L)
    assert(spark.sharedState.cacheManager.isEmpty,
      "collected decontaminate path must leave no cached frames")
    val fracCollected = runFrac(1000000L)
    assert(spark.sharedState.cacheManager.isEmpty,
      "collected contaminationOverlap path must leave no cached frames")
    // maxBenchCollect = 0 forces the persisted-DataFrame fallback
    assert(run(0L) == collected)
    assert(runFrac(0L) == fracCollected)
    spark.sharedState.cacheManager.clearCache() // release the fallback persists
    // the normal removeBoilerplate (broadcast) path also unpersists its probe
    Corpus.removeBoilerplate(docs, "text", minCount = 4L).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "removeBoilerplate broadcast path must unpersist its heavy-set probe")
  }

  test("decontaminate result is invariant to partition count") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, if (i % 4 == 0) "common phrase shared by many docs here"
                    else s"w$i x$i y$i z$i q$i"))
      .toDF("doc_id", "text")
    val bench = Seq("common phrase shared by many docs indeed").toDF("text")
    def run(parts: Int) = Corpus.decontaminate(docs.repartition(parts), bench,
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(run(1) == run(7))
    assert(run(1).count(_._2) == 10)
  }
}
