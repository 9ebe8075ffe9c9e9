package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.sample.Sampling

/** Data-mixing operators: the two-level token-budget cut must equal the
  * naive windowed-prefix-sum definition exactly, for any data. */
class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("sampling")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The definition: running sum in (p, id) order, keep while <= budget. */
  private def naive(df: DataFrame, budget: Long): Map[Long, Boolean] = {
    val w = Window.partitionBy(col("g")).orderBy(col("p"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("kept", sum(col("toks")).over(w) <= budget)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
  }

  private def fast(df: DataFrame, budget: Long): Map[Long, Boolean] =
    Sampling.tokenBudgetKeepFlags(df, "g", "toks", "p", "id", budget)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap

  private def mkDf(rows: Seq[(String, Long, Long)]): DataFrame = {
    import spark.implicits._
    // priority column must be a real hex hash — build it in the plan
    rows.toDF("g", "id", "toks").withColumn("p", md5(concat(col("g"), col("id"))))
  }

  test("two-level budget cut equals the naive window, randomized") {
    val rnd = new scala.util.Random(42)
    val rows = (0L until 400L).map { id =>
      (s"g${id % 3}", id, rnd.nextInt(50).toLong)
    }
    val df = mkDf(rows)
    for (budget <- Seq(0L, 1L, 100L, 1000L, 4000L, 100000L)) {
      assert(fast(df, budget) == naive(df, budget), s"budget=$budget")
    }
  }

  test("zero-token docs at the exact budget boundary are kept") {
    val rows = (0L until 60L).map(id => ("g", id, if (id % 4 == 0) 0L else 7L))
    val df = mkDf(rows)
    for (budget <- Seq(0L, 7L, 14L, 21L, 70L)) {
      assert(fast(df, budget) == naive(df, budget), s"budget=$budget")
    }
  }

  test("budget cut is invariant to partition count") {
    val rows = (0L until 200L).map(id => (s"g${id % 2}", id, (id % 13) + 1))
    val a = fast(mkDf(rows).repartition(1), 300L)
    val b = fast(mkDf(rows).repartition(11), 300L)
    assert(a == b)
    assert(a == naive(mkDf(rows), 300L))
  }

  test("distributed prefix sum equals the naive per-group window") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 300L).map(id => (s"g${id % 3}", id, rnd.nextInt(40).toLong))
    val df = mkDf(rows)
    val naiveW = Window.partitionBy(col("g")).orderBy(col("p"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("ce", sum(col("toks")).over(naiveW) - col("toks"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("ce")).toMap
    for (parts <- Seq(1, 9)) {
      val fast = Sampling.groupPrefixSums(df.repartition(parts), "g", "toks", "p", "id")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cum_excl")).toMap
      assert(fast == naive, s"parts=$parts")
    }
  }

  test("groupCapFlags keeps exactly cap docs per group in priority order") {
    import spark.implicits._
    val df = (0L until 90L).map(id => (s"d${id % 3}", id)).toDF("g", "id")
      .withColumn("p", md5(col("id").cast("string")))
    val kept = Sampling.groupCapFlags(df, Seq("g"), col("p"), col("id"), cap = 10)
      .filter(col("kept"))
    assert(kept.groupBy(col("g")).count().collect().forall(_.getLong(1) == 10))
    // deterministic: same result on rerun
    val ids1 = kept.select(col("id")).collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.groupCapFlags(df.repartition(7), Seq("g"), col("p"), col("id"), 10)
      .filter(col("kept")).select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("temperatureRates: T=1 natural, T>1 lifts small groups, smallest = maxRate") {
    val counts = Map("en" -> 8000L, "de" -> 1000L, "pt" -> 125L)
    // T=1: (n/N)^0 = 1 for every group -> all rates = maxRate
    assert(Sampling.temperatureRates(counts, 1.0).values.forall(_ == 1.0))
    val t2 = Sampling.temperatureRates(counts, 2.0)
    // T=2: rate ∝ sqrt(1/n); the SMALLEST group needs the highest rate and
    // pins at maxRate; the others scale by sqrt(n_small / n_g)
    assert(t2("pt") == 1.0)
    assert(math.abs(t2("de") - math.sqrt(125.0 / 1000.0)) < 1e-12)
    assert(math.abs(t2("en") - math.sqrt(125.0 / 8000.0)) < 1e-12)
    val t2c = Sampling.temperatureRates(counts, 2.0, maxRate = 0.1)
    assert(t2c("pt") == 0.1)
    assert(math.abs(t2c("en") - 0.1 * math.sqrt(125.0 / 8000.0)) < 1e-12)
  }

  test("hash sampling is deterministic, partition-invariant, and rate-accurate") {
    import spark.implicits._
    val df = (0L until 20000L).map(i => ("g", i)).toDF("g", "id")
    val th = Sampling.rateThreshold8(0.25)
    assert(th == "40000000")
    // rate 1.0 keeps EVERYTHING — "g" sorts above all hex, so even an
    // md5 prefix of "ffffffff" passes the strict < (review finding: the
    // old "ffffffff" clamp silently dropped ~2^-32 of a full-rate group)
    assert(Sampling.rateThreshold8(1.0) == "g")
    assert("ffffffff" < Sampling.rateThreshold8(1.0))
    def keptSet(parts: Int): Set[Long] =
      Sampling.temperatureSampleFlags(df.repartition(parts), "g",
          col("id").cast("string"), Map("g" -> 0.25))
        .filter(col("kept")).select(col("id")).collect().map(_.getLong(0)).toSet
    val a = keptSet(2)
    assert(a == keptSet(9))
    // md5 prefixes are uniform: 25% ± a generous tolerance
    assert(math.abs(a.size / 20000.0 - 0.25) < 0.02, s"rate ${a.size / 20000.0}")
    // a group with no rate keeps nothing
    val none = Sampling.temperatureSampleFlags(df, "g", col("id").cast("string"),
        Map("other" -> 1.0))
      .filter(col("kept")).count()
    assert(none == 0L)
  }

  test("groupCapFlags equals the naive row_number definition, randomized") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // many groups of wildly different sizes (incl. one "hot domain" far
    // above the cap) — the old whole-group window and the new distributed
    // boundary cut must agree exactly
    val rows = (0L until 600L).map { id =>
      val g = if (id < 300) "hot" else s"g${rnd.nextInt(40)}"
      (g, id, s"doc-$id-${rnd.nextInt(1000)}")
    }
    val df = rows.toDF("g", "id", "text").withColumn("p", md5(col("text")))
    for (cap <- Seq(0, 1, 5, 37, 299, 1000)) {
      val naive = df.withColumn("kept",
          row_number().over(Window.partitionBy(col("g"))
            .orderBy(col("p"), col("id"))) <= cap)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
      val fast = Sampling.groupCapFlags(df, Seq("g"), col("p"), col("id"), cap)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
      assert(fast == naive, s"cap=$cap")
    }
    // partition invariance + multi-column groups (the curate shape)
    val multi = df.withColumn("g2", col("id") % 3)
    val a = Sampling.groupCapFlags(multi.repartition(3), Seq("g", "g2"),
        col("p"), col("id"), 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    val b = Sampling.groupCapFlags(multi.repartition(13), Seq("g", "g2"),
        col("p"), col("id"), 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(a == b)
    val naiveMulti = multi.withColumn("kept",
        row_number().over(Window.partitionBy(col("g"), col("g2"))
          .orderBy(col("p"), col("id"))) <= 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(a == naiveMulti)
  }

  test("groupCapFlags: null groups and null priorities survive with row_number semantics") {
    import spark.implicits._
    val df = Seq(
      (Some("g"), 1L, Some("aa")),
      (Some("g"), 2L, None),          // null priority: sorts FIRST in its group
      (None, 3L, Some("bb")),         // null group: its own partition
      (None, 4L, Some("aa")),
      (Some("g"), 5L, Some("ab"))).toDF("g", "id", "p")
    val naive = df.withColumn("kept",
        row_number().over(Window.partitionBy(col("g"))
          .orderBy(col("p"), col("id"))) <= 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    val got = Sampling.groupCapFlags(df, Seq("g"), col("p"), col("id"), 1)
    assert(got.count() == 5, "every input row must survive (null keys included)")
    val fast = got.collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(fast == naive, s"$fast vs $naive")
    // a numeric priority is rejected loudly instead of silently re-ranked
    assertThrows[IllegalArgumentException](
      Sampling.groupCapFlags(df, Seq("g"), col("id"), col("id"), 1))
  }

  test("groupCapFlags plan sorts only (group, bucket) partitions, never a whole group") {
    import spark.implicits._
    val df = (0L until 400L).map(id => ("dom", id, s"t$id")).toDF("g", "id", "text")
      .withColumn("p", md5(col("text")))
    val plan = Sampling.groupCapFlags(df, Seq("g"), col("p"), col("id"), 5)
      .queryExecution.executedPlan.toString
    // every window that sorts DATA rows (order key __p) must be scoped to
    // (group, __bkt) — a whole-group data sort would partition by [g]
    // alone; the other window (the per-group running bucket offsets) only
    // ever sees <= 256 aggregated rows per group and is fine
    val specs = "windowspecdefinition\\(".r.findAllMatchIn(plan).map(_.start)
      .map(i => plan.substring(i, math.min(plan.length, i + 250))).toList
    val dataWindows = specs.filter(_.contains("__p#"))
    assert(dataWindows.nonEmpty, s"expected a boundary data window in:\n$plan")
    dataWindows.foreach { s =>
      val bkt = s.indexOf("__bkt#")
      assert(bkt >= 0 && bkt < s.indexOf("__p#"),
        s"data window must partition by (group, __bkt), got: $s")
    }
  }

  // ---- distributed exact top-k selection (topKFlags) ----

  /** The definition topKFlags must reproduce: orderBy(key desc, id).limit(k). */
  private def takeOrderedIds(df: DataFrame, k: Int): Set[Long] =
    df.orderBy(col("key").desc, col("id")).limit(k)
      .select(col("id")).collect().map(_.getLong(0)).toSet

  private def topKIds(df: DataFrame, k: Long): Set[Long] =
    Sampling.topKFlags(df, "id", col("key"), k)
      .filter(col("selected")).select(col("id")).collect().map(_.getLong(0)).toSet

  test("topKFlags equals TakeOrdered for random keys incl duplicates and ties, any k") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // duplicate-heavy key pool (only 25 distinct doubles over 300 rows,
    // negatives, zero and subnormals included) forces the boundary key to
    // carry multi-row ties — the tie-by-id window path — on most k values
    val pool = Seq(-1e300, -17.25, -0.0, 0.0, 4.9e-324, 1e-9, 0.5, 1.0, 2.0, 1e308) ++
      (0 until 15).map(_ => rnd.nextDouble() * 200 - 100)
    val rows = (0L until 300L).map(id => (id, pool(rnd.nextInt(pool.size))))
    val df = rows.toDF("id", "key")
    for (k <- Seq(1, 2, 7, 25, 137, 299, 300, 1000)) {
      val expect = takeOrderedIds(df, k)
      val got = topKIds(df, k.toLong)
      assert(got == expect, s"k=$k")
      assert(got.size == math.min(k, 300), s"k=$k cardinality")
      // force the DISTRIBUTED tie walk (tieCollectMax below any tie-class
      // size) — must agree with the bounded-collect path on every k
      val gotWalk = Sampling.topKFlags(df, "id", col("key"), k.toLong,
          tieCollectMax = 1L)
        .filter(col("selected")).select(col("id")).collect().map(_.getLong(0)).toSet
      assert(gotWalk == expect, s"k=$k (tie walk)")
    }
    // partition-count invariance (the cut must not depend on layout)
    assert(topKIds(df.repartition(13), 137L) == takeOrderedIds(df, 137))
  }

  test("topKFlags: adversarial all-tied key takes the distributed tie walk (no window)") {
    import spark.implicits._
    // EVERY row shares one key (the round-6 verdict scale cliff: the old
    // tie cut was a single-task global window over the whole tie class);
    // negative ids exercise the signed ~id refinement. Forcing
    // tieCollectMax below the class size takes the walk path.
    val df = (0L until 5000L).map(id => (id - 2500L, 1.5)).toDF("id", "key")
    val flags = Sampling.topKFlags(df, "id", col("key"), 1234L, tieCollectMax = 64L)
    val got = flags.filter(col("selected")).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(got == (-2500L until -1266L).toSet)
    val plan = flags.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"tie cut must never window:\n$plan")
    assert(!plan.contains("TakeOrdered"), plan)
  }

  test("topKFlags: the tie walk ranks a Long.MinValue ~id bucket last") {
    import spark.implicits._
    // id Long.MaxValue flips to ~id == Long.MinValue; the walk narrows into
    // that top-level bucket and must rank its Long.MinValue key below
    // Long.MinValue + 1 (negating Long.MinValue overflows, so a sort on the
    // negated bucket ranks it first and selects every tied id)
    val df = Seq(Long.MaxValue, Long.MaxValue - 1, 5L).map(id => (id, 1.5)).toDF("id", "key")
    val got = Sampling.topKFlags(df, "id", col("key"), 2L, tieCollectMax = 1L)
      .filter(col("selected")).select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, Long.MaxValue - 1))
  }

  test("topKFlags: NaN keys and internal-name collisions fail loudly") {
    import spark.implicits._
    val nan = Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("id", "key")
    val ex = intercept[Exception](
      Sampling.topKFlags(nan, "id", col("key"), 2L).collect())
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(ex).contains("NaN"), s"got: ${messages(ex)}")
    val collide = Seq((1L, 1.0, true)).toDF("id", "key", "selected")
    assertThrows[IllegalArgumentException](
      Sampling.topKFlags(collide, "id", col("key"), 1L))
    val strId = Seq(("a", 1.0)).toDF("id", "key")
    assertThrows[IllegalArgumentException](
      Sampling.topKFlags(strId, "id", col("key"), 1L))
  }

  test("topKFlags: all rows share one key -> pure tie-by-id selection") {
    import spark.implicits._
    val df = (0L until 50L).map(id => (id, 3.25)).toDF("id", "key")
    assert(topKIds(df, 20L) == (0L until 20L).toSet)
  }

  test("topKFlags: null keys are kept rows but never selected") {
    import spark.implicits._
    val df = (0L until 40L).map(id =>
      (id, if (id % 4 == 0) None else Some(id.toDouble))).toDF("id", "key")
    val flags = Sampling.topKFlags(df, "id", col("key"), 35L)
    assert(flags.count() == 40, "null-key rows stay in the output")
    val sel = flags.filter(col("selected")).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    // only 30 non-null keys exist; all are selected, no null sneaks in
    assert(sel == (0L until 40L).filter(_ % 4 != 0).toSet)
  }

  test("topKFlags plan has no TakeOrdered, no per-k state, no window") {
    import spark.implicits._
    val df = (0L until 500L).map(id => (id, (id * 37 % 101).toDouble)).toDF("id", "key")
    val plan = Sampling.topKFlags(df, "id", col("key"), 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrdered"),
      s"selection must not rebuild the O(k)-per-task TakeOrdered:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"selection must not broadcast a k-sized id set:\n$plan")
    // round 7: flags are pure comparisons in ONE pass — no union of a tie
    // branch, no window (the old partition-less tie window was a
    // single-task sort over the whole boundary tie class)
    assert(!plan.contains("Window"), s"flags must be windowless:\n$plan")
    assert(!plan.contains("Union"), s"flags must be a single pass:\n$plan")
  }

  test("sortableBits is monotone over the double line") {
    val vals = Seq(Double.NegativeInfinity, -1e308, -2.5, -1e-9, -4.9e-324,
      -0.0, 0.0, 4.9e-324, 1e-9, 2.5, 1e308, Double.PositiveInfinity)
    val bits = vals.map(graft.spark.fns.VecKernels.sortableBits)
    assert(bits == bits.sorted, "signed bit order must equal numeric order")
    // -0.0 normalizes to 0.0 (Spark comparison semantics: they tie, and a
    // tie must fall through to the id rule, not the sign bit)
    assert(graft.spark.fns.VecKernels.sortableBits(0.0) ==
      graft.spark.fns.VecKernels.sortableBits(-0.0))
  }

  test("a supplementary-char priority sorts after U+FF21 in the budget's bucket order") {
    import spark.implicits._
    // Spark orders strings by UTF-8 bytes: U+FF21 < U+1F600, while
    // String.compareTo's UTF-16 units put the surrogate pair first
    val df = Seq(("g", 1L, 10L, "\uFF21a"), ("g", 2L, 10L, "\uD83D\uDE00a"))
      .toDF("g", "id", "toks", "p")
    assert("\uD83D\uDE00a".compareTo("\uFF21a") < 0)
    for (budget <- Seq(0L, 10L, 20L)) assert(fast(df, budget) == naive(df, budget), s"budget=$budget")
    assert(fast(df, 10L) == Map(1L -> true, 2L -> false))
  }

  test("the per-(group, bucket) totals collects fail loudly past a lowered bound") {
    // 3 groups x up to 256 buckets: far more than 8 totals
    val df = mkDf((0L until 300L).map(id => (s"g${id % 3}", id, 1L)))
    val budget = intercept[IllegalStateException] {
      Sampling.driverTotalsLimit.withValue(8L) {
        Sampling.tokenBudgetKeepFlags(df, "g", "toks", "p", "id", 100L)
      }
    }
    assert(budget.getMessage.contains("Sampling.tokenBudgetKeepFlags") &&
      budget.getMessage.contains("limit 8"), budget.getMessage)
    val prefix = intercept[IllegalStateException] {
      Sampling.driverTotalsLimit.withValue(8L)(Sampling.groupPrefixSums(df, "g", "toks", "p", "id"))
    }
    assert(prefix.getMessage.contains("Sampling.groupPrefixSums") &&
      prefix.getMessage.contains("limit 8"), prefix.getMessage)
    // at the default bound both run
    assert(fast(df, 100L) == naive(df, 100L))
  }

  // ---- capThenBudgetKeep: the driver kernel vs the distributed pair ----

  private val capBudgetSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, lang STRING, source STRING, digest STRING, toks BIGINT")

  private def capBudgetDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), capBudgetSchema)

  /** groupCapFlags followed by tokenBudgetKeepFlags, as curate's distributed
    * path composes them: the kept doc_ids. */
  private def distributedKept(df: DataFrame, cap: Int, budget: Long): Set[Long] = {
    val capped = Sampling.groupCapFlags(df, Seq("lang", "source"), col("digest"),
      col("doc_id"), cap).filter(col("kept")).drop("kept")
    Sampling.tokenBudgetKeepFlags(capped, "lang", "toks", "digest", "doc_id", budget)
      .filter(col("kept")).select(col("doc_id")).collect().map(_.getLong(0)).toSet
  }

  private def kernelKept(rows: Seq[Row], cap: Int, budget: Long): Set[Long] =
    Sampling.capThenBudgetKeep(rows.toArray, cap, budget)
      .getOrElse(fail("a null-free relation must take the driver path"))
      .map(_.getLong(0)).toSet

  test("capThenBudgetKeep equals groupCapFlags then tokenBudgetKeepFlags, randomized") {
    val rnd = new scala.util.Random(13)
    // digests share 2-char prefixes (one bucket), repeat across distinct
    // doc_ids, and mix U+FF21 with a surrogate pair (UTF-16 and UTF-8
    // orders differ); a quarter of the docs carry zero tokens
    val prefixes = Seq("", "a", "aa", "ab", "b7", "\uFF21", "\uFF21x", "\uD83D\uDE00", "\u00e9")
    val pool = (0 until 40).map(i => prefixes(i % prefixes.size) + rnd.nextInt(50).toString)
    for (round <- 0 until 2) {
      val ids = rnd.shuffle((0L until 500L).map(_ * 7 - 900))
      val rows = ids.map { id =>
        Row(id, s"l${rnd.nextInt(3)}", s"s${rnd.nextInt(4)}",
          if (rnd.nextInt(3) == 0) pool(rnd.nextInt(pool.size))
          else prefixes(rnd.nextInt(prefixes.size)) + rnd.nextInt(1000000).toString,
          if (rnd.nextInt(4) == 0) 0L else rnd.nextInt(30).toLong)
      }
      val df = capBudgetDf(rows).repartition(3).localCheckpoint(true)
      for (cap <- Seq(0, 20, 1000); budget <- Seq(0L, 50L, 400L, 1L << 20)) {
        assert(kernelKept(rows, cap, budget) == distributedKept(df, cap, budget),
          s"round=$round cap=$cap budget=$budget")
      }
    }
  }

  test("capThenBudgetKeep: zero-token docs at the exact budget boundary, cap 0, budget 0") {
    // one (lang, source) group: 7-token docs with a zero-token doc after
    // every third, so running sums land exactly on multiples of 7
    val rows = (0L until 40L).map(id => Row(id, "en", "a.com", f"$id%02x" + "ff",
      if (id % 4 == 3) 0L else 7L))
    val df = capBudgetDf(rows)
    for (cap <- Seq(0, 40); budget <- Seq(0L, 7L, 21L, 70L)) {
      assert(kernelKept(rows, cap, budget) == distributedKept(df, cap, budget),
        s"cap=$cap budget=$budget")
    }
    assert(kernelKept(rows, 40, 21L) == Set(0L, 1L, 2L, 3L))
    assert(kernelKept(rows, 0, 1000L).isEmpty)
    assert(kernelKept(rows, 40, 0L).isEmpty) // the first doc already spends 7
  }


  test("capThenBudgetKeep declines a null in any column, a negative token count, another layout") {
    val ok = Row(1L, "en", "a.com", "ab", 3L)
    for (c <- 0 until 5) {
      val withNull = Row.fromSeq(ok.toSeq.updated(c, null))
      assert(Sampling.capThenBudgetKeep(Array(ok, withNull), 5, 100L).isEmpty, s"null in column $c")
    }
    assert(Sampling.capThenBudgetKeep(Array(ok, Row(2L, "en", "a.com", "cd", -1L)), 5, 100L).isEmpty)
    for (odd <- Seq(Row(2, "en", "a.com", "cd", 1L), Row(2L, 7, "a.com", "cd", 1L),
                    Row(2L, "en", 7, "cd", 1L), Row(2L, "en", "a.com", "cd", 1))) {
      assert(Sampling.capThenBudgetKeep(Array(ok, odd), 5, 100L).isEmpty, odd)
    }
    assert(Sampling.capThenBudgetKeep(Array(ok), 5, 100L).get.toSeq == Seq(ok))
    intercept[IllegalArgumentException](Sampling.capThenBudgetKeep(Array(ok), -1, 100L))
  }
}
