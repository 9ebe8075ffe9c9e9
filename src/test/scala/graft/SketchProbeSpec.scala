package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Expression}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.hash.Hashers
import graft.spark.fns._

/** The seven per-key sketch probes (CMS in all three query modes) against
  * the core sketches' `check`: ASCII and non-ASCII keys, members and
  * non-members, and a null key, which probes to null. Each probe runs inside
  * WholeStageCodegen, with no ScalaUDF in the plan, and its interpreted eval
  * gives the same answers. A differential over seeded random keys (ASCII,
  * multi-byte and malformed UTF-8, the empty string) pins the byte-level
  * fast path and the `check(key.toString)` fallback to the same answers. */
class SketchProbeSpec extends AnyFunSuite {
  // eager: the probe helpers broadcast their sketches from the active session
  val spark: SparkSession = SparkTestSession.spark

  private val members = (0 until 300).flatMap(i => Seq(s"item-$i", s"ключ-$i-键"))

  /** Seeded random keys as UTF-8 bytes: ASCII with NUL (U+0000) and DEL (U+007F),
    * 2-, 3- and 4-byte code points (surrogate pairs in the Java String),
    * ASCII mixed with multi-byte, malformed UTF-8 (lone continuation bytes,
    * sequences cut short) and the empty string. */
  private val diffKeys: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(20261019L)
    def codePoints(lo: Int, hi: Int): String = {
      val cps = Array.fill(1 + rnd.nextInt(10)) {
        var cp = lo + rnd.nextInt(hi - lo)
        while (cp >= 0xd800 && cp <= 0xdfff) cp = lo + rnd.nextInt(hi - lo)
        cp
      }
      new String(cps, 0, cps.length)
    }
    def utf8(x: String): Array[Byte] = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val wellFormed = Seq("\u0000", "\u007f", "a\u0000b\u007f", "") ++
      Seq.fill(40)(codePoints(0, 0x80)) ++ Seq.fill(20)(codePoints(0x80, 0x800)) ++
      Seq.fill(20)(codePoints(0x800, 0x10000)) ++ Seq.fill(20)(codePoints(0x10000, 0x110000)) ++
      Seq.fill(20)(codePoints(0, 0x80) + codePoints(0x80, 0x110000) + codePoints(0, 0x80))
    val malformed = Seq(bytes(0x80), bytes(0x61, 0xbf, 0x62), bytes(0xe4, 0xb8),
      bytes(0x6b, 0x65, 0x79, 0xf0, 0x9f, 0x98), bytes(0xc3), bytes(0xff, 0x41)) ++
      Seq.fill(10)(utf8(codePoints(0, 0x80)) :+ (0x80 + rnd.nextInt(0x40)).toByte)
    wellFormed.map(utf8) ++ malformed
  }
  private def asString(b: Array[Byte]): String = UTF8String.fromBytes(b).toString
  // every other differential key is added, so the differential sees hits and misses
  private val diffMembers = diffKeys.zipWithIndex.collect { case (b, i) if i % 2 == 0 => asString(b) }

  private val bloom = BloomFilter.empty(2000, 0.01)
  private val cms = CountMinSketch.empty(512, 5)
  private val cbf = CountingBloomFilter.empty(2000, 0.01)
  private val ccf = new CountingCuckooFilter(2000, 4, 500, 2, true, 32)
  private val cuckoo = new CuckooFilter(2000, 4, 500, 2, true, 32)
  private val qf = QuotientFilter(12, autoExpand = true)
  private val ebf = ExpandingBloomFilter(200, 0.01)
  (members ++ diffMembers).zipWithIndex.foreach { case (k, i) =>
    bloom.add(k); cms.add(k, i % 7 + 1L); cbf.add(k, i % 3 + 1L); ccf.add(k)
    cuckoo.add(k); qf.add(k); ebf.add(k, force = true)
  }
  private val modes = Seq(CmsQueryType.Min, CmsQueryType.Mean, CmsQueryType.MeanMin)

  /** (name, probe column over `key`, core probe) for every helper. */
  private def probes(key: Column): Seq[(String, Column, String => Any)] = {
    import SketchExpressions._
    Seq[(String, Column, String => Any)](
      ("bloom", bloomMightContainNative(bloom.toBytes, key), bloom.check(_: String)),
      ("cbf", cbfCountNative(cbf.toBytes, key), cbf.check(_: String)),
      ("ccf", ccfCountNative(ccf.toBytes, 32, key), ccf.check(_: String)),
      ("cuckoo", cuckooContainsNative(cuckoo.toBytes, 32, key), cuckoo.check(_: String)),
      ("qf", qfContainsNative(qf.toBytes, key), qf.check(_: String)),
      ("ebf", ebfContainsNative(ebf.toBytes, key), ebf.check(_: String))) ++
      modes.map { m =>
        val core = CountMinSketch.fromBytes(cms.toBytes, m)
        (s"cms $m", cmsCountNative(cms.toBytes, key, m), core.check(_: String))
      }
  }

  /** id -> key: ASCII and non-ASCII members, ASCII and non-ASCII misses,
    * and a null every eighth row. */
  private val keyOf: Column = {
    val i = (col("id") / 4).cast("long")
    when(col("id") % 8 === 7, lit(null).cast("string"))
      .when(col("id") % 4 === 0, concat(lit("item-"), i))
      .when(col("id") % 4 === 1, concat(lit("ключ-"), i, lit("-键")))
      .when(col("id") % 4 === 2, concat(lit("miss-"), i))
      .otherwise(concat(lit("нет-"), i, lit("-键")))
  }

  test("each probe == the core check on members and misses; a null key probes to null") {
    val ps = probes(col("k"))
    val df = spark.range(0, 1600, 1, 4).select(keyOf.as("k"))
      .select(col("k") +: ps.map { case (n, c, _) => c.as(n) }: _*)
    val rows = df.collect()
    assert(rows.count(_.isNullAt(0)) == 200)
    rows.foreach { r =>
      val k = r.getString(0)
      ps.zipWithIndex.foreach { case ((n, _, core), i) =>
        if (k == null) assert(r.isNullAt(i + 1), s"$n on a null key")
        else assert(r.get(i + 1) == core(k), s"$n at $k")
      }
    }
    // no false negatives: every member key is present in each filter
    val memberRows = rows.filter(r => r.getString(0) != null && members.contains(r.getString(0)))
    assert(memberRows.length == 600)
    Seq("bloom", "cuckoo", "qf", "ebf").foreach { n =>
      val i = ps.indexWhere(_._1 == n) + 1
      assert(memberRows.forall(_.getBoolean(i)), n)
    }

    val plan = df.queryExecution.executedPlan
    assert(PlanUdfs.scalaUdfs(df).isEmpty, plan.toString)
    assert(codegenedProbes(df).sorted == Seq("bloom_might_contain", "cbf_count", "ccf_count",
      "cms_count", "cms_count", "cms_count", "cuckoo_contains", "ebf_contains", "qf_contains"),
      plan.toString)
    // each probe reads its sketch once from the broadcast into a field
    // typed with the sketch's concrete class, and passes that field, the
    // shared fold and the key's UTF8String itself to SketchProbes.check: no
    // probe key goes through toString()
    val code = org.apache.spark.sql.execution.debug.codegenString(plan)
    Seq(classOf[BloomFilter] -> 1, classOf[CountingBloomFilter] -> 1,
        classOf[CountingCuckooFilter] -> 1, classOf[CuckooFilter] -> 1, classOf[QuotientFilter] -> 1,
        classOf[ExpandingBloomFilter] -> 1, classOf[CountMinSketch] -> 3).foreach { case (c, n) =>
      val fields = sketchFields(code, c)
      assert(fields.length == n, s"${c.getName}:\n$code")
      fields.foreach { f =>
        val call = s"graft\\.spark\\.fns\\.SketchProbes\\.check\\($f, ${SketchProbeExpr.Fold}, \\w+\\)"
        assert(call.r.findAllIn(code).length == 1, s"$f:\n$code")
        assert(s"SketchProbes\\.check\\($f,[^;]*\\.toString\\(\\)".r.findFirstIn(code).isEmpty, code)
      }
    }
  }

  /** The generated fields that read a `c` sketch from a broadcast reference. */
  private def sketchFields(code: String, c: Class[_]): Seq[String] =
    (s"(\\w+) = \\(${java.util.regex.Pattern.quote(c.getName)}\\) " +
      "\\(\\(org\\.apache\\.spark\\.broadcast\\.Broadcast\\) references\\[\\d+\\] /\\* \\w+ \\*/\\)\\.value\\(\\);")
      .r.findAllMatchIn(code).map(_.group(1)).toSeq

  /** prettyNames of the sketch probes that run inside WholeStageCodegen. */
  private def codegenedProbes(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def inStage(p: SparkPlan): Seq[Expression] = p match {
      case _: InputAdapter => Nil
      case other => other.expressions ++ other.children.flatMap(inStage)
    }
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => inStage(w.child)
    }.flatten.flatMap(_.collect { case e: SketchProbeExpr[_] => e.prettyName })
  }

  private def serialized(e: Expression): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(e); out.close()
    bos.toByteArray
  }

  /** Java serialization round trip, as a plan outside codegen ships. */
  private def roundTrip(e: Expression): Expression =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(serialized(e)))
      .readObject().asInstanceOf[Expression]

  test("interpreted eval == the core check, also after Java serialization; null key -> null") {
    val key = BoundReference(0, StringType, nullable = true)
    val exprs = probes(col("k")).flatMap { case (n, c, core) =>
      val e = org.apache.spark.sql.GraftColumnBridge.expression(c).withNewChildren(Seq(key))
      Seq((n, e, core), (s"$n (deserialized)", roundTrip(e), core))
    }
    (members.take(50) ++ Seq("miss-1", "нет-2-键", "")).foreach { k =>
      val row = InternalRow(UTF8String.fromString(k))
      exprs.foreach { case (n, e, core) => assert(e.eval(row) == core(k), s"$n at $k") }
    }
    exprs.foreach { case (n, e, _) => assert(e.eval(InternalRow(null)) == null, n) }
  }

  /** Bloom, CMS and counting-Bloom sketches under the chained md5 hasher
    * hold the differential members; their probes always take the
    * `check(key.toString)` fallback. */
  private def md5Probes(key: Column): Seq[(String, Column, String => Any)] = {
    val bloomMd5 = BloomFilter.empty(500, 0.01, Hashers.md5)
    val cmsMd5 = CountMinSketch.empty(256, 4, CmsQueryType.Min, Hashers.md5)
    val cbfMd5 = CountingBloomFilter.empty(500, 0.01, Hashers.md5)
    diffMembers.zipWithIndex.foreach { case (k, i) =>
      bloomMd5.add(k); cmsMd5.add(k, i + 1L); cbfMd5.add(k, 2L)
    }
    val e = org.apache.spark.sql.GraftColumnBridge.expression(key)
    def column(x: Expression): Column = org.apache.spark.sql.GraftColumnBridge.column(x)
    val bc = spark.sparkContext
    Seq[(String, Column, String => Any)](
      ("bloom md5", column(BloomMightContainExpr(e, bc.broadcast(bloomMd5))), bloomMd5.check(_: String)),
      ("cms md5", column(CmsCountExpr(e, bc.broadcast(cmsMd5))), cmsMd5.check(_: String)),
      ("cbf md5", column(CbfCountExpr(e, bc.broadcast(cbfMd5))), cbfMd5.check(_: String)))
  }

  test("differential: codegen'd probes == core check(key.toString) on ASCII, multi-byte and malformed UTF-8") {
    val rows = spark.createDataFrame(diffKeys.map(Tuple1(_))).toDF("b").repartition(3)
    val key = col("b").cast("string") // cast keeps malformed bytes as they are
    val ps = probes(key) ++ md5Probes(key)
    val df = rows.select(col("b") +: ps.map { case (n, c, _) => c.as(n) }: _*)
    val out = df.collect()
    assert(codegenedProbes(df).length == ps.length, df.queryExecution.executedPlan.toString)
    assert(out.length == diffKeys.length)
    out.foreach { r =>
      val k = asString(r.getAs[Array[Byte]](0))
      ps.zipWithIndex.foreach { case ((n, _, core), i) =>
        assert(r.get(i + 1) == core(k), s"$n at ${r.getAs[Array[Byte]](0).mkString(",")}")
      }
    }
    // the members hit: each membership probe answers true for every member
    val hit = out.filter(r => diffMembers.contains(asString(r.getAs[Array[Byte]](0))))
    assert(hit.length >= diffMembers.distinct.length)
    Seq("bloom", "cuckoo", "qf", "ebf", "bloom md5").foreach { n =>
      val i = ps.indexWhere(_._1 == n) + 1
      assert(hit.forall(_.getBoolean(i)), n)
    }
  }

  test("differential: interpreted probes == core check(key.toString) on ASCII, multi-byte and malformed UTF-8") {
    val key = BoundReference(0, StringType, nullable = true)
    val exprs = (probes(col("k")) ++ md5Probes(col("k"))).map { case (n, c, core) =>
      (n, org.apache.spark.sql.GraftColumnBridge.expression(c).withNewChildren(Seq(key)), core)
    }
    diffKeys.foreach { b =>
      val row = InternalRow(UTF8String.fromBytes(b))
      exprs.foreach { case (n, e, core) =>
        assert(e.eval(row) == core(asString(b)), s"$n at ${b.mkString(",")}")
      }
    }
  }

  /** Every expression that carries a broadcast, over a payload that grows
    * with `n`: the seven probes and the decontamination probe over sketches
    * that hold `n` keys, each with capacity for `n`; the heavy-set,
    * span-removal, DSIR and centroid expressions over `n`-entry arrays; and
    * BPE and the char LM over an `n`-merge tokenizer and an LM trained on
    * `n` keys. The expressions that take no string read the columns of
    * [[sizedInputs]]. */
  private def sized(n: Int, key: Column): Seq[(String, Column)] = {
    import SketchExpressions._
    val keys = (0 until n).map(i => s"k-$i")
    val b = BloomFilter.empty(n, 0.01)
    val c = CountMinSketch.empty(math.max(n / 4, 16), 5)
    val cb = CountingBloomFilter.empty(n, 0.01)
    val cc = new CountingCuckooFilter(math.max(n / 4, 1), 4, 500, 2, true, 32)
    val ck = new CuckooFilter(math.max(n / 4, 1), 4, 500, 2, true, 32)
    val q = QuotientFilter(32 - Integer.numberOfLeadingZeros(n) + 1, autoExpand = true)
    val e = ExpandingBloomFilter(n, 0.01)
    keys.foreach { k => b.add(k); c.add(k); cb.add(k); cc.add(k); ck.add(k); q.add(k); e.add(k) }
    Seq("bloom" -> bloomMightContainNative(b.toBytes, key), "cms" -> cmsCountNative(c.toBytes, key),
      "cbf" -> cbfCountNative(cb.toBytes, key), "ccf" -> ccfCountNative(cc.toBytes, 32, key),
      "cuckoo" -> cuckooContainsNative(ck.toBytes, 32, key), "qf" -> qfContainsNative(q.toBytes, key),
      "ebf" -> ebfContainsNative(e.toBytes, key),
      "shingle" -> TextExpressions.bloomShingleHitNative(b.toBytes, 2, key)) ++
      payloadSized(n, key)
  }

  private def payloadSized(n: Int, key: Column): Seq[(String, Column)] = {
    import TextExpressions._
    val bc = spark.sparkContext
    val longs = bc.broadcast((0 until n).map(_.toLong * 7).toArray)
    val table = bc.broadcast(Array.tabulate(n)(i => i * 0.25))
    val cents = bc.broadcast(Array.tabulate(n)(i => (i, Array(i.toFloat, 1f))))
    val bpe = new graft.spark.text.BpeTokenizer((0 until n).map(i => (s"k$i", s"-$i")).toVector)
    val lm = graft.spark.text.CharLm.train((0 until n).map(i => s"k-$i"))
    Seq("heavy" -> sortedLongContainsNative(col("h"), longs),
      "spans" -> removeCoveredSpansNative(key, 2, longs),
      "dsir" -> dsirLogWeightNative(key, n, table),
      "dsir buckets" -> dsirBucketWeightNative(col("ids"), table),
      "centroid" -> VecExpressions.assignCentroid(col("v"), cents),
      "cell" -> VecExpressions.assignCellF32(col("v"), cents),
      "bpe" -> bpeMergedCountNative(key, bpe),
      "charlm" -> charLmBitsNative(key, lm))
  }

  /** The non-string inputs of [[payloadSized]] next to a key column. */
  private def sizedInputs(key: Column): Seq[Column] = Seq(key.as("k"),
    xxhash64(key).as("h"), array(length(key) % 2, lit(0)).as("ids"),
    array(length(key).cast("float"), lit(1f)).as("v"))

  test("a Java-serialized probe expression stays the same size as its sketch grows") {
    val input = spark.range(1).select(sizedInputs(lit("k-1")): _*)
    val row = input.queryExecution.toRdd.first().copy()
    def sizes(n: Int): Seq[(String, Int)] = sized(n, col("k")).map { case (name, c) =>
      val analyzed = input.select(c).queryExecution.analyzed.expressions.head.children.head
      val e = BindReferences.bindReference(analyzed, input.queryExecution.analyzed.output)
      // the interpreted probe has fetched its sketch before it is serialized
      e.eval(row)
      name -> serialized(e).length
    }
    val small = sizes(100)
    val large = sizes(100000)
    assert(small == large)
    // the Bloom filter of 100,000 keys alone exports ~117 KB
    assert(large.forall(_._2 < 4096), large)
  }

  test("rendering a probe plan never calls a sketch's toString: the plan string does not grow with the sketch") {
    def rendered(n: Int): String = {
      val df = spark.range(0, 64, 1, 2).select(sizedInputs(concat(lit("k-"), col("id"))): _*)
        .select(sized(n, col("k")).map { case (name, c) => c.as(name) }: _*)
      val qe = df.queryExecution
      val before = qe.toString + qe.explainString(org.apache.spark.sql.execution.ExtendedMode)
      df.collect()
      (before + qe.executedPlan.toString + qe.executedPlan.treeString(verbose = true) +
        qe.analyzed.expressions.mkString).replaceAll("\\d+", "N")
    }
    val small = rendered(100)
    val large = rendered(100000)
    Seq("bloom_might_contain(", "bloom_shingle_hit(", "sorted_long_contains(",
        "remove_covered_spans(", "dsir_logw_milli(", "dsir_bucket_weight_milli(",
        "assign_centroid(", "assign_cell_f32(", "bpe_count(", "charlm_bits_milli(")
      .foreach(name => assert(small.contains(name.replaceAll("\\d+", "N")), small))
    assert(!large.contains("number bits set") && !large.contains("BloomFilter:"), large)
    assert(large == small)
  }

  /** Keys for the fold differential, in order: each ASCII key twice in a
    * row and again as a distinct array with the same bytes, alternating
    * with multi-byte and malformed UTF-8 keys. */
  private val foldKeys: Seq[Array[Byte]] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val (ascii, other) = diffKeys.partition(_.forall(_ >= 0))
    val malformed = other.filter(b => !java.util.Arrays.equals(asString(b).getBytes(utf8), b))
    val multi = other.filterNot(malformed.contains)
    val asciiKeys = members.take(40).filter(_.forall(_ < 0x80)).map(_.getBytes(utf8)) ++ ascii
    assert(asciiKeys.nonEmpty && multi.nonEmpty && malformed.nonEmpty)
    (0 until 80).flatMap { i =>
      val a = asciiKeys(i % asciiKeys.length)
      val m = multi(i % multi.length)
      val x = malformed(i % malformed.length)
      Seq(a, a, a.clone(), m, a.clone(), x, x.clone(), m, a)
    }
  }

  /** Every rotation of the probe list and of its reverse. */
  private def orders[T](xs: Seq[T]): Seq[Seq[T]] =
    Seq(xs, xs.reverse).flatMap(o => o.indices.map(r => o.drop(r) ++ o.take(r)))

  test("fold differential: every probe order, codegen'd, over repeated, equal-byte and alternating keys") {
    val arr = typedLit(foldKeys)
    // one partition, so each task sees the keys in order
    val keyed = spark.range(0, foldKeys.length, 1, 1)
      .select(col("id"), element_at(arr, (col("id") + 1).cast("int")).cast("string").as("k"))
    val ps = probes(col("k")) ++ md5Probes(col("k"))
    orders(ps.indices).foreach { order =>
      val df = keyed.select(col("id") +: order.map(i => ps(i)._2.as(ps(i)._1)): _*)
      assert(codegenedProbes(df).length == ps.length, df.queryExecution.executedPlan.toString)
      val out = df.collect()
      assert(out.length == foldKeys.length)
      out.foreach { r =>
        val k = asString(foldKeys(r.getLong(0).toInt))
        order.zipWithIndex.foreach { case (p, j) =>
          assert(r.get(j + 1) == ps(p)._3(k), s"${ps(p)._1} at $k in order ${order.mkString(",")}")
        }
      }
    }
  }

  test("fold differential: every probe order, interpreted, over repeated, equal-byte and alternating keys") {
    val key = BoundReference(0, StringType, nullable = true)
    val exprs = (probes(col("k")) ++ md5Probes(col("k"))).map { case (n, c, core) =>
      (n, org.apache.spark.sql.GraftColumnBridge.expression(c).withNewChildren(Seq(key)), core)
    }
    orders(exprs).foreach { order =>
      foldKeys.foreach { b =>
        val row = InternalRow(UTF8String.fromBytes(b))
        order.foreach { case (n, e, core) => assert(e.eval(row) == core(asString(b)), s"$n at ${b.mkString(",")}") }
      }
    }
  }

  test("KeyFold: seed-d fnv-1a-64 and seed-0 fnv-1a-32 of the folded key, seeds asked in any order") {
    val rnd = new scala.util.Random(7L)
    val fold = new KeyFold
    foldKeys.foreach { b =>
      val k = asString(b)
      val ascii = b.forall(_ >= 0)
      assert(fold.of(UTF8String.fromBytes(b)) == ascii)
      if (ascii) {
        assert(fold.fnv32 == graft.hash.Fnv.fnv1a32(k, 0))
        rnd.shuffle((0 until 13).toList).foreach(d => assert(fold.seed(d) == graft.hash.Fnv.fnv1a64(k, d), s"$k seed $d"))
        assert(fold.hashes(13).take(13).toSeq == (0 until 13).map(graft.hash.Fnv.fnv1a64(k, _)))
      }
    }
  }
}
