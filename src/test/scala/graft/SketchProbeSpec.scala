package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.spark.fns._

/** The seven per-key sketch probes (CMS in all three query modes) against
  * the core sketches' `check`: ASCII and non-ASCII keys, members and
  * non-members, and a null key, which probes to null. Each probe runs inside
  * WholeStageCodegen, with no ScalaUDF in the plan, and its interpreted eval
  * gives the same answers. */
class SketchProbeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val members = (0 until 300).flatMap(i => Seq(s"item-$i", s"ключ-$i-键"))

  private val bloom = BloomFilter.empty(2000, 0.01)
  private val cms = CountMinSketch.empty(512, 5)
  private val cbf = CountingBloomFilter.empty(2000, 0.01)
  private val ccf = new CountingCuckooFilter(2000, 4, 500, 2, true, 32)
  private val cuckoo = new CuckooFilter(2000, 4, 500, 2, true, 32)
  private val qf = QuotientFilter(12, autoExpand = true)
  private val ebf = ExpandingBloomFilter(200, 0.01)
  members.zipWithIndex.foreach { case (k, i) =>
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

    val helper = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    assert(PlanUdfs.scalaUdfs(df).isEmpty, plan.toString)
    def inStage(p: SparkPlan): Seq[Expression] = p match {
      case _: InputAdapter => Nil
      case other => other.expressions ++ other.children.flatMap(inStage)
    }
    val codegened = helper.collect(plan) { case w: WholeStageCodegenExec => inStage(w.child) }
      .flatten.flatMap(_.collect { case e: SketchProbeExpr => e.prettyName })
    assert(codegened.sorted == Seq("bloom_might_contain", "cbf_count", "ccf_count", "cms_count",
      "cms_count", "cms_count", "cuckoo_contains", "ebf_contains", "qf_contains"), plan.toString)
    // the generated Java calls check(String) on each sketch's concrete class
    val code = org.apache.spark.sql.execution.debug.codegenString(plan)
    Seq(classOf[BloomFilter] -> 1, classOf[CountingBloomFilter] -> 1,
        classOf[CountingCuckooFilter] -> 1, classOf[CuckooFilter] -> 1, classOf[QuotientFilter] -> 1,
        classOf[ExpandingBloomFilter] -> 1, classOf[CountMinSketch] -> 3).foreach { case (c, n) =>
      val call = s"\\(\\(${java.util.regex.Pattern.quote(c.getName)}\\) references\\[\\d+\\] " +
        "/\\* \\w+ \\*/\\)\\.check\\("
      assert(call.r.findAllIn(code).length == n, s"${c.getName}:\n$code")
    }
  }

  /** Java serialization round trip, as a plan outside codegen ships. */
  private def roundTrip(e: Expression): Expression = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(e); out.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[Expression]
  }

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
}
