package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.fns.VecExpressions

/** The codegen'd centroid-assign expressions must be BIT-identical to the
  * boxed UDFs they replaced (round-5 verdict "what's wrong" #3):
  * [[graft.spark.fns.AssignCentroidExpr]] to SemDedup's double-math assign
  * (q_semdedup's verified flags were proven against it) and
  * [[graft.spark.fns.AssignCellF32Expr]] to Ann's float-multiply assign
  * (every stored IVF/IVFPQ index and the driver-side sample training
  * depend on that exact rule). */
class AssignExprSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("assign-expr")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def vec(seed: Long, d: Int): Array[Float] = {
    val r = new graft.core.SplitMix64(seed)
    Array.fill(d)(((r.nextLong() >>> 11) * (1.0 / (1L << 52)) - 1.0).toFloat)
  }

  private val dim = 48
  // duplicate centroid (ids 3 and 7 share a vector) exercises the
  // strict-> tie rule: the LOWER TABLE INDEX must win
  private val cents: Array[(Int, Array[Float])] = {
    val base = (0 until 9).map(i => (i, vec(100 + i, dim))).toArray
    base(7) = (7, base(3)._2.clone())
    base
  }

  /** Verbatim replica of the round-5 SemDedup.assignStructUdf. */
  private def oldStructUdf(bc: org.apache.spark.broadcast.Broadcast[Array[(Int, Array[Float])]]) =
    udf((v: Seq[Float]) => {
      var best = 0; var bestSim = Double.NegativeInfinity
      bc.value.foreach { case (i, c) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        val n = math.min(v.length, c.length)
        var j = 0
        while (j < n) {
          dot += v(j).toDouble * c(j); na += v(j).toDouble * v(j); nb += c(j).toDouble * c(j)
          j += 1
        }
        val s = if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        if (s > bestSim) { bestSim = s; best = i }
      }
      (best, bestSim)
    })

  /** Verbatim replica of the round-5 Ann.mkAssignUdf (cosineLocal inlined:
    * FLOAT multiplies, sqrt(na*nb)). */
  private def oldCellUdf(bc: org.apache.spark.broadcast.Broadcast[Array[(Int, Array[Float])]]) =
    udf((v: Seq[Float]) => {
      var best = 0; var bestSim = Double.NegativeInfinity
      bc.value.foreach { case (i, c) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
        val n = math.min(v.length, c.length)
        while (j < n) { dot += v(j) * c(j); na += v(j) * v(j); nb += c(j) * c(j); j += 1 }
        val s = if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
        if (s > bestSim) { bestSim = s; best = i }
      }
      best
    })

  private def testRows = {
    import spark.implicits._
    val rows = (0 until 300).map(i => Tuple1(vec(i.toLong, dim))) ++
      Seq(Tuple1(Array.fill(dim)(0.0f)),      // zero vector -> sim 0.0 rule
          Tuple1(vec(9999, 10)),              // short vector (length mismatch)
          Tuple1(cents(3)._2.clone()),        // exact centroid hit + tie pair
          Tuple1(cents(7)._2.map(-_)))        // exact negative of the tie pair
    // repartition blocks ConvertToLocalRelation so codegen actually runs
    rows.toDF("v").repartition(2)
  }

  test("assign_centroid is bit-identical to the boxed SemDedup UDF, ties by table index") {
    val bc = spark.sparkContext.broadcast(cents)
    val got = testRows
      .select(VecExpressions.assignCentroid(col("v"), bc).as("nu"),
        oldStructUdf(bc)(col("v")).as("old"))
      .select(col("nu.cell"), col("nu.sim"), col("old._1"), col("old._2"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(2), "cell must match the boxed UDF")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "sim must be bit-identical")
    }
    // the duplicated centroid pair (3, 7): index 3 must win the tie
    assert(!got.exists(_.getInt(0) == 7), "strict-> tie rule: lower index wins")
  }

  test("assign_cell_f32 is bit-identical to the boxed Ann UDF") {
    val bc = spark.sparkContext.broadcast(cents)
    val diffs = testRows
      .select(VecExpressions.assignCellF32(col("v"), bc).as("nu"),
        oldCellUdf(bc)(col("v")).as("old"))
      .filter(col("nu") =!= col("old")).count()
    assert(diffs == 0)
  }

  test("both expressions run inside codegen (no ScalaUDF eval boundary)") {
    val bc = spark.sparkContext.broadcast(cents)
    val df = testRows
      .select(VecExpressions.assignCentroid(col("v"), bc).as("a"),
        VecExpressions.assignCellF32(col("v"), bc).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("assign_centroid") && plan.contains("assign_cell_f32"), plan)
    assert(PlanUdfs.scalaUdfs(df).isEmpty, plan)
  }
}
