package graft.spark.sample

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.fns.TextExpressions

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023, arXiv:2302.03169 — public): select raw-corpus docs whose hashed
  * n-gram feature distribution matches a TARGET corpus, by importance
  * weighting under two bag-of-hashed-ngrams models. The missing sampling
  * modality next to domain caps / token budgets / temperature sampling:
  * those reshape BY METADATA, DSIR reshapes by CONTENT toward a reference
  * distribution (the method used to pick pretraining data that "looks like"
  * a trusted corpus).
  *
  *  - features: unigrams + bigrams of the lowercased whitespace
  *    tokenization, fnv-1a-64-hashed into `buckets` ids
  *    ([[graft.spark.fns.TextKernels.dsirBuckets]], codegen'd).
  *  - fit: ONE explode + bounded groupBy per corpus (`buckets` rows to the
  *    driver — corpus-size-independent, the same driver posture as
  *    Lloyd/BPE/char-LM training). Laplace-smoothed log p̂.
  *  - score: Σ_f [log p̂_target − log p̂_raw] per doc, one codegen'd scan
  *    against the broadcast log-ratio table, emitted as floored
  *    milli-nats (integer — engine-exact thresholds, the charlm pattern).
  *  - resample: sampling WITHOUT replacement via the Gumbel top-k trick
  *    (Vieira 2014 — public): key = log w + Gumbel(md5-derived uniform),
  *    deterministic per (seed, id); the cut is the distributed
  *    boundary-bucket selection ([[graft.spark.sample.Sampling.topKFlags]])
  *    — neither a global sort nor an O(k)-per-task TakeOrdered.
  */
object Dsir {

  /** Fitted importance model: logRatio(b) = log p̂_target(b) − log p̂_raw(b). */
  final case class Model(buckets: Int, logRatio: Array[Double]) {
    require(logRatio.length == buckets, s"table length ${logRatio.length} != buckets $buckets")

    /** Deterministic byte codec ("DSR1" | buckets i32 BE | doubles BE). */
    def toBytes: Array[Byte] =
      graft.spark.ModelCodec.write("DSR1", buckets, Nil, logRatio)
  }

  object Model {
    def fromBytes(bytes: Array[Byte]): Model = {
      val (buckets, _, table) =
        graft.spark.ModelCodec.read("DSR1", 0, bytes, "DSIR")
      Model(buckets, table)
    }
  }

  /** Hashed-feature occurrence counts over a corpus: one codegen'd explode +
    * a groupBy bounded to `buckets` rows (only the bounded table reaches the
    * driver). */
  def fitCounts(df: DataFrame, textCol: String, buckets: Int): Array[Long] = {
    val rows = df
      .select(explode(TextExpressions.dsirBucketsNative(col(textCol), buckets)).as("b"))
      .groupBy(col("b")).count()
      .collect()
    val out = new Array[Long](buckets)
    rows.foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  /** Fit the importance model: Laplace-smoothed hashed-ngram distributions
    * over the target and raw corpora (two bounded aggregates). */
  def fit(target: DataFrame, raw: DataFrame, textCol: String,
          buckets: Int = 10000, alpha: Double = 1.0): Model = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    // round 7: the two count jobs are independent — submit the target's
    // from a second thread so its tasks back-fill the raw scan's tail
    // (guide-§2.6 overlapping of independent jobs; results are plain count
    // aggregates, so concurrency cannot change the model)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val ctF = Future(fitCounts(target, textCol, buckets))(
      scala.concurrent.ExecutionContext.global)
    // a failing raw side must not leave the target's jobs running
    val cr = try fitCounts(raw, textCol, buckets) finally Await.ready(ctF, Duration.Inf)
    val ct = Await.result(ctF, Duration.Inf)
    val st = ct.sum.toDouble + alpha * buckets
    val sr = cr.sum.toDouble + alpha * buckets
    Model(buckets, Array.tabulate(buckets) { b =>
      math.log((ct(b) + alpha) / st) - math.log((cr(b) + alpha) / sr)
    })
  }

  /** Broadcast a model's table for reuse across many scoring columns.
    * Each convenience `logWeightMilli(spark, model)` call registers its own
    * broadcast that lives until session end (~80 KB at the paper's 10k
    * buckets — fine per operator call); a long-lived session building these
    * columns in a loop should broadcast once here and destroy the handle
    * when the last action over the column has run. */
  def broadcastTable(spark: SparkSession,
                     model: Model): org.apache.spark.broadcast.Broadcast[Array[Double]] =
    spark.sparkContext.broadcast(model.logRatio)

  /** Per-doc log importance weight in floored milli-nats over a
    * caller-managed broadcast table (see [[broadcastTable]]). */
  def logWeightMilli(bc: org.apache.spark.broadcast.Broadcast[Array[Double]],
                     buckets: Int)(text: Column): Column =
    TextExpressions.dsirLogWeightNative(text, buckets, bc)

  /** Per-doc log importance weight in floored milli-nats, as a codegen'd
    * Column (broadcasts the table; see [[broadcastTable]] for loops). */
  def logWeightMilli(spark: SparkSession, model: Model)(text: Column): Column =
    logWeightMilli(broadcastTable(spark, model), model.buckets)(text)

  /** Importance-resample k docs without replacement (Gumbel top-k): returns
    * the input plus `dsir_logw_milli` (long) and `selected` (boolean,
    * exactly min(k, number of non-NULL-text rows) true — a NULL text has
    * no score and is never selected). Deterministic per (model, seed):
    * u = md5-derived uniform in (0,1), key = logw + (−log(−log u)),
    * ties by id. The cut is [[graft.spark.sample.Sampling.topKFlags]]'
    * boundary-bucket refinement — NO TakeOrdered (O(k) bounded priority
    * queue in every task at the paper's k ≈ 10^8 selections) and no k-id
    * broadcast anywhere: per-round driver state is ≤ 2^16 bucket counts,
    * and the boundary-key tie window sees ~1 row (Gumbel keys collide only
    * on identical (logw, 60-bit md5 u)). DsirSpec pins equivalence with
    * the TakeOrdered definition including the tie-by-id rule. */
  def resampleFlags(df: DataFrame, idCol: String, textCol: String, model: Model,
                    k: Int, seed: String): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val spark = df.sparkSession
    val scored = df
      .withColumn("dsir_logw_milli", logWeightMilli(spark, model)(col(textCol)))
      .withColumn("__u",
        (conv(substring(md5(concat(lit(seed), col(idCol).cast("string"))), 1, 15),
          16, 10).cast("double") + 0.5) / lit(math.pow(2.0, 60)))
      .withColumn("__key",
        col("dsir_logw_milli").cast("double") / 1000.0 - log(-log(col("__u"))))
    Sampling.topKFlags(scored, idCol, col("__key"), k.toLong)
      .drop("__u", "__key")
  }
}
