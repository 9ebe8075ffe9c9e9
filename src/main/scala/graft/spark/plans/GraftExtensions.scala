package graft.spark.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

import graft.spark.aggs.{HllKind, KllKind, SketchAgg, SketchUdafs}

/** Optimizer rule: rewrite exact `COUNT(DISTINCT stringCol)` into the HLL
  * sketch aggregate (SURVEY.md §4.3's optional rule). Opt-in per session:
  *
  *   spark.conf.set("spark.graft.hll.rewriteCountDistinct", "true")
  *
  * Why this matters at scale: exact COUNT(DISTINCT) expands to an Expand +
  * two exchanges keyed by the distinct value (shuffling every distinct key);
  * the HLL aggregate ([[HllKind]], the one behind `hll_count`) is one
  * partial-agg pass with a 16KB buffer per group — the distinct values never
  * cross the wire. The trade is the documented ~1.04/sqrt(2^p) relative
  * error.
  */
case class RewriteCountDistinctToHll() extends Rule[LogicalPlan] {
  private val hllP = 14

  private def enabled: Boolean =
    conf.getConfString("spark.graft.hll.rewriteCountDistinct", "false").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case a: Aggregate =>
        a.transformExpressions {
          case AggregateExpression(Count(Seq(child)), _, true, filter, _)
              if child.dataType == StringType && child.resolved =>
            SketchAgg(Seq(child), HllKind(hllP, estimate = true))
              .toAggregateExpression(isDistinct = false, filter = filter)
        }
    }
  }
}

/** Optimizer rule: rewrite `percentile_approx(col, q[, accuracy])` into the
  * KLL quantile aggregate. Opt-in per session:
  *
  *   spark.conf.set("spark.graft.kll.rewritePercentileApprox", "true")
  *
  * Why at scale: Spark's ApproximatePercentile buffers a QuantileSummaries
  * per group whose serialized size grows with the sampled count; the KLL
  * buffer is O(k) with a published ~1/k rank-error bound, so wide groupings
  * shuffle fixed-size state. Trade: a (bounded, documented) rank-error
  * difference — hence opt-in, like the HLL rewrite. The result is cast back
  * to percentile_approx's own output type (the child type), so the rewritten
  * plan's schema is unchanged.
  */
case class RewritePercentileApproxToKll() extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  private val kllK = 200

  private def enabled: Boolean =
    conf.getConfString("spark.graft.kll.rewritePercentileApprox", "false").toBoolean

  private def percentagesOf(e: Expression): Option[(Seq[Double], Boolean)] =
    if (!e.foldable) None
    else e.eval() match {
      case d: java.lang.Number => Some((Seq(d.doubleValue), false))
      case d: org.apache.spark.sql.types.Decimal => Some((Seq(d.toDouble), false))
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        Some((arr.toDoubleArray().toSeq, true))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case a: Aggregate =>
        a.transformExpressions {
          case AggregateExpression(ap: ApproximatePercentile, _, false, filter, _)
              if ap.child.resolved &&
                ap.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
                percentagesOf(ap.percentageExpression).isDefined =>
            val (ps, asArray) = percentagesOf(ap.percentageExpression).get
            val agg = SketchAgg(Seq(Cast(ap.child, DoubleType)), KllKind(kllK, ps, asArray))
              .toAggregateExpression(isDistinct = false, filter = filter)
            // preserve percentile_approx's output type exactly
            val target =
              if (asArray) ArrayType(ap.child.dataType, containsNull = false)
              else ap.child.dataType
            if (target == agg.dataType) agg else Cast(agg, target)
        }
    }
  }
}

/** Session extensions entry point:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)           // or
  *     .config("spark.sql.extensions", "graft.spark.plans.GraftExtensions")
  *
  * Injects the COUNT(DISTINCT)->HLL and percentile_approx->KLL optimizer
  * rules, the sketch aggregates of [[SketchUdafs.sqlAggregates]] (the same
  * table `SketchUdafs.registerAll` registers: `SELECT hll_count(url),
  * kll_agg(len, 200) FROM pages`) and the scalar kernels below.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  import graft.spark.aggs.SqlArgs.{int => intArg, long => longArg}

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteCountDistinctToHll())
    e.injectOptimizerRule(_ => RewritePercentileApproxToKll())

    SketchUdafs.sqlAggregates.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), build))
    }

    e.injectFunction((FunctionIdentifier("cosine_f32"),
      info("cosine_f32", "cosine_f32(a, b) - codegen'd cosine over float arrays"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => graft.spark.fns.CosineF32Expr(a, b)
        case _ => throw new IllegalArgumentException("cosine_f32 takes (a, b)")
      }))

    e.injectFunction((FunctionIdentifier("shingles"),
      info("shingles", "shingles(text[, n]) - distinct n-token shingles (default 3)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.ShinglesExpr(t, 3)
        case Seq(t, n) => graft.spark.fns.ShinglesExpr(t, intArg(n, "shingles", "n"))
        case _ => throw new IllegalArgumentException("shingles takes (text[, n])")
      }))

    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC normalization"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.NfcNormalizeExpr(t)
        case _ => throw new IllegalArgumentException("nfc_normalize takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash over whitespace tokens"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.SimHash64Expr(t)
        case _ => throw new IllegalArgumentException("simhash64 takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("bpe_count"),
      info("bpe_count", "bpe_count(text) - TRUE merged-BPE token count (standard table)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.BpeCountExpr(t, graft.spark.text.BpeTokenizer.standard)
        case _ => throw new IllegalArgumentException("bpe_count takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("span_hashes"),
      info("span_hashes", "span_hashes(text, n) - fused non-distinct n-token window hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(t, n) => graft.spark.fns.SpanHashesExpr(t, intArg(n, "span_hashes", "n"))
        case _ => throw new IllegalArgumentException("span_hashes takes (text, n)")
      }))

    e.injectFunction((FunctionIdentifier("lang_id"),
      info("lang_id", "lang_id(text) - script + char-n-gram-profile language ID"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.LangIdExpr(t)
        case _ => throw new IllegalArgumentException("lang_id takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("lang_confidence"),
      info("lang_confidence",
        "lang_confidence(text) - per-mille confidence of the lang_id decision"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.LangConfidenceExpr(t)
        case _ => throw new IllegalArgumentException("lang_confidence takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("bpe_count_bytes"),
      info("bpe_count_bytes",
        "bpe_count_bytes(text) - byte-level merged-BPE token count (GPT-2 byte alphabet)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) =>
          graft.spark.fns.BpeCountExpr(t, graft.spark.text.BpeTokenizer.standardBytes)
        case _ => throw new IllegalArgumentException("bpe_count_bytes takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("deflate_ratio_milli"),
      info("deflate_ratio_milli",
        "deflate_ratio_milli(text) - per-mille DEFLATE compression ratio (compressibility signal)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.DeflateRatioExpr(t)
        case _ => throw new IllegalArgumentException("deflate_ratio_milli takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("url_canonicalize"),
      info("url_canonicalize",
        "url_canonicalize(url) - RFC 3986 normalization + tracking-param strip"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.UrlCanonExpr(t)
        case _ => throw new IllegalArgumentException("url_canonicalize takes (url)")
      }))

    e.injectFunction((FunctionIdentifier("cjk_segment"),
      info("cjk_segment",
        "cjk_segment(text) - greedy maximum-matching CJK segmentation, tokens re-joined " +
          "with spaces (whitespace re-normalization on CJK-free text)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.CjkSegmentExpr(t)
        case _ => throw new IllegalArgumentException("cjk_segment takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("cjk_token_count"),
      info("cjk_token_count",
        "cjk_token_count(text) - CJK-aware token count (== whitespace count on CJK-free text)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.CjkTokenCountExpr(t)
        case _ => throw new IllegalArgumentException("cjk_token_count takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("charlm_bits_milli"),
      info("charlm_bits_milli",
        "charlm_bits_milli(text) - char-LM perplexity score, milli-bits/char (standard model)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => graft.spark.fns.CharLmBitsExpr(t, graft.spark.text.CharLm.standard)
        case _ => throw new IllegalArgumentException("charlm_bits_milli takes (text)")
      }))

    e.injectFunction((FunctionIdentifier("dsir_buckets"),
      info("dsir_buckets",
        "dsir_buckets(text, buckets) - DSIR hashed unigram+bigram feature bucket ids " +
          "(buckets must be an integer literal)"),
      (args: Seq[Expression]) => args match {
        case Seq(t, org.apache.spark.sql.catalyst.expressions.Literal(b: Int, _)) =>
          graft.spark.fns.DsirBucketsExpr(t, b)
        case _ =>
          throw new IllegalArgumentException("dsir_buckets takes (text, int-literal buckets)")
      }))

    e.injectFunction((FunctionIdentifier("text_embedding"),
      info("text_embedding",
        "text_embedding(text, dim[, seed]) - deterministic hashed-ngram " +
          "random-projection embedding: unit array<float>[dim] (zero vector for " +
          "empty text); dim/seed must be literals"),
      (args: Seq[Expression]) => args match {
        case Seq(t, d) =>
          graft.spark.fns.HashEmbedExpr(t, intArg(d, "text_embedding", "dim"), 42L)
        case Seq(t, d, s) =>
          graft.spark.fns.HashEmbedExpr(t, intArg(d, "text_embedding", "dim"),
            longArg(s, "text_embedding", "seed"))
        case _ =>
          throw new IllegalArgumentException(
            "text_embedding takes (text, int-literal dim[, long-literal seed])")
      }))
  }
}
