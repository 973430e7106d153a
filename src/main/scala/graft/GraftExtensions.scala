package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{ArrayDot, DiscountBand, HyperplaneSig, JaroWinkler, MinHashSig, NfcNormalize, SimHashSig, SortedIntersectCount, Tokenize}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as permanent SQL functions, so a user can enable
  * the whole surface with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (no per-session
  * registration calls). The query modules also self-register via the
  * FunctionRegistry for plain sessions; this class is the
  * deployment-grade path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.arity

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectPlannerStrategy(_ => graft.plans.OneTaskSortStrategy)
    // Top-k pushdown (rank-limit → TopKPerGroupNode). Injected into the
    // operator-optimization batch, so here it fires before the native
    // InferWindowGroupLimit and downstream pruning still cleans up.
    e.injectOptimizerRule(_ => graft.plans.TopKPushdownRule)
    e.injectFunction((new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      arity("array_dot", 2)(exprs => ArrayDot(exprs(0), exprs(1)))))
    e.injectFunction((new FunctionIdentifier("discount_band"),
      new ExpressionInfo(classOf[DiscountBand].getName, "discount_band"),
      arity("discount_band", 1)(exprs => DiscountBand(exprs.head))))
    e.injectFunction((new FunctionIdentifier("tokenize"),
      new ExpressionInfo(classOf[Tokenize].getName, "tokenize"),
      arity("tokenize", 1)(exprs => Tokenize(exprs.head))))
    e.injectFunction((new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      arity("nfc_normalize", 1)(exprs => NfcNormalize(exprs.head))))
    e.injectFunction((new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      arity("jaro_winkler", 2)(exprs =>
        JaroWinkler(exprs.head, exprs(1)))))
    // Sketch signatures + LSH verify helper — the dedup/similarity SQL
    // surface. minhash_sig takes (toks, k) with a foldable int k.
    e.injectFunction((new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      arity("minhash_sig", 2)(exprs => MinHashSig(exprs.head, {
        val k = exprs(1)
        if (!k.foldable) throw new IllegalArgumentException(
          "minhash_sig: k must be a literal integer")
        k.eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"minhash_sig: k must be a literal integer, got ${if (other == null) "NULL" else other}")
        }
      }))))
    e.injectFunction((new FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      arity("simhash_sig", 1)(exprs => SimHashSig(exprs.head))))
    e.injectFunction((new FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSig].getName, "hyperplane_sig"),
      arity("hyperplane_sig", 1)(exprs => HyperplaneSig(exprs.head))))
    e.injectFunction((new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      arity("sorted_intersect_count", 2)(exprs =>
        SortedIntersectCount(exprs(0), exprs(1)))))
    // t-digest sketch aggregate: tdigest_quantile(x, q [, compression]).
    e.injectFunction((new FunctionIdentifier("tdigest_quantile"),
      new ExpressionInfo(classOf[graft.functions.TDigestQuantile].getName,
        "tdigest_quantile"),
      exprs => exprs.length match {
        case 2 => new graft.functions.TDigestQuantile(exprs(0), exprs(1))
        case 3 => graft.functions.TDigestQuantile(exprs(0), exprs(1), exprs(2))
        case n => throw new IllegalArgumentException(
          s"tdigest_quantile expects 2 or 3 arguments, got $n")
      }))
    // Bloom + Count-Min — the stored-filter/stored-sketch SQL surface:
    // bloom_build(key, bits, hashes) / bloom_might_contain(bits, key,
    // hashes); countmin_build(key, depth, width) /
    // countmin_estimate(bytes, key, depth).
    e.injectFunction((new FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[graft.functions.BloomBuildAgg].getName,
        "bloom_build"),
      arity("bloom_build", 3)(exprs =>
        graft.functions.BloomBuildAgg(exprs(0), exprs(1), exprs(2)))))
    e.injectFunction((new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[graft.functions.BloomMightContain].getName,
        "bloom_might_contain"),
      arity("bloom_might_contain", 3)(exprs =>
        graft.functions.BloomMightContain(exprs(0), exprs(1), exprs(2)))))
    e.injectFunction((new FunctionIdentifier("countmin_build"),
      new ExpressionInfo(classOf[graft.functions.CountMinAgg].getName,
        "countmin_build"),
      arity("countmin_build", 3)(exprs =>
        graft.functions.CountMinAgg(exprs(0), exprs(1), exprs(2)))))
    e.injectFunction((new FunctionIdentifier("countmin_estimate"),
      new ExpressionInfo(classOf[graft.functions.CountMinEstimate].getName,
        "countmin_estimate"),
      arity("countmin_estimate", 3)(exprs =>
        graft.functions.CountMinEstimate(exprs(0), exprs(1), exprs(2)))))
    // Exact bitmap distinct for bounded dense domains:
    // bitmap_distinct(key, domain).
    e.injectFunction((new FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(classOf[graft.functions.BitmapDistinctAgg].getName,
        "bitmap_distinct"),
      arity("bitmap_distinct", 2)(exprs =>
        graft.functions.BitmapDistinctAgg(exprs(0), exprs(1)))))
  }
}

object GraftExtensions {
  /** Arity-validating builder wrapper, shared with the per-session
    * `register()` helpers so `tokenize()` in SQL fails with a clear
    * message instead of a raw NoSuchElementException (and extra args are
    * rejected instead of silently dropped). */
  private[graft] def arity(name: String, n: Int)(
      f: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
      f(exprs)
    }
}
