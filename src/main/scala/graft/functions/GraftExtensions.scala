package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — deploy-wide registration of the
  * engine's custom expressions, so a cluster configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions` has
  * vector_dot_f32 / vector_norm_f32 / rolling_hash31 available in every
  * session's SQL surface without per-session register() calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // 3-arg ctor: the only non-deprecated form without the validated
  // group/source taxonomy; usage lives in the expressions' scaladoc
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions.VectorExpressions", null, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // operator-optimization batch (fixpoint): both rewrites are idempotent
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinPruning)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("vector_dot_f32"),
      info("vector_dot_f32", "vector_dot_f32(a, b) - dot product of two float arrays in double"),
      es => VectorExpressions.VectorDotF32(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("vector_norm_f32"),
      info("vector_norm_f32", "vector_norm_f32(a) - L2 norm of a float array in double"),
      es => VectorExpressions.VectorNormF32(es.head)))
    ext.injectFunction((
      FunctionIdentifier("rolling_hash31"),
      info("rolling_hash31", "rolling_hash31(s) - 31-polynomial rolling hash mod 1e9+7"),
      es => VectorExpressions.RollingHash31(es.head)))
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      info("kmv_sketch", "kmv_sketch(hash_col, k) - bottom-k distinct values, sorted"),
      SketchAggregates.build))
    ext.injectFunction((
      FunctionIdentifier("mg_topk"),
      info("mg_topk", "mg_topk(string_col, k) - Misra-Gries heavy-hitter candidates with lower-bound counts"),
      SketchAggregates.buildMg))
    ext.injectFunction((
      FunctionIdentifier("range_bucket_search"),
      info("range_bucket_search",
        "range_bucket_search(desc_flags, boundaries, key...) - binary-search range bucket over frozen boundaries"),
      RangeBucketSearch.build))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands8"),
      info("minhash_bands8", "minhash_bands8(text, k) - fused k-word-shingle MinHash band values (index = band id)"),
      VectorExpressions.minhashBands8Builder))
    ext.injectFunction((
      FunctionIdentifier("charhist_entries"),
      info("charhist_entries", "charhist_entries(text, blocks) - sorted (k, c) per-code-point block histogram entries"),
      VectorExpressions.charHistEntriesBuilder))
    ext.injectFunction((
      FunctionIdentifier("aligned_counts"),
      info("aligned_counts", "aligned_counts(entries, keys) - count vector of sorted (k, c) entries aligned to keys; BOTH inputs must be sorted ascending (binary-search contract)"),
      VectorExpressions.alignedCountsBuilder))
    ext.injectFunction((
      FunctionIdentifier("marginal_counts"),
      info("marginal_counts", "marginal_counts(entries, keys) - mod-1000 marginal count vector over sorted keys; BOTH inputs must be sorted ascending (binary-search contract)"),
      VectorExpressions.marginalCountsBuilder))
    ext.injectFunction((
      FunctionIdentifier("md5_seeded8"),
      info("md5_seeded8", "md5_seeded8(s) - [md5(s || '#0'), ..., md5(s || '#7')] in one pass"),
      VectorExpressions.md5Seeded8Builder))
    ext.injectFunction((
      FunctionIdentifier("damerau_levenshtein"),
      info("damerau_levenshtein", "damerau_levenshtein(a, b) - true Damerau-Levenshtein distance over UTF-8 bytes"),
      VectorExpressions.damerauLevenshteinBuilder))
  }
}
