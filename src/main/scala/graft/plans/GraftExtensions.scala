package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension bundle for graft's additions —
  * `spark.sql.extensions=graft.plans.GraftExtensions` wires the
  * TopKPerKey planner strategy AND the library's SQL function surface
  * without touching any Spark source: one config line and `SELECT
  * graft_hamming64(...)` parses in any SQL client (the unforked
  * equivalent of the reference registering into
  * `FunctionRegistry.scala`'s built-in list).  It injects no optimizer
  * rule: an HLL++ distinct count is stock `approx_count_distinct`, and
  * a one-pass blocklist screen is `graft_multi_match_count` called
  * directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
  import graft.functions._

  private def fn(name: String, usage: String, arity: Int,
      build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name, usage),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects $arity arguments")
        build(args)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectFunction(fn("graft_hamming64",
      "popcount(a ^ b) of two int64 signatures", 2,
      a => HammingDistance64(a(0), a(1))))
    ext.injectFunction(fn("graft_rolling_hash64",
      "64-bit polynomial rolling hash of a string", 1,
      a => RollingHash64(a(0))))
    ext.injectFunction(fn("graft_jaccard_sorted",
      "exact Jaccard of two sorted-distinct array<bigint>", 2,
      a => JaccardSorted(a(0), a(1))))
    ext.injectFunction(fn("graft_cosine_sim",
      "fused cosine similarity of two array<float>", 2,
      a => CosineSimilarityF(a(0), a(1))))
    ext.injectFunction(fn("graft_morton2",
      "2-D Morton (Z-order) code of two ints' low 16 bits", 2,
      a => InterleaveBits16(a(0), a(1))))
    ext.injectFunction(fn("graft_ngrams",
      "generator: word n-grams of a text column as (pos, ngram)", 2,
      a => NGramsGenerator(a(0), a(1))))
    ext.injectFunction(fn("graft_simhash64",
      "fused 64-bit SimHash of a token array<string>", 1,
      a => SimHash64(a(0))))
    ext.injectFunction(fn("graft_hilbert2",
      "2-D Hilbert index of two ints; bits/dim is an int literal", 3,
      a => HilbertIndex2D(a(0), a(1), a(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"hilbert2 bits must be an int literal, got $other")
      })))
    ext.injectFunction(fn("graft_sign_pack64",
      "64-bit sign sketch of an array<float>/array<double>", 1,
      a => SignPack64(a(0))))
    ext.injectFunction(fn("graft_multi_match_count",
      "distinct literal-array patterns present in a string (Aho-Corasick)", 2,
      a => MultiMatchCount(a(0), a(1))))
    ext.injectFunction(fn("graft_unicode_normalize",
      "Unicode-normalize a string; form is 'NFC'|'NFD'|'NFKC'|'NFKD'", 2,
      a => UnicodeNormalize(a(0), a(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(
            s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        case other => throw new IllegalArgumentException(
          s"normalization form must be a string literal, got $other")
      })))
  }
}
