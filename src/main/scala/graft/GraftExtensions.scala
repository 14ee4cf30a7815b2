package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{DotProduct, Md5Bucket, Md5Lower64, MinHashSignature, NormSquared, SimHash64, SubwordCount, Tokenize, WordShingles, WordWindows}

/** Session extension (`spark.sql.extensions=graft.GraftExtensions`):
  * registers the graft native expressions as SQL functions so pure-SQL
  * pipelines (spark.sql / thrift / notebooks) can use them:
  *
  * {{{
  *   SELECT graft_simhash64(graft_word_shingles(split(text, ' '), 3)),
  *          graft_dot(a, b), graft_norm2(v),
  *          graft_minhash_signature(shingles, 64)
  * }}}
  *
  * Pruning itself needs no planner/analyzer rules (it lives in the
  * FileIndex — SURVEY.md §7.1 delta #1). Beside these functions and the
  * [[graft.index.GraftSqlParser]] DDL parser (CREATE/DROP/REFRESH/SHOW
  * INDEX — see its scaladoc for the grammar), the extension injects the
  * index's optimizer rules and the planner strategy that binds an
  * indexed scan's filter literals as parameters
  * ([[org.apache.spark.sql.graft.IndexedScanStrategy]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new graft.index.GraftSqlParser(delegate))
    // metadata-only aggregates + (opt-in) transparent index substitution
    // for pure-SQL sessions; API users get the same rules lazily on first
    // `spark.index` touch (GraftRules.ensure, which registers nothing a
    // session built with these extensions already runs)
    ext.injectOptimizerRule(s => new org.apache.spark.sql.graft.MetadataAggregateRule(s))
    ext.injectOptimizerRule(s => new org.apache.spark.sql.graft.AutoIndexSubstitutionRule(s))
    ext.injectOptimizerRule(s => new org.apache.spark.sql.graft.TopKRewriteRule(s))
    ext.injectOptimizerRule(s => new org.apache.spark.sql.graft.JoinPruneRule(s))
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.IndexedScanStrategy)

    def register(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        builder))

    register("graft_simhash64",
      "graft_simhash64(tokens) - 64-bit SimHash of a string array") {
      exprs => SimHash64(exprs.head)
    }
    register("graft_word_shingles",
      "graft_word_shingles(tokens, k) - k-word shingles of a token array") {
      exprs => WordShingles(exprs.head, intLit(exprs(1), "k"))
    }
    register("graft_word_windows",
      "graft_word_windows(tokens, k, stride) - strided token windows (stride == k: segments)") {
      exprs => WordWindows(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "stride"))
    }
    register("graft_minhash_signature",
      "graft_minhash_signature(shingles, numHashes) - MinHash signature") {
      exprs => MinHashSignature(exprs.head, intLit(exprs(1), "numHashes"))
    }
    register("graft_dot",
      "graft_dot(a, b) - double-precision dot product of numeric arrays") {
      exprs => DotProduct(exprs.head, exprs(1))
    }
    register("graft_norm2",
      "graft_norm2(a) - squared L2 norm of a numeric array") {
      exprs => NormSquared(exprs.head)
    }
    register("graft_tokenize",
      "graft_tokenize(text) - lowercase alphanumeric tokens of a string") {
      exprs => Tokenize(exprs.head)
    }
    register("graft_subword_count",
      "graft_subword_count(tokens, unit) - sum of max(1, ceil(chars/unit)) per token") {
      exprs => SubwordCount(exprs.head, intLit(exprs(1), "unit"))
    }
    register("graft_md5_lower64",
      "graft_md5_lower64(s) - md5 lower 8 bytes as a signed long (bits = DuckDB md5_number_lower)") {
      exprs => Md5Lower64(exprs.head)
    }
    register("graft_md5_bucket",
      "graft_md5_bucket(s, buckets) - unsigned md5-lower-64 mod buckets (feature hashing)") {
      exprs => Md5Bucket(exprs.head, intLit(exprs(1), "buckets"))
    }
  }
}
