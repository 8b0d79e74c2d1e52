package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: registers graft's native codegen
  * kernels as SQL functions, so any SQL surface (spark.sql, JDBC,
  * notebooks) can call them without touching the Scala API:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * SELECT graft_dot(a.vec, b.vec)            -- fused dot product
  * SELECT graft_minhash(hashes, 64)          -- MinHash signature
  * SELECT graft_simhash(token_hashes)        -- 64-bit SimHash
  * SELECT graft_hyperplane_sig(vec, 64, 128) -- sign-bit LSH signature
  * SELECT graft_shingle_hashes(toks, txt, 3) -- distinct shingle hashes
  * SELECT graft_sorted_intersect(a, b)       -- |a ∩ b| on sorted arrays
  * SELECT graft_word_ngrams(toks, 8, true)   -- (distinct) word n-grams
  * SELECT graft_term_freqs(toks, 'a b c')    -- [token_count, tf(a), tf(b), tf(c)]
  * }}}
  *
  * Each function resolves to the SAME Expression class the DataFrame
  * operators use — one implementation, two surfaces.
  *
  * It also installs [[ParameterizeLiterals]], which keeps filter and
  * alias constants out of generated code, so queries that differ only in
  * such constants share compiled classes, and [[RemoveCachedOrderSorts]],
  * which drops the row-order sort a single-partition cache already
  * satisfies, so a limited read stops after the rows it returns, the
  * planner strategy for [[OrderedLayout]], the server's cache layout, and
  * [[CachedOffsetStrategy]], which drops a page's offset rows inside the
  * task that reads such a cache.
  * Every graft session carries these extensions (see
  * graft.engine.SessionTuning).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectColumnar(_ => ParameterizeLiterals.columnarRule)
    ext.injectOptimizerRule(_ => RemoveCachedOrderSorts)
    ext.injectPlannerStrategy(_ => OrderedLayoutStrategy)
    ext.injectPlannerStrategy(_ => CachedOffsetStrategy)
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "_FUNC_(a, b) - fused dot product of two array<double>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes (array, array)")
        DotProductExpr(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "_FUNC_(hashes, k) - MinHash signature of k permutations"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash takes (array<bigint>, k)")
        MinHashSignatureExpr(args(0), intLit(args(1), "k"))
      }))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "_FUNC_(hashes) - 64-bit SimHash of token hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash takes (array<bigint>)")
        SimHashExpr(args(0))
      }))
    ext.injectFunction((FunctionIdentifier("graft_hyperplane_sig"),
      info("graft_hyperplane_sig", "_FUNC_(vec, bits, dim) - random-hyperplane sign signature"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_hyperplane_sig takes (array<double>, bits, dim)")
        HyperplaneSignatureExpr(args(0), intLit(args(1), "bits"), intLit(args(2), "dim"))
      }))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", "_FUNC_(tokens, normText, n) - distinct n-gram shingle hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_shingle_hashes takes (array<string>, string, n)")
        ShingleHashesExpr(args(0), args(1), intLit(args(2), "n"))
      }))
    ext.injectFunction((FunctionIdentifier("graft_token_pairs"),
      info("graft_token_pairs", "_FUNC_(tokens) - all (a, b) pairs of a sorted distinct token array"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_token_pairs takes (array<string>)")
        TokenPairsExpr(args(0))
      }))
    ext.injectFunction((FunctionIdentifier("graft_sorted_intersect"),
      info("graft_sorted_intersect", "_FUNC_(a, b) - intersection count of sorted array<bigint>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_sorted_intersect takes (array, array)")
        SortedIntersectCountExpr(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_char_entropy"),
      info("graft_char_entropy", "_FUNC_(text) - Shannon entropy over characters, bits/char"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_char_entropy takes (string)")
        CharEntropyExpr(args(0))
      }))
    ext.injectFunction((FunctionIdentifier("graft_word_ngrams"),
      info("graft_word_ngrams", "_FUNC_(tokens, n, distinct) - space-joined word n-grams"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_word_ngrams takes (array<string>, n, distinct)")
        val dist = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean, _) => b
          case _ => throw new IllegalArgumentException("distinct must be a boolean literal")
        }
        WordNgramsExpr(args(0), intLit(args(1), "n"), dist)
      }))
    ext.injectFunction((FunctionIdentifier("graft_term_freqs"),
      info("graft_term_freqs",
        "_FUNC_(tokens, terms) - one-pass [token_count, tf(term)...] for a whitespace term list"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_term_freqs takes (array<string>, terms-string)")
        val ts = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
            s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString.split("\\s+").toSeq.filter(_.nonEmpty)
          case _ => throw new IllegalArgumentException("terms must be a string literal")
        }
        require(ts.nonEmpty, "terms must contain at least one term")
        TermFreqsExpr(args(0), ts)
      }))
  }
}
