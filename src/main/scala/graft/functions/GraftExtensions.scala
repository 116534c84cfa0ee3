package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.ColumnarRule

/** Registers the engine's native expressions as SQL functions via the
  * sanctioned extension point (`SparkSessionExtensions.injectFunction`), so
  * every frontend that speaks SQL — `POST /api/sql`, the Postgres wire, the
  * CLI — can reach the pipeline primitives directly:
  *
  * {{{
  *   SELECT doc_id FROM docs WHERE simhash64(text) = simhash64('probe ...');
  *   SELECT word_ngrams(text, 3) FROM docs;
  *   SELECT l2_norm(embedding), dot_product(embedding, embedding) FROM embs;
  * }}}
  *
  * The reference exposes DataFusion's built-ins through the same SQL
  * pass-through; these are the engine-specific additions a training-data
  * pipeline needs. Same codegen'd expressions as the Scala API — no separate
  * SQL code path to diverge. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }
  private def longArg(e: Expression, fn: String, pos: Int): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def fixedArity(fn: String, n: Int)(build: Seq[Expression] => Expression): FunctionBuilder =
    args => {
      require(args.length == n, s"$fn expects $n argument(s), got ${args.length}")
      build(args)
    }

  /** name -> (arity, builder, usage) */
  private val functions: Seq[(String, Int, Seq[Expression] => Expression, String)] = Seq(
    ("simhash64", 1,
      args => TextFunctions.SimHash64(args.head),
      "simhash64(text) - 64-bit SimHash over whitespace tokens"),
    ("rolling_fingerprint", 1,
      args => TextFunctions.RollingFingerprint(args.head),
      "rolling_fingerprint(text) - order-sensitive doc fingerprint mod 2^61-1"),
    ("fnv_mix64", 1,
      args => TextFunctions.FnvMix64(args.head),
      "fnv_mix64(text) - splitmix64-finalized FNV-1a hash"),
    ("word_ngrams", 2,
      args => TextFunctions.WordNGrams(args.head, intArg(args(1), "word_ngrams", 1)),
      "word_ngrams(text, n) - distinct word n-gram shingles"),
    ("word_ngrams_all", 2,
      args => TextFunctions.WordNGramsAll(args.head, intArg(args(1), "word_ngrams_all", 1)),
      "word_ngrams_all(text, n) - word n-grams with multiplicity, in order"),
    ("minhash_signature", 3,
      args => TextFunctions.MinHashSignature(args.head,
        intArg(args(1), "minhash_signature", 1), longArg(args(2), "minhash_signature", 2)),
      "minhash_signature(shingles, k, seed) - k-permutation MinHash signature"),
    ("dot_product", 2,
      args => VectorFunctions.DotProduct(args.head, args(1)),
      "dot_product(a, b) - float-array dot product (double fold)"),
    ("l2_norm", 1,
      args => VectorFunctions.L2Norm(args.head),
      "l2_norm(v) - float-array L2 norm"))

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, arity, build, usage) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(s"graft.functions ($usage)", name),
        fixedArity(name, arity)(build)))
    }
    // serving-path folds: Sort/Limit over driver-local relations complete
    // at optimization time (graft.plans.LocalFoldRules scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.LocalFoldRules.FoldLocalSort)
    ext.injectOptimizerRule(_ => graft.plans.LocalFoldRules.FoldLocalLimit)
    ext.injectOptimizerRule(_ => graft.plans.LocalFoldRules.FoldLocalAggregate)
    ext.injectOptimizerRule(_ => graft.plans.IndexPruneRule)
    // ad-hoc serving compiles each query shape once: filter/projection
    // literals ride in the generated class's references (HoistLiterals scaladoc)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions = graft.plans.HoistLiterals
    })
  }
}
