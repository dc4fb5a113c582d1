package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expr.{HeavyHittersAgg, MinHashSignature, MyersLevenshtein, SimHash64, VectorDot, VectorNormSq}

/** Catalyst extension entry point (SURVEY §7.3): exposes graft's native
  * expressions to SQL as `vector_dot` / `vector_norm_sq` / `sim_hash64` /
  * `min_hash_signature(hashes, numHashes, seed)`.
  *
  * Cluster use: `--conf spark.sql.extensions=graft.GraftExtensions` or
  * `GraftSession.local(n).withExtensions(new GraftExtensions)`. For an
  * already-running session, [[GraftExtensions.register]] installs the same
  * functions into its registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("vector_norm_sq"),
      new ExpressionInfo(classOf[VectorNormSq].getName, "vector_norm_sq"),
      (args: Seq[Expression]) => VectorNormSq(args.head)))
    e.injectFunction((FunctionIdentifier("sim_hash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "sim_hash64"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    e.injectFunction((FunctionIdentifier("min_hash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName,
        "min_hash_signature"),
      GraftExtensions.buildMinHash))
    e.injectFunction((FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersAgg].getName, "heavy_hitters"),
      GraftExtensions.buildHeavyHitters))
    // myers_levenshtein(left, right, bound) -> distance, or -1 beyond
    // bound (Spark's bounded-Levenshtein contract, bit-parallel kernel).
    // injectFunction does NOT enforce arity — pattern-match so a wrong
    // arg count is a clean analysis-time error, not an
    // IndexOutOfBoundsException (ADVICE r14).
    e.injectFunction((FunctionIdentifier("myers_levenshtein"),
      new ExpressionInfo(classOf[MyersLevenshtein].getName,
        "myers_levenshtein"),
      GraftExtensions.buildMyers))
    // Whole-operator escalation: per-group top-k-by-score planned as
    // partial heap → exchange → final heap (graft.plans.TopKByScore).
    e.injectPlannerStrategy(_ => graft.plans.TopKByScoreStrategy)
    // Logical rewrite: abs(a-b) <= δ band theta-joins (nested-loop bound)
    // become bucketed equi-joins (graft.plans.BandJoinRewrite).
    e.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}

object GraftExtensions {

  /** min_hash_signature(hashes, numHashes[, seed]) — numHashes/seed must be
    * foldable integer literals (they parameterize the generated kernel). */
  private[graft] val buildMinHash: Seq[Expression] => Expression = { args =>
    require(args.length == 2 || args.length == 3,
      "min_hash_signature(hashes, numHashes[, seed])")
    def intLit(e: Expression, what: String): Long = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"min_hash_signature: $what must be an integer literal, got $other")
    }
    val numHashes = intLit(args(1), "numHashes").toInt
    val seed = if (args.length == 3) intLit(args(2), "seed") else 42L
    val params = graft.ops.Dedup.minHashParamsFor(numHashes, seed)
    MinHashSignature(args.head, params.map(_._1), params.map(_._2))
  }

  /** heavy_hitters(col, k) — k must be a foldable integer literal (it
    * sizes the Misra-Gries state). */
  private[graft] val buildHeavyHitters: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "heavy_hitters(col, k)")
    val k = args(1) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"heavy_hitters: k must be an integer literal, got $other")
    }
    HeavyHittersAgg(args.head, k)
  }

  /** myers_levenshtein(left, right, bound) — arity checked here because
    * neither injectFunction nor createOrReplaceTempFunction enforces it
    * (ADVICE r14: a wrong arg count must be a clean builder error, not an
    * IndexOutOfBoundsException). */
  private[graft] val buildMyers: Seq[Expression] => Expression = {
    case Seq(a, b, t) => MyersLevenshtein(a, b, t)
    case other => throw new IllegalArgumentException(
      "myers_levenshtein(left, right, bound) takes exactly 3 arguments, " +
        s"got ${other.length}")
  }

  /** Register the graft SQL functions on an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vector_dot",
      (args: Seq[Expression]) => VectorDot(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vector_norm_sq",
      (args: Seq[Expression]) => VectorNormSq(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("sim_hash64",
      (args: Seq[Expression]) => SimHash64(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("min_hash_signature", buildMinHash,
      "scala_udf")
    reg.createOrReplaceTempFunction("heavy_hitters", buildHeavyHitters,
      "scala_udf")
    reg.createOrReplaceTempFunction("myers_levenshtein", buildMyers,
      "scala_udf")
  }
}
