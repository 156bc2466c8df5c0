package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.Expressions._

/** SQL-surface registration for graft's native Catalyst expressions, so
  * `spark.sql("SELECT graft_cosine_sim(a, b) ...")` works exactly like a
  * builtin — codegen'd, no UDF boxing. Two entry points:
  *
  *  - Cluster-wide: `spark.sql.extensions=graft.ext.GraftExtensions`
  *    (the standard `SparkSessionExtensions` injection point; every
  *    session the cluster builds gets the functions and the two
  *    optimizer rules, [[RangeJoinRule]] and [[DeadSortRule]]).
  *  - Existing session: [[GraftExtensions.register]] adds the same
  *    functions to a live session's registry (useful in tests/REPL).
  *
  * Integer parameters (k, widths) must be literals, like builtin
  * functions with static arguments.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RangeJoinRule)
    ext.injectOptimizerRule(_ => DeadSortRule)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = {
    require(e.foldable,
      s"$fn: argument $pos must be an integer literal, got ${e.sql}")
    e.eval(null) match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn: argument $pos must be an integer literal, got $other")
    }
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions.Expressions", null, name, usage, "")

  type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** The full descriptor list (shared by the extension and the live-
    * session registrar). */
  val descriptors: Seq[Descriptor] = Seq(
    (FunctionIdentifier("graft_cosine_sim"),
      info("graft_cosine_sim",
        "graft_cosine_sim(a, b) - cosine similarity of two float vectors"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64",
        "graft_simhash64(tokens) - 64-bit SimHash of a token array"),
      (es: Seq[Expression]) => SimHash64(es(0))),
    (FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig",
        "graft_minhash_sig(tokens, w, k) - k-value MinHash signature over w-gram shingles"),
      (es: Seq[Expression]) => MinHashSig(es(0),
        intArg(es(1), "graft_minhash_sig", 2), intArg(es(2), "graft_minhash_sig", 3))),
    (FunctionIdentifier("graft_winnow_fingerprint"),
      info("graft_winnow_fingerprint",
        "graft_winnow_fingerprint(text, k, w) - winnowing fingerprints of a string"),
      (es: Seq[Expression]) => WinnowFingerprint(es(0),
        intArg(es(1), "graft_winnow_fingerprint", 2),
        intArg(es(2), "graft_winnow_fingerprint", 3))),
    (FunctionIdentifier("graft_hyperplane_lsh"),
      info("graft_hyperplane_lsh",
        "graft_hyperplane_lsh(vec, bits) - random-hyperplane LSH bucket of a float vector"),
      (es: Seq[Expression]) => HyperplaneLsh(es(0),
        intArg(es(1), "graft_hyperplane_lsh", 2))),
    (FunctionIdentifier("graft_zorder"),
      info("graft_zorder",
        "graft_zorder(a, b) - Morton interleave of two non-negative longs"),
      (es: Seq[Expression]) => ZOrderKey(es(0), es(1))),
    (FunctionIdentifier("graft_bitmap_distinct"),
      info("graft_bitmap_distinct",
        "graft_bitmap_distinct(id) - exact distinct count of dense non-negative ids via a mergeable bitmap"),
      (es: Seq[Expression]) => graft.functions.BitmapDistinct(es(0))),
    (FunctionIdentifier("graft_top_k_neighbors"),
      info("graft_top_k_neighbors",
        "graft_top_k_neighbors(sim, id, k) - bounded per-group top-k as array<struct<neighbor_id,sim>>, best first"),
      (es: Seq[Expression]) => graft.functions.TopKNeighbors(es(0), es(1),
        intArg(es(2), "graft_top_k_neighbors", 3)))
  )

  /** Register the functions on a live session (same descriptors the
    * `spark.sql.extensions` path injects). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (ident, inf, builder) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, ident, inf, builder)
    }

  /** Functions + optimizer rules on a live session, idempotently — the
    * full equivalent of building with `spark.sql.extensions`. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    register(spark)
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = installed ++
      Seq(RangeJoinRule, DeadSortRule).filterNot(r => installed.exists(_ eq r))
  }
}
