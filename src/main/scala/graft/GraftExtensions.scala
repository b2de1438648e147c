package graft

import graft.functions.{CosineSimilarity, MinHashBands, SimHashExpr, SortedIntersectSize, TokenHashes}
import graft.plans.{AsOfJoinStrategy, LevenshteinPruneRule}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Canonical SparkSessionExtensions entry point for the library — the
  * registration path a deployment uses via
  * `spark.sql.extensions=graft.GraftExtensions` (or `.withExtensions`):
  * every session built from that config gets the native cosine, SimHash
  * and MinHash expressions in its function registry and the as-of join
  * strategy in its planner, with no per-query registration calls. The runtime-injection twins
  * (GraftSqlBridge.registerFunction / addStrategy) exist for already-built
  * sessions; both paths install the same objects.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("graft_cosine", classOf[CosineSimilarity])(c => CosineSimilarity(c(0), c(1)))
    fn("graft_simhash", classOf[SimHashExpr])(c => SimHashExpr(c.head))
    fn("graft_token_hashes", classOf[TokenHashes])(c => TokenHashes(c.head))
    fn("graft_minhash_bands", classOf[MinHashBands])(c => MinHashBands(c(0), intArg(c(1)), intArg(c(2))))
    fn("graft_intersect_size", classOf[SortedIntersectSize])(c => SortedIntersectSize(c(0), c(1)))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // row-level SQL DML (DELETE/UPDATE/MERGE) on graft catalog identifiers
    ext.injectPlannerStrategy(_ => graft.sinks.GraftDmlStrategy)
    ext.injectOptimizerRule(_ => LevenshteinPruneRule)
  }

  /** An integer literal argument (`bands`, `rows`) of a SQL call. */
  private def intArg(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"expected an integer literal, got $other")
  }
}
