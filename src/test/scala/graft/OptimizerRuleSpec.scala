package graft

import org.apache.spark.sql.functions._

/** Injected optimizer rule (LevenshteinPruneRule): the length-difference
  * guard appears in the optimized plan, results are unchanged vs a session
  * without the rule, and optimization reaches a fixpoint (no duplication).
  * Inputs are parquet-backed — ConvertToLocalRelation would fold a literal
  * Seq before there was any plan to rewrite.
  */
class OptimizerRuleSpec extends SparkSuite {

  private lazy val extSession =
    SparkSuite.sessionWithExtensions(new GraftExtensions()(_))

  private def fuzzy(s: org.apache.spark.sql.SparkSession) =
    Fixtures
      .table(s, sf001, "part")
      .filter(levenshtein(col("p_type"), lit("STANDARD")) <= 3)
      .select("p_partkey")

  test("lev <= k filters gain a length-difference pre-filter; results unchanged") {
    val df = fuzzy(extSession)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("abs("), s"no length guard injected:\n$optimized")
    assert(optimized.contains("levenshtein"), s"original predicate lost:\n$optimized")
    val withRule = df.collect().map(_.getLong(0)).sorted.toSeq
    val without = fuzzy(spark).collect().map(_.getLong(0)).sorted.toSeq
    assert(withRule.nonEmpty && withRule == without,
      s"results changed: ${withRule.size} vs ${without.size}")
  }

  test("rule is idempotent: guard appears exactly once after full optimization") {
    val optimized = fuzzy(extSession).queryExecution.optimizedPlan.toString
    val occurrences = "abs\\(".r.findAllIn(optimized).length
    assert(occurrences == 1, s"guard count $occurrences != 1:\n$optimized")
  }

  test("baseline session without the rule keeps the plain predicate") {
    val optimized = fuzzy(spark).queryExecution.optimizedPlan.toString
    assert(!optimized.contains("abs("), s"guard leaked into un-extended session:\n$optimized")
  }

  test("3-arg thresholded levenshtein is NOT rewritten (returns -1 past threshold)") {
    // levenshtein(a, b, 1) yields -1 for very different strings, so -1 <= 3
    // passes the original predicate; a length guard would wrongly drop those
    // rows. The rule must leave the thresholded form alone.
    def thresholded(s: org.apache.spark.sql.SparkSession) =
      Fixtures
        .table(s, sf001, "part")
        .filter(levenshtein(col("p_type"), lit("STANDARD"), 1) <= 3)
        .select("p_partkey")
    val df = thresholded(extSession)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("abs("), s"guard wrongly injected on 3-arg form:\n$optimized")
    val withRule = df.collect().map(_.getLong(0)).sorted.toSeq
    val without = thresholded(spark).collect().map(_.getLong(0)).sorted.toSeq
    assert(withRule == without, s"results changed: ${withRule.size} vs ${without.size}")
  }
}
