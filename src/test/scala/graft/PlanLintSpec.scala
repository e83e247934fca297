package graft

import graft.plans.PlanLint
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regression fixtures for the registry-wide scale lint (VERDICT r14
  * item 1): the two real sf1 catches (q12 33×, q13 52×) in their
  * PRE-FIX shapes must flag, their rewritten forms must not, and each
  * detector's sanction path (broadcast hint, bounded side, raise
  * guard, grain collapse) must hold. The enforcing sweep over every
  * registered query runs in QueriesSmokeSpec. No optimizer rule
  * repairs a flagged shape: the hand forms (`Rollups.keyGrainAttach`,
  * `Rollups.distinctCascade`) are the fix.
  */
class PlanLintSpec extends SparkSpec {

  private def ev = Tables(spark, sfDir).evidence

  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlanLint.lint(df).map(_.rule).toSet

  private def q12Shape = ev.select(col("targetId"), col("datasourceId"),
      min("year").over(Window.partitionBy("targetId")).as("first_year"),
      round(max("score").over(
        Window.partitionBy("targetId", "datasourceId")), 4).as("max_score"))
    .distinct()

  test("pre-fix q12 shape (window-attach chain ending in distinct) flags") {
    assert(rules(q12Shape).contains("distinct-over-window"), rules(q12Shape))
  }

  test("rewritten q12 (keyGrainAttach) and q13 (distinctCascade) are clean") {
    assert(rules(SparkEntry.queries("q12_first_year")(spark, sfDir)).isEmpty)
    assert(rules(SparkEntry.queries("q13_distinct_rollup")(spark, sfDir)).isEmpty)
  }

  test("pre-fix q13 shape (two countDistincts in one aggregate) flags") {
    val w13 = ev.groupBy("year", "datasourceId")
      .agg(countDistinct("targetId").as("n_targets"),
        countDistinct(concat_ws("|", col("diseaseId"), col("targetId")))
          .as("n_pairs"))
    assert(rules(w13) == Set("multi-distinct-expand"), rules(w13))
    // one distinct aggregate (even next to plain aggs) plans WITHOUT
    // an Expand — must not flag
    val one = ev.groupBy("year")
      .agg(countDistinct("targetId").as("n_targets"), sum("score").as("s"))
    assert(rules(one).isEmpty, rules(one))
  }

  test("single-partition funnel flags; bounded input passes") {
    val docs = Tables(spark, sfDir).documents
    assert(rules(docs.coalesce(1)) == Set("single-partition-funnel"))
    assert(rules(docs.repartition(1)) == Set("single-partition-funnel"))
    assert(rules(docs.agg(count(lit(1)).as("n")).coalesce(1)).isEmpty)
  }

  test("cartesian flags unless a side is bounded or broadcast-hinted") {
    val docs = Tables(spark, sfDir).documents
    assert(rules(docs.crossJoin(docs.select(col("doc_id").as("b")))) ==
      Set("cartesian"))
    // one-row global aggregate side: provably bounded
    assert(rules(docs.crossJoin(docs.agg(count(lit(1)).as("n")))).isEmpty)
    // author-declared broadcast side: sanctioned intent
    assert(rules(docs.crossJoin(
      broadcast(docs.select(col("doc_id").as("b"))))).isEmpty)
  }

  test("non-equi join flags unless broadcast-hinted") {
    val a = ev.select(col("targetId").as("ta"))
    val b = ev.select(col("targetId").as("tb"))
    assert(rules(a.join(b, col("ta") < col("tb"))) == Set("non-equi-join"))
    assert(rules(a.join(broadcast(b), col("ta") < col("tb"))).isEmpty)
    // an equi conjunct makes it hash-partitionable — clean
    assert(rules(a.join(b, col("ta") === col("tb") && col("ta") < lit(10)))
      .isEmpty)
  }

  test("global window flags on data grain; aggregate input or raise guard sanctions") {
    val raw = ev.withColumn("rk",
      row_number().over(Window.orderBy(col("score"))))
    assert(rules(raw) == Set("unbounded-global-window"), rules(raw))
    // value-grain: the window rides a groupBy collapse
    val collapsed = ev.groupBy("year").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.orderBy(col("year"))))
    assert(rules(collapsed).isEmpty, rules(collapsed))
    // raise-guarded (the grainGuarded / ValueGrainCap contract): the
    // cap raises before an oversized input reaches the window
    val guarded = ev
      .withColumn("__gg",
        when(row_number().over(Window.orderBy(col("score"))) > 1000000,
          raise_error(lit("cap"))).otherwise(lit(0)))
      .filter(col("__gg") === 0).drop("__gg")
      .withColumn("cum", sum("score").over(
        Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(rules(guarded).isEmpty, rules(guarded))
  }
}
