package graft

/** Every registered query must run on sf0.001; the flagship must be
  * non-empty; every query with an oracle must have matching names;
  * and every query's OPTIMIZED PLAN must pass the scale lint
  * (graft.plans.PlanLint — the registry-wide guarantee that the plan
  * classes the sf1 bench caught as instances, q12's
  * distinct-over-window and q13's multi-distinct Expand, cannot be
  * reintroduced silently; fixtures in PlanLintSpec). No query may
  * leave an entry in the session's CacheManager: a cached plan is
  * substituted into every later plan with the same subtree, so the
  * next bench rep would read a cached result.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  /** Sanctioned (query, rule) lint findings — each carries WHY the
    * flagged shape is scale-safe where the linter cannot see it
    * (input cardinality is not statically knowable). Adding a query
    * here requires the same justification discipline.
    */
  private val sanctioned: Map[String, Map[String, String]] = Map(
    "q15_approval_composite" -> Map("distinct-over-window" ->
      ("the min-approval window partitions the DRUG DIM join by target " +
        "(dim grain, ~1e4 rows at any corpus scale); the distinct " +
        "collapses that dim-grain frame, never evidence data grain")),
    "q17_phase_union" -> Map("distinct-over-window" ->
      ("same drug-dim approval windows as q15 (plus the max-novelty " +
        "window at (target, source) series grain under a broadcast " +
        "semi-join of the approval key set)")),
    // q86's distinct-over-window sanction retired r16: the permute's
    // shard frame is now localCheckpoint()ed (it fed both rank
    // branches, which re-derived the whole scoring chain each), so the
    // lint no longer sees the upstream shape. The shape itself is
    // unchanged and remains justified — the rank windows run in
    // (source, md5-shard) lanes bounded at pairs/(sources*16) — but a
    // sanction that can no longer fire must not linger (stale-sanction
    // rule below).
    "q127_profile" -> Map("multi-distinct-expand" ->
      ("one-scan EXACT profiling deliberately trades an Expand whose " +
        "fan is the PROFILED COLUMN COUNT (a static constant, not a " +
        "data property) for N separate scans; measured sf1 trend " +
        "ratio 0.92 (sub-linear)")),
    "q182_chi_square" -> Map("multi-distinct-expand" ->
      ("the two level countDistincts run on the contingency CELL " +
        "grain (post-combine, bounded by r*c category levels), so " +
        "the Expand doubles a dim-sized frame; measured sf1 trend " +
        "ratio 0.78")),
    "q380_g_test" -> Map("multi-distinct-expand" ->
      ("the q182 frame exactly: both level countDistincts run on the " +
        "contingency CELL grain (post-combine, bounded by r*c " +
        "category levels), so the Expand doubles a dim-sized frame " +
        "— same sanction, same justification as q182")))

  test("sanctioned lint findings are still live (no stale sanctions)") {
    sanctioned.foreach { case (name, rules) =>
      val fired = graft.plans.PlanLint
        .lint(SparkEntry.queries(name)(spark, sfDir)).map(_.rule).toSet
      val stale = rules.keySet -- fired
      assert(stale.isEmpty, s"$name sanctions no longer fire: $stale")
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      spark.catalog.clearCache() // judge this query's entries only
      val df = fn(spark, sfDir)
      val allowed = sanctioned.getOrElse(name, Map.empty).keySet
      val bad = graft.plans.PlanLint.lint(df).filterNot(f => allowed(f.rule))
      assert(bad.isEmpty,
        s"scale-lint findings (rewrite or sanction with justification): " +
          s"${bad.mkString("; ")}")
      assert(df.count() >= 0)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cached plan (persist()/cache() on a query path)")
    }
  }
}
