package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanDump's normaliser: two renders of one plan that differ only in
  * what the JVM built before them must normalise to the same text.
  */
class PlanDumpSpec extends AnyFunSuite {

  test("a multi-distinct Expand normalises the same in either group order") {
    // the same plan after different work: other expression ids, and the
    // distinct groups (rows, gids, output columns) in the other order
    val a =
      """(3) Expand
        |Input [3]: [lang#1, source#2, x#3]
        |Arguments: [[lang#1, null, 1, null], [null, null, 0, x#3], [null, source#2, 2, null]], [lang#11, source#12, gid#13, x#14]
        |
        |(4) HashAggregate
        |Keys [3]: [lang#11, source#12, gid#13]
        |Functions [2]: [count(lang#11) FILTER (WHERE (gid#13 = 1)), count(source#12) FILTER (WHERE (gid#13 = 2))]
        |Arguments: hashpartitioning(lang#11, source#12, gid#13, 4), ENSURE_REQUIREMENTS, [plan_id=57]
        |""".stripMargin
    val b =
      """(3) Expand
        |Input [3]: [lang#101, source#102, x#103]
        |Arguments: [[null, lang#101, 2, null], [null, null, 0, x#103], [source#102, null, 1, null]], [source#111, lang#112, gid#113, x#114]
        |
        |(4) HashAggregate
        |Keys [3]: [source#111, lang#112, gid#113]
        |Functions [2]: [count(lang#112) FILTER (WHERE (gid#113 = 2)), count(source#111) FILTER (WHERE (gid#113 = 1))]
        |Arguments: hashpartitioning(source#111, lang#112, gid#113, 4), ENSURE_REQUIREMENTS, [plan_id=91]
        |""".stripMargin
    val na = PlanDump.normalize(a)
    assert(na === PlanDump.normalize(b))
    assert(na.contains("Arguments: [[null, null, 0, x#3], [lang#1, null, 1, null], " +
      "[null, source#2, 2, null]], [lang#4, source#5, gid#6, x#7]"), na)
    assert(na.contains("count(lang#4) FILTER (WHERE (gid#6 = 1))"), na)
  }

  test("lambda variables, cap metrics, JVM lambdas and ids are numbered by first appearance") {
    def plan(x: Int, cap: Int, id: Int) =
      s"transform(a#$id, lambdafunction(lambda x_$x#${id + 1}, lambda x_$x#${id + 1})) " +
        s"graft_prefix_posting_cap_$cap graft.Foo$$$$Lambda$$$x/0x0000a1b2c3@5e6f7a8b"
    assert(PlanDump.normalize(plan(10, 5, 3)) === PlanDump.normalize(plan(1010, 33, 40)))
    assert(PlanDump.normalize(plan(10, 5, 3)) ===
      "transform(a#1, lambdafunction(lambda x_1#2, lambda x_1#2)) " +
        "graft_prefix_posting_cap_1 graft.Foo$$Lambda")
  }
}
