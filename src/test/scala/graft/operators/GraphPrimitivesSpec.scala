package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The graph operators' shared pieces: one canonical edge set and one
  * degree table per call, and one capped-wedge enumeration behind both
  * link predictors.
  */
class GraphPrimitivesSpec extends SparkSpec {
  import spark.implicits._

  /** The optimized plans of every query that finishes while `body`
    * runs, eager cuts included, up to and including the first
    * `collect`. Listener events arrive in order, so once the collect's
    * event is in, so are the cuts taken before it.
    */
  private def executedPlans(body: => Unit): Seq[(String, LogicalPlan)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f -> qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 30000L
      def done = seen.toArray.exists(_.asInstanceOf[(String, LogicalPlan)]._1 == "collect")
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(done, "the collect never reached the listener")
      seen.toArray(Array.empty[(String, LogicalPlan)]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("clusteringCoefficient canonicalizes its edges once") {
    val raw = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 4L))
    val plans = executedPlans {
      val got = Graph.clusteringCoefficient(raw.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.3333, 4L -> 0.0))
    }
    // the canonical distinct is the one aggregate grouped on (a, b)
    val canonical = plans.flatMap(_._2.collect {
      case a: Aggregate if a.groupingExpressions.size == 2 &&
          a.groupingExpressions.flatMap(_.references.map(_.name)).toSet == Set("a", "b") => a
    })
    assert(canonical.size == 1,
      s"${canonical.size} canonical-edge aggregates across ${plans.map(_._1)}")
  }

  test("adamicAdar and linkScores count the same capped wedges") {
    // 1 and 2 share centers 3 and 4, 3 and 4 share 1 and 2, and center
    // 1 also closes 3–9 and 4–9; hub 9 (degree 5) is over hubCap 4, so
    // no pair of its leaves counts for either predictor
    val edges = (Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)) ++
      (5L to 8L).map(n => (9L, n)) :+ ((9L, 1L))).toDF("src", "dst")
    val aa = Graph.adamicAdar(edges, hubCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ls = Graph.linkScores(edges, hubCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(aa == Map((1L, 2L) -> 2L, (3L, 4L) -> 2L, (3L, 9L) -> 1L, (4L, 9L) -> 1L))
    assert(ls == aa)
  }
}
