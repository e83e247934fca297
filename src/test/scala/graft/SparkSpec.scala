package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** The first observe() metric named `prefix`* that satisfies `ok`,
    * among the queries that finish while `body` runs — eager cuts
    * (localCheckpoint) taken while a frame is BUILT included, whose
    * metrics the built frame's own plan no longer holds. Metrics are
    * read by [[SparkSpec.observed]], which also finds those under a
    * branch AQE pruned. Query-end events reach listeners asynchronously,
    * so this polls for up to `waitMs`. Left: the matching metrics seen.
    */
  def observedMetric(prefix: String, waitMs: Long = 30000L)(body: => Unit)(
      ok: Row => Boolean): Either[Seq[Row], Row] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        SparkSpec.observed(qe.executedPlan).foreach { case (k, v) =>
          if (k.startsWith(prefix)) seen.add(v)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + waitMs
      def hit = seen.toArray(Array.empty[Row]).find(ok)
      while (hit.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      hit.toRight(seen.toArray(Array.empty[Row]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  import org.apache.spark.sql.catalyst.plans.logical.{EmptyRelation, LogicalPlan}
  import org.apache.spark.sql.execution.{CollectMetricsExec, EmptyRelationExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}

  /** Every observe() metric of an executed plan, by name. Unlike
    * `QueryExecution.observedMetrics` this also reads the stages AQE
    * pruned: when a cap drops every candidate, AQE replaces the branch
    * above the empty stage with an EmptyRelation, and Spark's own
    * collector no longer sees that stage's CollectMetrics — though it
    * ran and counted the drop.
    */
  def observed(plan: SparkPlan): Seq[(String, Row)] = {
    def logical(l: LogicalPlan): Seq[(String, Row)] = l match {
      case s: LogicalQueryStage => observed(s.physicalPlan)
      case e: EmptyRelation => logical(e.logical)
      case o => o.children.flatMap(logical)
    }
    plan match {
      case a: AdaptiveSparkPlanExec => observed(a.executedPlan)
      case s: QueryStageExec => observed(s.plan)
      case c: CollectMetricsExec => (c.name -> c.collectedMetrics) +: observed(c.child)
      case e: EmptyRelationExec => logical(e.logical)
      case o => o.children.flatMap(observed)
    }
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Same rationale as GraftSession: every global window in the
    // engine is value-/dim-grain by construction (plan-pinned), so
    // WindowExec's per-task WARN floods the test log with no signal.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
