package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

import scala.collection.mutable

/** Spans recorded from outside the library, around each call into it,
  * plus the Spark work each span caused.
  *
  * Before a span's body runs, its id is set as a SparkContext local
  * property; every job submitted from that thread (or from a thread it
  * starts, such as a streaming query's) carries it, so the listener can
  * charge jobs, stages and tasks to the innermost open span.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  final class Span(val id: Int, val layer: String, val name: String,
      val parent: Option[Span], val startNs: Long) {
    var endNs: Long = startNs
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Spark work charged to one span. */
  final class Work {
    var jobs, stages, tasks = 0L
    var taskMs, schedWaitMs, shuffleWriteBytes, spillBytes = 0L
    /** Short call site of each job (the result stage's name). */
    val callSites: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  }

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Span] = Nil

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = new Span(spans.size, layer, name, open.headOption, System.nanoTime())
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent.contains(s)).map(_.seconds).sum

  // ---- listener side: runs on the listener-bus thread ----

  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(Unattributed)
    e.stageInfos.foreach(s => stageSpan(s.stageId) = id)
    val w = workOf(id)
    w.jobs += 1
    if (e.stageInfos.nonEmpty) w.callSites += e.stageInfos.maxBy(_.stageId).name
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitMs((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    workOf(stageSpan.getOrElse(e.stageInfo.stageId, Unattributed)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = workOf(stageSpan.getOrElse(e.stageId, Unattributed))
    w.tasks += 1
    stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { t =>
      w.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
    }
    Option(e.taskMetrics).foreach { m =>
      w.taskMs += m.executorRunTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Work charged to the given spans. */
  def workIn(ids: Iterable[Int]): Seq[Work] = synchronized {
    ids.iterator.flatMap(work.get).toSeq
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Unattributed: Int = -1

  /** Exchanges and reused exchanges in a physical plan, looking inside
    * adaptive query stages and subqueries.
    */
  object Exchanges extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): (Int, Int) = {
      val found = collectWithSubqueries(plan) {
        case _: ReusedExchangeExec => false
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      }
      (found.count(identity), found.count(!_))
    }
  }
}
