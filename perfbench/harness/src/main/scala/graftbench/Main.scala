package graftbench

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables
import graft.streaming.StreamQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload, in one JVM, as a closed loop with a
  * single client: build a registered query, count it, then start the
  * next. Writes every raw figure to `<out>/result.json`; `perfbench/run.py`
  * turns them into the reported metrics.
  *
  * Phases:
  *  1. set-up: one session (`GraftSession.local(cores)`), then an untimed
  *     warm-up: a pass that writes every query's result for the oracle
  *     gate, then one pass as the timed ones run it. The first counting
  *     pass is still well above the later ones (JIT and codegen of the
  *     count plans), which stay within a few percent of each other;
  *  2. `passes` timed, untraced passes; with tracing, at least four
  *     passes in the order u, t, t, u, ..., then one traced read of each
  *     table and one traced walk of the workload's operator chain.
  * A fixed pass count (set from `--seconds` by run.py) keeps the sample
  * count, and so the percentile `query_s.tail` reads, the same on every
  * run. The session's CacheManager is cleared after every pass; what a
  * pass left in it is counted.
  */
object Main {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(args: Array[String]): Args =
    new Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap)

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val code = try {
      val a = parse(argv)
      val run = new Run(Workloads(a("workload")), a("data"), a("out"), a("cores").toInt,
        a("passes").toInt, a("seconds").toDouble, a("trace") == "1")
      val out = run.execute() + ("main_ms" -> mainMs)
      Files.writeString(Paths.get(a("out"), "result.json"), Json(out))
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    // Everything the run wrote lives in run.py's run directory, which it
    // deletes; skipping Spark's shutdown hooks saves seconds per run.
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}

final class Run(w: Workload, dir: String, outDir: String, cores: Int,
    passes: Int, seconds: Double, trace: Boolean) {

  private val registry = SparkEntry.queries
  private var spark: SparkSession = _
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.LinkedHashMap.empty[String, String]

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9

  private def fail(name: String, e: Throwable): Unit = {
    val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    System.err.println(s"[perfbench] $name failed: $msg")
    failed += 1
    errors.getOrElseUpdate(name, msg)
  }

  /** Builds and counts one query; its latency, or None if it threw. */
  private def timeQuery(name: String): Option[Double] = {
    attempted += 1
    val t0 = now()
    try { registry(name)(spark, dir).count(); Some(secs(t0)) }
    catch { case e: Throwable => fail(name, e); None }
  }

  /** Entries a pass left in the session's CacheManager. */
  private def cacheEntries(): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")) match {
      case Some(f) =>
        f.setAccessible(true)
        f.get(cm) match {
          case s: scala.collection.Seq[_] => s.size
          case _ => if (cm.isEmpty) 0 else 1
        }
      case None => if (cm.isEmpty) 0 else 1
    }
  }

  /** Clears what one pass could hand to the next: cached plans, the
    * streaming replays' memory-sink views, finished stream handles.
    * Returns the number of cache entries found.
    */
  private def hygiene(): Int = {
    val leaked = cacheEntries()
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.streams.resetTerminated()
    StreamQueries.metrics.clear()
    leaked
  }

  private val leaks = mutable.ArrayBuffer.empty[Int]

  /** One untraced pass: per-query latencies (None = failed) and wall. */
  private def pass(): (Seq[Option[Double]], Double) = {
    val t0 = now()
    val lat = w.queries.map(timeQuery)
    val wall = secs(t0)
    leaks += hygiene()
    (lat, wall)
  }

  /** Runs `body` `n` times back to back, or fewer if `2 * seconds` run
    * out first (a box much slower than the one the pass count was set
    * on still ends in time).
    */
  private def loop[T](n: Int)(body: => (T, Double)): Seq[(T, Double)] = {
    val t0 = now()
    val out = mutable.ArrayBuffer(body)
    while (out.size < n && secs(t0) < 2 * seconds) out += body
    out.toSeq
  }

  def execute(): Map[String, Any] = {
    val t0 = now()
    spark = GraftSession.local(cores, "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val tw = now()
    gatePass()
    pass()
    val warmS = secs(tw)
    val t1 = now()
    val (timed, traced) =
      if (trace) { val (u, t) = tracedRun(); (u, Some(t)) }
      else (loop(passes)(pass()), None)
    Map(
      "host" -> Map(
        "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "session_s" -> sessionS,
      "warm_s" -> warmS,
      "timed_s" -> secs(t1),
      "pass_s" -> timed.map(_._2),
      "query_s" -> timed.flatMap(_._1.flatten),
      "query_s_by_name" -> w.queries.indices.map(i =>
        w.queries(i) -> timed.flatMap(_._1(i))).toMap,
      "leaked_cache_entries" -> leaks.toSeq,
      "queries" -> w.queries,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toMap,
      "rss_peak_mb" -> rssPeakMb()) ++ traced.map("trace" -> _)
  }

  // ---- traced run ----

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  /** At least four passes, untraced (u) and traced (t) in the order
    * u, t, t, u, ..., so a warm-up trend still running over the passes
    * cancels out of the traced-minus-untraced overhead; then the traced
    * reads and operator walk. Returns the untraced passes and the traced
    * figures.
    */
  private def tracedRun(): (Seq[(Seq[Option[Double]], Double)], Map[String, Any]) = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    def traced[T](body: => T): T = {
      sc.addSparkListener(tracer)
      try body finally sc.removeSparkListener(tracer)
    }
    val untraced = mutable.ArrayBuffer.empty[(Seq[Option[Double]], Double)]
    val perPass = mutable.ArrayBuffer.empty[(Map[String, Double], Double)]
    val t0 = now()
    var i = 0
    while (i < math.max(4, passes) && (i < 4 || secs(t0) < 2 * seconds)) {
      if (i % 4 == 1 || i % 4 == 2) perPass += traced(tracedPass(tracer)) else untraced += pass()
      i += 1
    }
    val layers = mutable.LinkedHashMap.empty[String, Double]
    perPass.head._1.keys.foreach { k =>
      layers(k) = median(perPass.map(_._1(k)).toSeq)
    }
    layers ++= traced(sourcesAndOperators(tracer))
    layers("spark.leaked_cache_entries") = leaks.max.toDouble
    val bySpan = tracer.spans.groupBy(s => (s.layer, s.name)).toSeq
      .sortBy(_._2.head.id).map { case ((layer, name), ss) =>
        Map("layer" -> layer, "name" -> name, "n" -> ss.size,
          "total_s" -> ss.map(_.seconds).sum,
          "self_s" -> ss.map(tracer.selfSeconds).sum)
      }
    (untraced.toSeq,
      Map("layers" -> layers.toMap, "pass_s" -> perPass.map(_._2), "spans" -> bySpan))
  }

  /** One traced pass: per-layer figures for this pass, and its wall. */
  private def tracedPass(tracer: Tracer): (Map[String, Double], Double) = {
    val first = tracer.spans.size
    val gc0 = gcSeconds()
    var exchanges, reused = 0
    val passT0 = now()
    tracer.span("pass", w.name) {
      w.queries.foreach { name =>
        attempted += 1
        try tracer.span("query", name) {
          val df = tracer.span("registry.build", name)(registry(name)(spark, dir))
          val counted = df.groupBy().count()
          val plan = tracer.span("plans.plan", name)(counted.queryExecution.executedPlan)
          tracer.span("spark.action", name)(counted.collect())
          val (e, r) = Tracer.Exchanges(plan)
          exchanges += e
          reused += r
        } catch { case e: Throwable => fail(name, e) }
      }
    }
    val wall = secs(passT0)
    val gc = gcSeconds() - gc0
    val streams = StreamQueries.metrics.values.toSeq
    leaks += hygiene()
    tracer.drain()
    val mine = tracer.spans.drop(first)
    def of(layer: String) = mine.filter(_.layer == layer)
    def work(ss: Iterable[tracer.Span]) = tracer.workIn(ss.map(_.id))
    val builds = work(of("registry.build"))
    val sites = builds.flatMap(_.callSites)
    val all = work(mine)
    val taskS = all.map(_.taskMs).sum / 1e3
    val querySum = of("query").map(_.seconds).sum
    val streamWallS = streams.map(_.wallMs).sum / 1e3
    val layers = Map(
      "registry.build_s" -> of("registry.build").map(_.seconds).sum,
      "registry.build_jobs" -> builds.map(_.jobs).sum.toDouble,
      "registry.cut_jobs" -> sites.count(s =>
        s.startsWith("localCheckpoint") || s.startsWith("checkpoint")).toDouble,
      "sources.schema_jobs" -> sites.count(_.startsWith("parquet")).toDouble,
      "plans.plan_s" -> of("plans.plan").map(_.seconds).sum,
      "plans.exchanges" -> exchanges.toDouble,
      "plans.reused_exchanges" -> reused.toDouble,
      "spark.action_s" -> of("spark.action").map(_.seconds).sum,
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.core_util" -> taskS / (wall * cores),
      "spark.shuffle_write_mb" -> all.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.spill_mb" -> all.map(_.spillBytes).sum / 1e6,
      "spark.sched_wait_s" -> all.map(_.schedWaitMs).sum / 1e3,
      "spark.gc_s" -> gc,
      "construction_share" -> (if (querySum > 0)
        of("registry.build").map(_.seconds).sum / querySum else 0.0),
      "streaming.batches" -> streams.map(_.batches).sum.toDouble,
      "streaming.rows_per_s" -> (if (streamWallS > 0)
        streams.map(_.inputRows).sum / streamWallS else 0.0),
      "streaming.state_rows_max" -> streams.map(_.stateRowsMax).maxOption
        .getOrElse(0L).toDouble,
      "streaming.state_mb_max" -> streams.map(_.stateBytesMax).maxOption
        .getOrElse(0L) / 1e6)
    (layers, wall)
  }

  /** One traced read of each table, then one traced walk of the operator
    * chain: each call's construction, then a count of its own output.
    */
  private def sourcesAndOperators(tracer: Tracer): Map[String, Double] = {
    val first = tracer.spans.size
    tracer.span("sources", w.name) {
      w.tables.foreach(t => tracer.span("sources.read", t)(Tables(spark, dir).table(t)))
    }
    val ops = mutable.LinkedHashMap.empty[String, (Int, Int)]
    tracer.span("operators", w.name) {
      w.chain(Tables(spark, dir), new Workloads.Op {
        def apply(name: String)(build: => DataFrame): DataFrame = {
          val b = tracer.spans.size
          val df = tracer.span("operators.build", name)(build)
          tracer.span("operators.exec", name)(df.count())
          ops(name) = (b, b + 1)
          df
        }
      })
    }
    hygiene()
    tracer.drain()
    val mine = tracer.spans.drop(first)
    val reads = mine.filter(_.layer == "sources.read")
    val perOp = ops.toSeq.flatMap { case (name, (b, x)) =>
      val (build, exec) = (tracer.spans(b), tracer.spans(x))
      Seq(s"operators.$name.build_s" -> build.seconds,
        s"operators.$name.jobs" -> tracer.workIn(Seq(b)).map(_.jobs).sum.toDouble,
        s"operators.$name.exec_s" -> exec.seconds)
    }
    def total(suffix: String) = perOp.filter(_._1.endsWith(suffix)).map(_._2).sum
    Map(
      "sources.read_s" -> reads.map(_.seconds).sum,
      "sources.read_jobs" -> tracer.workIn(reads.map(_.id)).map(_.jobs).sum.toDouble,
      "operators.build_s" -> total(".build_s"),
      "operators.jobs" -> total(".jobs"),
      "operators.exec_s" -> total(".exec_s")) ++ perOp
  }

  // ---- oracle gate input ----

  /** The untimed warm pass: each query built and its result written as
    * parquet, with the oracle SQL next to it, for `tools/oracle_check.py`
    * (run.py compares them after the timed passes).
    */
  private def gatePass(): Unit = {
    val gate = Paths.get(outDir, "gate")
    Files.createDirectories(gate)
    val gateErrors = mutable.LinkedHashMap.empty[String, String]
    w.queries.foreach { name =>
      attempted += 1
      try registry(name)(spark, dir).write.mode("overwrite")
        .parquet(gate.resolve(name).toString)
      catch { case e: Throwable =>
        fail(name, e)
        gateErrors(name) = errors(name)
      }
    }
    leaks += hygiene()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => w.queries.contains(k) }
    Files.writeString(gate.resolve("oracle_sql.json"), Json(oracle))
    Files.writeString(gate.resolve("_errors.json"), Json(gateErrors.toMap))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Just enough JSON for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
