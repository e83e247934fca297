// RewriteWindowTopK on vs off (Spark's own WindowGroupLimit), interleaved
// min-of-N walls plus the task times of the two stages a windowed top-k
// runs: the map stage (scan + partial top-k, shuffle write) and the merge
// stage (the one that reads the most shuffle records).
//
// Run from the repo root after `sbt package`:
//
//   TOPK_SF_DIR=/path/to/sf0.1 $SPARK_HOME/bin/spark-shell --master 'local[4]' \
//     --driver-memory 4g --jars target/scala-2.13/timeseriesspark_2.13-0.1.0.jar \
//     --conf spark.sql.extensions=graft.GraftExtensions \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.sql.session.timeZone=UTC \
//     --conf spark.ui.enabled=false -i tools/topk_rule_probe.scala
//
// Env: TOPK_SF_DIR (q126's tables), TOPK_ROWS (Zipf fixture rows, default
// 8000000), TOPK_REPS (default 6). Prints one line per fixture and side.

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

val sfDir = sys.env.getOrElse("TOPK_SF_DIR", sys.error("set TOPK_SF_DIR to the tables q126 reads"))
val nRows = sys.env.get("TOPK_ROWS").map(_.toLong).getOrElse(8000000L)
val reps = sys.env.get("TOPK_REPS").map(_.toInt).getOrElse(6)
val ruleKey = "spark.sql.optimizer.excludedRules"

// (stageId, duration ms, shuffle records read) of every finished task
val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo.successful) tasks.add((e.stageId, e.taskInfo.duration,
      Option(e.taskMetrics).map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)))
})

// one group holds 90% of the rows; the other 10% spread over 2,000 groups
def zipf(k: Int): DataFrame = {
  val base = spark.range(0, nRows, 1, 8)
    .select(col("id"),
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 2000 + 1).as("g"),
      xxhash64(col("id")).as("o"), (col("id") * 7).as("v"))
  base.withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("o")))
    .filter(col("rn") <= k)
}

def q126: DataFrame = graft.SparkEntry.queries("q126_window_topk_rewrite")(spark, sfDir)

def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

// the listener bus is asynchronous: wait until no task end has arrived
// for 300 ms (outside the timed section)
def settle(): Unit = {
  var last = -1
  var quiet = 0
  while (quiet < 3) {
    Thread.sleep(100)
    val n = tasks.size
    if (n == last) quiet += 1 else { quiet = 0; last = n }
  }
}

/** One timed `.count()`: (wall s, map max/median ms, merge max/median ms). */
def runOnce(build: => DataFrame, ruleOn: Boolean): (Double, Long, Long, Long, Long) = {
  if (ruleOn) spark.conf.unset(ruleKey) else spark.conf.set(ruleKey, "graft.plans.RewriteWindowTopK")
  val df = build
  val plan = df.queryExecution.optimizedPlan.toString
  require(plan.contains("graft_topk_rows") == ruleOn, s"rule on = $ruleOn but plan:\n$plan")
  settle()
  tasks.clear()
  val t0 = System.nanoTime()
  df.count()
  val wall = (System.nanoTime() - t0) / 1e9
  settle()
  val byStage = tasks.toArray(Array.empty[(Int, Long, Long)]).toSeq.groupBy(_._1)
  val merge = byStage.maxBy(_._2.map(_._3).sum)._1
  val map = byStage.keys.min
  def stats(s: Int) = { val d = byStage(s).map(_._2); (d.max, median(d)) }
  val (mapMax, mapMed) = stats(map)
  val (mergeMax, mergeMed) = stats(merge)
  (wall, mapMax, mapMed, mergeMax, mergeMed)
}

def probe(name: String, build: => DataFrame): Unit = {
  runOnce(build, ruleOn = true); runOnce(build, ruleOn = false) // warm-up
  val runs = (1 to reps).flatMap { i =>
    val order = if (i % 2 == 1) Seq(true, false) else Seq(false, true)
    order.map(on => on -> runOnce(build, on))
  }
  for (on <- Seq(true, false)) {
    val rs = runs.filter(_._1 == on).map(_._2)
    val best = rs.minBy(_._1)
    val walls = rs.map(_._1).sorted
    println(f"TOPK $name%-14s ${if (on) "rule" else "excluded"}%-8s " +
      f"wall_min=${best._1}%.3f walls=${walls.map(w => f"$w%.3f").mkString(",")} " +
      f"map_max_ms=${best._2} map_med_ms=${best._3} " +
      f"merge_max_ms=${best._4} merge_med_ms=${best._5}")
  }
}

probe("q126", q126)
probe("zipf90_k3", zipf(3))
probe("zipf90_k100", zipf(100))
spark.conf.unset(ruleKey)
System.exit(0)
