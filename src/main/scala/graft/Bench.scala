package graft
import org.apache.spark.sql.SparkSession

/** Renders bench results to the PINNED graft bench JSON contract
  * (BenchJsonSpec is the canary — a driver-side format drift like
  * r8's un-prefixed numeric tail must never silently change what we
  * publish):
  *
  *  - BENCH_FULL.json: ONE json.load-able line, `schema`
  *    "graft-bench-1", full `"qNN_name"` keys at 3dp, `reps`, plus
  *    metric/value/unit/sf and the `host` block (cores, heap_mb, spark,
  *    git_sha) it ran on. This is the cross-round diffable artifact.
  *  - stdout: the most precise compaction that fits the driver's
  *    2000-char output window (full keys 3dp → 2dp → "qNN" → "NN" 1dp);
  *    same fields, possibly shortened keys — BENCH_FULL carries the
  *    contract form regardless.
  */
object BenchRender {
  val Schema = "graft-bench-1"

  def fmt(v: Double, dp: Int): String = BigDecimal(v)
    .setScale(dp, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString

  /** JSON-safe error text: quotes/backslashes/control chars → space. */
  private def clean(m: String): String =
    m.replaceAll("[\"\\\\\\n\\r\\t]", " ").filter(_ >= ' ')

  /** Mover adjudication field (VERDICT r9 item 5): for each full-run
    * query whose wall moved ≥[[Bench.MoverRatio]]× vs the previous
    * BENCH_FULL.json, the SAME JVM re-times it interleaved min-of-6 and
    * publishes all three figures — the one-round lag between a phantom
    * regression and its subset verdict disappears. ≤6 entries, bounded.
    */
  def moversField(
      movers: Seq[(String, Double, Double, Either[String, Double])]): String =
    if (movers.isEmpty) ""
    else movers.map { case (k, prev, full, min6) =>
      val m6 = min6 match {
        case Right(v) => fmt(v, 3)
        case Left(e) => "{\"err\":\"" + clean(e).take(40) + "\"}"
      }
      "\"" + k + "\":{\"prev\":" + fmt(prev, 3) +
        ",\"full\":" + fmt(full, 3) + ",\"min6\":" + m6 + "}"
    }.mkString(",\"movers_min6\":{", ",", "}")

  /** The host block: machine cores, driver heap, Spark version and the
    * checkout's commit (null outside a git checkout).
    */
  def host(cores: Int, heapMb: Long, spark: String, gitSha: Option[String]): String =
    s"""{"cores":$cores,"heap_mb":$heapMb,"spark":"${clean(spark)}","git_sha":""" +
      gitSha.map(g => "\"" + clean(g) + "\"").getOrElse("null") + "}"

  /** One JSON line. keyMode: 0 = full "qNN_name", 1 = "qNN", 2 = "NN". */
  def line(
      results: Seq[(String, Either[String, Double])],
      headline: Set[String],
      sfDir: String,
      reps: Int,
      dp: Int,
      keyMode: Int,
      movers: Seq[(String, Double, Double, Either[String, Double])] = Nil,
      host: String = ""): String = {
    def key(k: String): String = keyMode match {
      case 0 => k
      case 1 => k.split("_")(0)
      case _ => k.split("_")(0).drop(1)
    }
    val qs = results.map {
      case (k, Right(v)) => "\"" + key(k) + "\":" + fmt(v, dp)
      case (k, Left(m)) => "\"" + key(k) + "\":{\"err\":\"" + clean(m).take(40) + "\"}"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(_)) => key(k) }
    val total = results.collect { case (_, Right(v)) => v }.sum
    val errField =
      if (errs.isEmpty) ""
      else errs.mkString(",\"errors\":[\"", "\",\"", "\"]")
    val hl = results.collect {
      case (k, Right(v)) if headline(k) =>
        "\"" + k.split("_")(0) + "\":" + fmt(v, 3)
    }.mkString("{", ",", "}")
    s"""{"schema":"$Schema","metric":"total","value":${fmt(total, 3)},"unit":"sec","reps":$reps,"queries":$qs,"hl_min6":$hl,"full":"BENCH_FULL.json","sf":"$sfDir"$errField${moversField(movers)}${if (host.isEmpty) "" else ",\"host\":" + host}}"""
  }

  /** The BENCH_FULL form: full keys at 3dp, with the host block. */
  def full(results: Seq[(String, Either[String, Double])],
      headline: Set[String], sfDir: String, reps: Int,
      movers: Seq[(String, Double, Double, Either[String, Double])] = Nil,
      host: String = ""): String =
    line(results, headline, sfDir, reps, 3, 0, movers, host)

  /** Summary form for when even maximal key compaction overflows the
    * driver's output window (256 queries × "NN":1.2 alone is >2,500
    * chars — the r8 left-truncation cause): total + headline + the
    * slowest `topN` full-keyed walls + ALL errors, with per-query
    * detail delegated to BENCH_FULL.json. The partial map is published
    * under `queries` (VERDICT r16 item 3: a "queries" STRING pointer
    * gave the driver's PERF comparator n_common = 0 / no geomean / no
    * scaling; an inline object — even a partial one covering every
    * wall that rises above the reps-2 noise floor — joins round over
    * round). `n_queries` > |queries| signals the partiality.
    */
  def summary(results: Seq[(String, Either[String, Double])],
      headline: Set[String], sfDir: String, reps: Int, topN: Int,
      movers: Seq[(String, Double, Double, Either[String, Double])] = Nil): String = {
    val total = results.collect { case (_, Right(v)) => v }.sum
    val top = results.collect { case (k, Right(v)) => (k, v) }
      .sortBy { case (k, v) => (-v, k) }.take(topN)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(m)) =>
      "\"" + k + "\":\"" + clean(m).take(40) + "\"" }.mkString("{", ",", "}")
    val hl = results.collect {
      case (k, Right(v)) if headline(k) =>
        "\"" + k.split("_")(0) + "\":" + fmt(v, 3)
    }.mkString("{", ",", "}")
    s"""{"schema":"$Schema","metric":"total","value":${fmt(total, 3)},"unit":"sec","reps":$reps,"n_queries":${results.size},"hl_min6":$hl,"queries":$top,"errors":$errs,"full":"BENCH_FULL.json","sf":"$sfDir"${moversField(movers)}}"""
  }

  def compact(results: Seq[(String, Either[String, Double])],
      headline: Set[String], sfDir: String, reps: Int, maxLen: Int,
      movers: Seq[(String, Double, Double, Either[String, Double])] = Nil): String =
    (Seq(line(results, headline, sfDir, reps, 3, 0, movers),
         line(results, headline, sfDir, reps, 2, 0, movers),
         line(results, headline, sfDir, reps, 2, 1, movers)) ++
      Seq(72, 64, 56, 48, 40, 30, 20, 10, 0)
        .map(n => summary(results, headline, sfDir, reps, n, movers)))
      .find(_.length <= maxLen)
      .getOrElse(summary(results, headline, sfDir, reps, 0, movers))
}

object Bench {
  /** A full-run query is a "mover" when its wall is ≥ this multiple of
    * the previous BENCH_FULL.json figure AND ≥ [[MoverFloorSec]] —
    * below the floor a 0.1→0.4 s flip is pure scheduler noise, and the
    * documented sandbox band is 3–5× so 2.5× errs toward re-measuring.
    */
  val MoverRatio = 2.5
  val MoverFloorSec = 1.0
  val MoverCap = 6

  /** Slot assignment for mover re-timing (VERDICT r11 item 4): ranking
    * by ratio alone gave a +0.8 s spike at 6× a slot while a +5.4 s
    * spike at 2.9× went un-adjudicated (r11's q178). Each flagged
    * query takes the BETTER of its ratio rank and its absolute-Δ
    * rank, so the head of EITHER ordering is re-timed first; ties
    * break toward larger absolute Δ (seconds of bench total are what
    * a phantom inflates).
    */
  def selectMovers(
      flagged: Seq[(String, Double, Double)],
      cap: Int = MoverCap): Seq[(String, Double, Double)] =
    if (flagged.isEmpty) Nil
    else {
      val byRatio = flagged.sortBy { case (_, p, v) => -(v / p) }
        .map(_._1).zipWithIndex.toMap
      val byDelta = flagged.sortBy { case (_, p, v) => -(v - p) }
        .map(_._1).zipWithIndex.toMap
      flagged.sortBy { case (k, _, _) =>
        (math.min(byRatio(k), byDelta(k)), byDelta(k))
      }.take(cap)
    }

  /** Per-query walls of a previous bench artifact, by full key — the
    * file is OUR pinned graft-bench-1 format, so a targeted scan of
    * `"qNN_name":N.NNN` inside it is exact (err entries are objects and
    * deliberately unmatched). Returns empty when the artifact is
    * missing or was produced at a DIFFERENT sf (cross-sf walls are not
    * comparable and would flag everything).
    */
  /** Canonical per-query walls after mover adjudication: when the
    * min6 re-time refutes a phantom spike, the published figure must
    * be the min6 wall, not the spike — else next round's
    * [[previousWalls]] anchors on the phantom peak and a real
    * regression below it is never flagged (ADVICE r10). The
    * movers_min6 field still publishes all three figures.
    */
  def adjudicatedWalls(
      results: Seq[(String, Either[String, Double])],
      movers: Seq[(String, Double, Double, Either[String, Double])])
      : Seq[(String, Either[String, Double])] = {
    val adjudicated = movers.collect {
      case (k, _, full, Right(m6)) => k -> math.min(full, m6)
    }.toMap
    results.map {
      case (k, Right(_)) if adjudicated.contains(k) =>
        k -> Right(adjudicated(k)): (String, Either[String, Double])
      case other => other
    }
  }

  /** The mover flag step, extracted so BenchJsonSpec can prove the
    * adjudicator ENGAGES across registry growth (VERDICT r13 item 6):
    * a query in `prev` but not in `results` (removed) or in `results`
    * but not in `prev` (newly registered) must never disarm the
    * comparison for the keys present in BOTH — the diff is per-key,
    * never gated on n_queries.
    */
  def flagMovers(
      results: Seq[(String, Either[String, Double])],
      prev: Map[String, Double]): Seq[(String, Double, Double)] =
    selectMovers(results.collect {
      case (k, Right(v)) if prev.get(k).exists(p =>
          v >= MoverFloorSec && v >= MoverRatio * p) =>
        (k, prev(k), v)
    })

  def previousWalls(path: java.nio.file.Path, sfDir: String): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(path)
      val sfOk = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      if (!sfOk) Map.empty
      else """"(q\d+_[a-z0-9_]+)":([0-9]+(?:\.[0-9]+)?)""".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

  /** HEAD of the git checkout in the working directory, if there is one. */
  def gitSha: Option[String] =
    scala.util.Try(scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim)
      .toOption.filter(_.matches("[0-9a-f]{40}"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: two representative queries (association chain +
    // dedup chain) cover the operator code paths, so JIT compilation is
    // not billed to whichever query runs first. (A full warmup pass
    // measured WORSE: 60+ executions age the JVM — accumulated shuffle
    // files and broadcast cleanup debt outweigh the extra warmth.)
    for (w <- Seq("q03_novelty", "q31_dedup_minhash"))
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case _: Throwable => () }
    // min-of-N runs per query: single-shot timings swing 3-4x under
    // GC/JIT noise (measured q05 2.1s vs 35.4s across identical runs);
    // the min is the reproducible cost of the plan itself.
    // REPS is clamped to [1, 10] and non-numeric values fall back to
    // the default rather than crashing the whole bench. The headline
    // four (q01-q04, the BASELINE.md comparison chain) always run at
    // >= 6 reps: sandbox walls swing 3-5x and only >= 6-rep minima are
    // comparable across rounds.
    val reps = math.min(10, math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(2)))
    val headline = Set("q01_assoc_datasource", "q02_assoc_overall",
      "q03_novelty", "q04_novelty_datasource")
    // A failing query must NOT bench as green: record the error message
    // and report it in the JSON instead of a phantom wall time.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
      }
    }
    def minOf(runs: Seq[Either[String, Double]]): Either[String, Double] = {
      val oks = runs.collect { case Right(s) => s }
      if (oks.nonEmpty) Right(oks.min)
      else Left(runs.collectFirst { case Left(m) => m }.getOrElse("unknown"))
    }
    // SPARK_GRAFT_BENCH_ONLY=q65_...,q66_... focuses the bench on a
    // subset AND switches to INTERLEAVED rounds — each rep times every
    // query once, so a contention window hits all of them equally
    // (BASELINE.md's min-of-6 interleaved comparison rule).
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val results: Seq[(String, Either[String, Double])] =
      if (only.nonEmpty) {
        val sel = SparkEntry.queries.toSeq.filter { case (n, _) => only(n) }
        val rounds = (1 to math.max(reps, 6)).map { _ =>
          sel.map { case (name, fn) => name -> timeOnce(fn) }
        }
        sel.map { case (name, _) =>
          name -> minOf(rounds.map(_.toMap.apply(name)))
        }
      } else SparkEntry.queries.toSeq.map { case (name, fn) =>
        val n = if (headline(name)) math.max(reps, 6) else reps
        name -> minOf((1 to n).map(_ => timeOnce(fn)))
      }
    // Auto-adjudicate movers (VERDICT r9 item 5): a full run compares
    // its walls to the previous BENCH_FULL.json and immediately
    // re-times the biggest movers interleaved min-of-6 in the SAME
    // (warm) JVM — r9 shipped six phantom "regressions" (q174 0.7→8.0
    // single-shot) that a one-command subset later measured at 1.1 s;
    // now that verdict rides along in the artifact itself.
    val movers: Seq[(String, Double, Double, Either[String, Double])] =
      if (only.nonEmpty) Nil
      else {
        val prev = Bench.previousWalls(
          java.nio.file.Paths.get("BENCH_FULL.json"), sfDir)
        val flagged = Bench.flagMovers(results, prev)
        if (flagged.isEmpty) Nil
        else {
          val sel = SparkEntry.queries.toSeq
            .filter { case (n, _) => flagged.exists(_._1 == n) }
          val rounds = (1 to 6).map { _ =>
            sel.map { case (name, fn) => name -> timeOnce(fn) }
          }
          flagged.map { case (k, p, v) =>
            (k, p, v, minOf(rounds.map(_.toMap.apply(k))))
          }
        }
      }
    // The driver keeps only the LAST 2000 chars of output, and sbt's
    // trailing "[success] Total time ..." line lands after ours inside
    // that window — so the printed line must stay under ~1900 chars or
    // its HEAD (metric/total/q01-q04) is what gets truncated (the
    // BENCH_r07 failure mode). The untruncated contract form always
    // goes to BENCH_FULL.json (schema graft-bench-1, BenchJsonSpec).
    // A subset run must never clobber the whole-registry artifact —
    // it lands in BENCH_SUBSET.json instead.
    val published = Bench.adjudicatedWalls(results, movers)
    val host = BenchRender.host(Runtime.getRuntime.availableProcessors,
      Runtime.getRuntime.maxMemory / (1 << 20), spark.version, Bench.gitSha)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        if (only.nonEmpty) "BENCH_SUBSET.json" else "BENCH_FULL.json"),
      BenchRender.full(published, headline, sfDir, reps, movers, host) + "\n")
    val out = BenchRender.compact(published, headline, sfDir, reps, 1900, movers)
    spark.stop()
    // printed after stop() so no Spark shutdown chatter lands between
    // the JSON and the end of output
    println(out)
  }
}
