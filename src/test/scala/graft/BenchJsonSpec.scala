package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Canary for the PINNED bench JSON contract (VERDICT r8 item 2): the
  * r8 driver tail drifted to un-prefixed numeric keys, which broke
  * cross-round machine comparison. BENCH_FULL.json is OUR artifact —
  * schema "graft-bench-1", stable full "qNN_name" keys, reps field —
  * and this spec fails loudly if a refactor changes any of that.
  */
class BenchJsonSpec extends AnyFunSuite {

  private val results: Seq[(String, Either[String, Double])] = Seq(
    "q01_assoc_datasource" -> Right(1.2345),
    "q02_assoc_overall" -> Right(0.5),
    "q31_dedup_minhash" -> Right(2.0),
    "q99_semdedup" -> Left("boom \"quoted\" message"))
  private val headline = Set("q01_assoc_datasource", "q02_assoc_overall")

  test("full form: parseable, schema-tagged, full qNN_name keys, reps") {
    val s = BenchRender.full(results, headline, "/tmp/sf", reps = 6)
    val j = JsonMethods.parse(s)
    assert((j \ "schema") === JString("graft-bench-1"))
    assert((j \ "unit") === JString("sec"))
    assert((j \ "reps") === JInt(6))
    assert((j \ "sf") === JString("/tmp/sf"))
    val qs = (j \ "queries").asInstanceOf[JObject].obj.map(_._1)
    // keys are the FULL registered names, in input order
    assert(qs === results.map(_._1))
    assert(qs.forall(_.matches("q\\d+_[a-z0-9_]+")))
    // total = sum of successful walls at 3dp
    val total = (j \ "value").asInstanceOf[JDouble].num
    assert(math.abs(total - 3.7345) < 2e-3)
    // failures carry an err object and the errors index
    assert((j \ "queries" \ "q99_semdedup" \ "err") !== JNothing)
    assert((j \ "errors") === JArray(List(JString("q99_semdedup"))))
    // headline minima are surfaced under hl_min6 with qNN keys
    assert((j \ "hl_min6" \ "q01") === JDouble(1.234) ||
      (j \ "hl_min6" \ "q01") === JDouble(1.235))
  }

  /** The host block's fields and types, where a file carries one. */
  private def assertHost(j: JValue): Unit = {
    val h = j \ "host"
    assert(h.isInstanceOf[JObject], s"no host block: $h")
    assert((h \ "cores").isInstanceOf[JInt])
    assert((h \ "heap_mb").isInstanceOf[JInt])
    assert((h \ "spark").isInstanceOf[JString])
    assert((h \ "git_sha") match {
      case JString(s) => s.matches("[0-9a-f]{40}")
      case JNull => true
      case _ => false
    }, s"git_sha: ${h \ "git_sha"}")
  }

  test("full form carries the host block it ran on") {
    val host = BenchRender.host(4, 7282, "4.1.2", Some("c" * 40))
    val j = JsonMethods.parse(BenchRender.full(results, headline, "/tmp/sf", 6, host = host))
    assertHost(j)
    assert((j \ "host" \ "cores") === JInt(4))
    assert((j \ "host" \ "heap_mb") === JInt(7282))
    assert((j \ "host" \ "spark") === JString("4.1.2"))
    assert((j \ "host" \ "git_sha") === JString("c" * 40))
    // outside a git checkout the sha is null, and the line still parses
    assertHost(JsonMethods.parse(BenchRender.full(results, headline, "/tmp/sf", 6,
      host = BenchRender.host(4, 7282, "4.1.2", None))))
    // the stdout ladder keeps its window and leaves the block to the file
    assert((JsonMethods.parse(BenchRender.compact(results, headline, "/tmp/sf", 6, 1900))
      \ "host") === JNothing)
  }

  test("compaction ladder: fits the window, keeps schema + metric head") {
    // 256 queries can NOT fit per-query in 1900 chars (the r8 driver
    // truncation); the ladder must fall back to the summary form with
    // top offenders + errors, never emit an over-long line
    val many = (1 to 256).map(i => f"q$i%02d_some_longer_query_name" ->
      (Right(1.23456): Either[String, Double])) :+
      ("q300_broken" -> (Left("x \"y\"") : Either[String, Double]))
    val s = BenchRender.compact(many, headline, "/root/testdata/sf0.1",
      reps = 2, maxLen = 1900)
    assert(s.length <= 1900)
    assert(s.startsWith("{\"schema\":\"graft-bench-1\",\"metric\":\"total\""))
    val j = JsonMethods.parse(s)
    // summary form: n_queries + ALL errors survive, and `queries` is
    // ALWAYS an inline OBJECT with full keys (VERDICT r16 item 3 — a
    // string pointer broke the driver's per-query PERF join), holding
    // as many of the slowest walls as the window fits
    assert((j \ "n_queries") === JInt(257))
    val top = (j \ "queries").asInstanceOf[JObject].obj.map(_._1)
    assert(top.size >= 40 && top.forall(_.matches("q\\d+_[a-z0-9_]+")))
    assert((j \ "errors" \ "q300_broken") !== JNothing)
    // a small registry still gets the full per-query form inline
    val small = BenchRender.compact(many.take(20), headline, "/tmp/sf",
      reps = 2, maxLen = 1900)
    val js = JsonMethods.parse(small)
    assert((js \ "queries").asInstanceOf[JObject].obj.size === 20)
  }

  test("movers_min6: prev/full/min6 triples ride every form, absent when empty") {
    val movers = Seq(
      ("q31_dedup_minhash", 0.7, 8.0, Right(1.087): Either[String, Double]),
      ("q99_semdedup", 1.0, 3.0, Left("boom \"x\""): Either[String, Double]))
    val s = BenchRender.full(results, headline, "/tmp/sf", 6, movers)
    val j = JsonMethods.parse(s)
    assert((j \ "movers_min6" \ "q31_dedup_minhash" \ "prev") === JDouble(0.7))
    assert((j \ "movers_min6" \ "q31_dedup_minhash" \ "full") === JDouble(8.0))
    assert((j \ "movers_min6" \ "q31_dedup_minhash" \ "min6") === JDouble(1.087))
    assert((j \ "movers_min6" \ "q99_semdedup" \ "min6" \ "err") !== JNothing)
    // summary (compaction fallback) carries the same field
    val sm = JsonMethods.parse(
      BenchRender.summary(results, headline, "/tmp/sf", 6, 2, movers))
    assert((sm \ "movers_min6" \ "q31_dedup_minhash" \ "min6") === JDouble(1.087))
    // a quiet round emits NO movers field at all
    val quiet = BenchRender.full(results, headline, "/tmp/sf", 6)
    assert((JsonMethods.parse(quiet) \ "movers_min6") === JNothing)
  }

  test("adjudicatedWalls: refuted spikes publish the min6 wall, not the phantom") {
    val rs = Seq(
      "q31_dedup_minhash" -> (Right(8.0): Either[String, Double]),
      "q99_semdedup" -> (Right(3.0): Either[String, Double]),
      "q01_assoc_datasource" -> (Right(1.5): Either[String, Double]))
    val movers = Seq(
      // refuted spike → canonical wall becomes the min6 figure
      ("q31_dedup_minhash", 0.7, 8.0, Right(1.087): Either[String, Double]),
      // min6 errored → the full wall stands (no silent green)
      ("q99_semdedup", 1.0, 3.0, Left("boom"): Either[String, Double]))
    val out = Bench.adjudicatedWalls(rs, movers).toMap
    assert(out("q31_dedup_minhash") === Right(1.087))
    assert(out("q99_semdedup") === Right(3.0))
    assert(out("q01_assoc_datasource") === Right(1.5))
    // a min6 that somehow measures SLOWER never inflates the figure
    val worse = Seq(("q31_dedup_minhash", 0.7, 8.0,
      Right(9.9): Either[String, Double]))
    assert(Bench.adjudicatedWalls(rs, worse).toMap
      .apply("q31_dedup_minhash") === Right(8.0))
  }

  test("selectMovers: a large-Δ / modest-ratio mover gets a slot (r11 blind spot)") {
    // r11: slots ranked by ratio only, so q178's +5.4 s at 2.9× lost
    // to a +0.8 s spike at 6×. With best-of(ratio rank, Δ rank), the
    // head of EITHER ordering is kept.
    val flagged = Seq(
      ("q_big_delta", 2.9, 8.3), // Δ=5.4, ratio 2.86 — must get a slot
      ("q_r1", 0.30, 1.95), ("q_r2", 0.31, 1.96), ("q_r3", 0.32, 1.97),
      ("q_r4", 0.33, 1.98), ("q_r5", 0.34, 1.99), ("q_r6", 0.35, 2.00))
    val picked = Bench.selectMovers(flagged, cap = 6).map(_._1)
    assert(picked.size == 6)
    assert(picked.contains("q_big_delta"),
      s"largest absolute Δ must be re-timed even at a modest ratio: $picked")
    // pure ratio ordering still wins slots too
    assert(picked.contains("q_r1"))
    // under the cap, everything flagged is kept, in deterministic order
    assert(Bench.selectMovers(flagged.take(3), cap = 6).map(_._1).toSet ==
      Set("q_big_delta", "q_r1", "q_r2"))
    assert(Bench.selectMovers(Nil, cap = 6).isEmpty)
  }

  test("previousWalls: full keys only, sf-gated, err entries skipped") {
    val p = java.nio.file.Files.createTempFile("bench", ".json")
    java.nio.file.Files.writeString(p,
      """{"schema":"graft-bench-1","metric":"total","value":9.0,"unit":"sec","reps":2,""" +
      """"queries":{"q01_assoc_datasource":1.5,"q99_semdedup":{"err":"boom 3.5"}},""" +
      """"hl_min6":{"q01":1.500},"full":"BENCH_FULL.json","sf":"/tmp/sfX"}""")
    val walls = Bench.previousWalls(p, "/tmp/sfX")
    // full-key numeric walls only: no short "q01" hl keys, no err objects
    assert(walls === Map("q01_assoc_datasource" -> 1.5))
    // a different sf means the walls are not comparable → empty
    assert(Bench.previousWalls(p, "/tmp/other") === Map.empty)
    assert(Bench.previousWalls(
      java.nio.file.Paths.get("/nonexistent/x.json"), "/tmp/sfX") === Map.empty)
    java.nio.file.Files.delete(p)
  }

  test("flagMovers engages across registry growth (r13 item 6)") {
    // The r13 worry: if the diff were gated on n_queries (or any
    // whole-file identity), adding queries to the registry would
    // silently DISARM the regression guard exactly when rounds add
    // queries. Synthetic prev artifact: one genuine 2.5× mover plus
    // keys that exist only on one side (removed / newly registered).
    val p = java.nio.file.Files.createTempFile("bench_prev", ".json")
    java.nio.file.Files.writeString(p,
      """{"schema":"graft-bench-1","metric":"total","value":9.0,"unit":"sec","reps":2,""" +
      """"queries":{"q01_assoc_datasource":1.0,"q02_assoc_overall":0.4,""" +
      """"q77_removed_query":2.0,"q78_also_removed":1.1},""" +
      """"hl_min6":{"q01":1.000},"full":"BENCH_FULL.json","sf":"/tmp/sfG"}""")
    val prev = Bench.previousWalls(p, "/tmp/sfG")
    assert(prev.size === 4) // extra (removed) keys parse fine
    val current: Seq[(String, Either[String, Double])] = Seq(
      "q01_assoc_datasource" -> Right(2.6), // 2.6× AND ≥ floor → mover
      "q02_assoc_overall" -> Right(0.9), // 2.25× but < floor → quiet
      "q330_new_query" -> Right(5.0), // new this round: no prev → quiet
      "q331_new_query" -> Right(9.0))
    val flagged = Bench.flagMovers(current, prev)
    assert(flagged === Seq(("q01_assoc_datasource", 1.0, 2.6)),
      s"registry growth (2 removed, 2 added) must not disarm the per-key diff: $flagged")
    // and with NO overlap at all (a full registry rename), it flags
    // nothing rather than crashing
    assert(Bench.flagMovers(
      Seq("qX_only_new" -> Right(9.9)), prev).isEmpty)
    java.nio.file.Files.delete(p)
  }

  test("the committed BENCH_STREAM.json conforms (graft-stream-bench-1)") {
    // pin the streaming-band artifact's form: schema tag, full query
    // keys, and per-query rows_per_sec/state fields (or an err object)
    val p = java.nio.file.Paths.get("BENCH_STREAM.json")
    if (java.nio.file.Files.exists(p)) {
      val j = JsonMethods.parse(java.nio.file.Files.readString(p))
      assert((j \ "schema") === JString("graft-stream-bench-1"))
      val qs = (j \ "queries").asInstanceOf[JObject].obj
      assert(qs.nonEmpty && qs.forall(_._1.matches("q\\d+[a-z0-9_]*")))
      qs.foreach { case (k, v) =>
        val ok = (v \ "err") != JNothing ||
          ((v \ "rows_per_sec") != JNothing &&
            (v \ "state_rows_max") != JNothing &&
            (v \ "state_bytes_max") != JNothing &&
            (v \ "input_rows") != JNothing)
        assert(ok, s"$k missing throughput/state fields: $v")
      }
    }
  }

  test("the committed BENCH_FULL.json conforms once regenerated") {
    // pin the FORM of the artifact this repo publishes: if BENCH_FULL
    // exists and is schema-tagged, its keys must be full query names
    val p = java.nio.file.Paths.get("BENCH_FULL.json")
    if (java.nio.file.Files.exists(p)) {
      val j = JsonMethods.parse(java.nio.file.Files.readString(p))
      if ((j \ "schema") != JNothing) {
        val qs = (j \ "queries").asInstanceOf[JObject].obj.map(_._1)
        assert(qs.nonEmpty && qs.forall(_.matches("q\\d+[a-z0-9_]*")))
        // files written before the host block existed have none
        if ((j \ "host") != JNothing) assertHost(j)
      }
    }
  }
}
