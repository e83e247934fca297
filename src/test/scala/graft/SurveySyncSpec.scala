package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2 is the coverage contract: every registered query must be
  * claimed by a §2 row and every §2 gate query must exist in the
  * registry (VERDICT r6 flagged q146/q147 as doc drift — this spec makes
  * that class of drift a named test failure).
  */
class SurveySyncSpec extends AnyFunSuite {

  private lazy val surveyKeys: Set[String] = {
    val text = Files.readString(Paths.get("SURVEY.md"))
    val s2 = text.split("\n## ").find(_.startsWith("§2")).getOrElse(
      fail("SURVEY.md has no §2 section"))
    // query keys live in the 5th table column; grab every qNN_token
    "q[0-9]+[a-z0-9_]*".r.findAllIn(s2).toSet
  }

  test("every SparkEntry query key appears in SURVEY §2") {
    val missing = SparkEntry.queries.keySet -- surveyKeys
    assert(missing.isEmpty,
      s"registered but absent from SURVEY §2 (add a row): ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every SURVEY §2 gate query is registered") {
    // §2 prose may mention query keys in parentheticals; only keys of
    // the qNN_name form (with an underscore part) are gate keys.
    val gates = surveyKeys.filter(_.contains("_"))
    val missing = gates -- SparkEntry.queries.keySet
    assert(missing.isEmpty,
      s"claimed in SURVEY §2 but not registered: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query has a DuckDB oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries without oracle SQL: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("no src/main file exceeds the 3k-line hygiene cap") {
    // the r12 hygiene rule (Rollups, then StatsQueries were split at
    // their inference/eval seams): registry shards and operators stay
    // reviewable; a file crossing 3k lines is a named failure, not a
    // verdict note
    import scala.jdk.CollectionConverters._
    val over = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).size)
      .filter(_._2 > 3000).toSeq
    assert(over.isEmpty,
      s"files over the 3k cap (split at a family seam): ${over.mkString(", ")}")
  }

  test("graft owns no conf key in src/main") {
    // a rule is switched off through Spark's own excludedRules, so a
    // graft-owned key is one more settable value that nothing needs
    import scala.jdk.CollectionConverters._
    val key = """"(spark\.graft\.[^"]*)"""".r
    val keys = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap(p => key.findAllMatchIn(Files.readString(p)).map(m => s"${m.group(1)} ($p)"))
      .toSeq.sorted
    assert(keys.isEmpty,
      "spark.graft.* conf keys in src/main (a rule is turned off with " +
        s"spark.sql.optimizer.excludedRules=<rule class>): ${keys.mkString(", ")}")
  }

  test("cap guards are built only by PairForms.capDrop") {
    // one cap shape, one metric shape: a hand-rolled cap observe() is
    // how a cap ends up unreported or under a second naming scheme
    import scala.jdk.CollectionConverters._
    val capObserve = """\.observe\(\s*s?"[^"]*_cap_""".r
    val handRolled = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "PairForms.scala")
      .filter(p => capObserve.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
    assert(handRolled.isEmpty,
      s"cap observe() outside PairForms (use PairForms.capDrop): ${handRolled.mkString(", ")}")
  }

  test("streams are started only by the StreamQueries replay runner") {
    // one runner owns the sink, the checkpoint, the state width and the
    // state store: a second start site is a replay that skips one of them
    import scala.jdk.CollectionConverters._
    val starts = Seq("""\.writeStream\b""".r, """Trigger\.AvailableNow""".r,
      """"spark\.sql\.shuffle\.partitions"|SHUFFLE_PARTITIONS""".r)
    def code(line: String) = {
      val t = line.trim
      !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
    }
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.filter(code)
        .flatMap(l => starts.filter(_.findFirstIn(l).isDefined).map(r => (p, r.regex))))
    // GraftSession only sizes the session it builds (its `.config`)
    val outside = hits.filterNot { case (p, r) =>
      p.getFileName.toString == "StreamQueries.scala" ||
        (p.getFileName.toString == "GraftSession.scala" && r.contains("shuffle"))
    }
    assert(outside.isEmpty, s"stream start or width outside the runner: $outside")
    val inRunner = hits.filter(_._1.getFileName.toString == "StreamQueries.scala")
      .groupBy(_._2).map { case (r, hs) => r -> hs.size }
    assert(inRunner.size == starts.size && inRunner.values.forall(_ == 1),
      s"the runner holds each of them once: $inRunner")
    val rocks = Files.walk(Paths.get("src/main/scala/graft/registry")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("withRocksDbStateStore"))
      .toSeq
    assert(rocks.isEmpty, s"the replay runner picks the state store: $rocks")
  }

  test("bounded heaps are built only by the shared k-best heap") {
    // one sift-up and one sift-down (functions/KBestHeap.scala): a
    // hand-rolled heap is a second spelling of its order and a second
    // place for an index slip
    import scala.jdk.CollectionConverters._
    val parentIndex = """\(\s*\w+\s*-\s*1\s*\)\s*/\s*2""".r
    def code(line: String) = {
      val t = line.trim
      !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
    }
    val handRolled = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "KBestHeap.scala")
      .filter(p => Files.readAllLines(p).asScala
        .exists(l => code(l) && parentIndex.findFirstIn(l).isDefined))
      .toSeq
    assert(handRolled.isEmpty,
      s"sift loop outside KBestHeap (extend KBestHeap): ${handRolled.mkString(", ")}")
  }

  test("shared oracle fragments and input frames are spelled only in QueryHelpers") {
    // one spelling per recurring piece: a registry copy of a day bucket,
    // the novelty decay, the quality numerator or the two-group grain is
    // a second place for the engines to drift apart
    import scala.jdk.CollectionConverters._
    val pieces = Seq(
      "epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000", // QueryHelpers.DaySql
      "unix_micros(ts) div 86400000000", // QueryHelpers.dayOf
      "exp(2.0 * (d.delta - 2.0))", // QueryHelpers.NoveltySql
      "4 * least(n_tokens, 100)", // QueryHelpers.QualityUnitsSql
      "FILTER (event_type = 'click') AS BIGINT) AS c1") // QueryHelpers.TwoGroupGrainSql
    def code(line: String) = {
      val t = line.trim
      !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
    }
    val copies = Files.list(Paths.get("src/main/scala/graft/registry")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "QueryHelpers.scala")
      .toSeq.sortBy(_.toString)
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.filter(code)
        pieces.filter(x => lines.exists(_.contains(x))).map(x => s"${p.getFileName}: $x")
      }
    assert(copies.isEmpty,
      s"use the QueryHelpers fragment instead of a copy: ${copies.mkString("; ")}")
  }

  test("per-query rankings and cosines are built only by SimilaritySearch's primitives") {
    // one ranking contract (ties by id, which recallAtK/mrrAtK/ndcgAtK
    // compare against), one query-side rename and one cosine (over norms
    // of vectors that SimilaritySearch.vectors keeps non-zero): a
    // hand-spelled copy is how one operator drifts from the others
    import scala.jdk.CollectionConverters._
    def code(line: String) = {
      val t = line.trim
      !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
    }
    val root = Paths.get("src/main/scala/graft")
    val lines = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .collect { case (l, i) if code(l) => (root.relativize(p).toString, i + 1, l) })
    def at(piece: String, home: String) = {
      val hits = lines.filter(_._3.contains(piece))
      (hits.filter(_._1 == home), hits.filterNot(_._1 == home).map(h => s"${h._1}:${h._2}"))
    }
    // the ranking (rankPerQuery) and the query rename (querySide)
    for (piece <- Seq("""partitionBy("query_id")""", """col("qv").as("qqv")""")) {
      val (home, elsewhere) = at(piece, "operators/SimilaritySearch.scala")
      assert(home.size == 1 && elsewhere.isEmpty,
        s"$piece spelled ${home.size + elsewhere.size} times, once is SimilaritySearch's " +
          s"primitive: ${home.map(h => s"${h._1}:${h._2}").mkString(", ")}" +
          s" ${elsewhere.mkString(", ")}")
    }
    // the dot product only inside graft.functions' norm and cosine
    val (_, dots) = at("quantizedDot(", "functions/package.scala")
    assert(dots.isEmpty,
      s"hand-spelled dot/norm/cosine (use quantizedNorm, quantizedCosine): ${dots.mkString(", ")}")
  }

  test("text word streams and n-grams are built only by their shared primitives") {
    // one tokenisation and one n-gram window per engine: a hand-spelled
    // copy in one operator or oracle is how it drifts from the others
    import scala.jdk.CollectionConverters._
    def code(line: String) = {
      val t = line.trim
      !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
    }
    def hits(file: String, piece: String) =
      Files.readAllLines(Paths.get(s"src/main/scala/graft/$file")).asScala.zipWithIndex
        .collect { case (l, i) if code(l) && l.contains(piece) => s"$file:${i + 1}" }.toSeq
    val registry = Files.list(Paths.get("src/main/scala/graft/registry")).iterator().asScala
      .map(p => s"registry/${p.getFileName}").filter(_.endsWith(".scala")).toSeq.sorted
    def once(piece: String, home: String, files: Seq[String]) = {
      val at = files.flatMap(hits(_, piece))
      assert(at.size == 1 && at.head.startsWith(s"$home:"),
        s"$piece spelled ${at.size} times, once is $home's primitive: ${at.mkString(", ")}")
    }
    // TextAnalysis.wordRows and TextAnalysis.ngrams
    once("explode(words(", "operators/TextAnalysis.scala", "operators/TextAnalysis.scala" +: registry)
    once("slice(w, lit(", "operators/TextAnalysis.scala", Seq("operators/TextAnalysis.scala"))
    // QueryHelpers.WordRowsSql (TermCountsSql's too); NgramsSql replays no w[i-1]
    once("unnest(string_split(text, ' '))", "registry/QueryHelpers.scala", registry)
    for (piece <- Seq("explode(TextAnalysis.words(", "w[i-1]", "w[i-2]")) {
      val at = registry.flatMap(hits(_, piece))
      assert(at.isEmpty, s"use the shared primitive instead of $piece: ${at.mkString(", ")}")
    }
  }
}
