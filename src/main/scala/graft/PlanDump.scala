package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` for a set of registered queries to files
  * (`<outDir>/<query>_<tag>.txt`), so plan-shape claims are checkable
  * without a Spark runtime and two dumps diff cleanly.
  *
  * Each plan goes through [[PlanDump.normalize]], so a dump does not
  * depend on what the JVM built before it: two dumps of the same tree,
  * in any query order, are byte-identical.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (the queries run in the listed order; no list = every registered
  * query, in registry order).
  */
object PlanDump {

  /** Rewrite the run-dependent parts of an explain text: each
    * multi-distinct `Expand` is put in a canonical order (see
    * [[canonicalExpand]]); JVM lambda names, object hashes, UUIDs,
    * scratch paths and call-site line numbers are masked; and
    * expression, plan, RDD, codegen-stage and subquery ids, lambda
    * variable suffixes and cap-metric name suffixes are numbered by
    * first appearance.
    */
  def normalize(plan: String): String = {
    val expanded = expandArgs.findAllMatchIn(plan).toSeq.foldLeft(plan)(canonicalExpand)
    val masked = Seq(
      "\\$\\$Lambda[$/0-9a-zA-Z]*(@[0-9a-f]+)?" -> "\\$\\$Lambda",
      "@[0-9a-f]{5,}" -> "@h",
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "uuid",
      "(graft-scratch|spark-local|blockmgr)[^\\s,\\]\\)]*" -> "$1",
      "(\\.scala|\\.java):[0-9]+" -> "$1:n")
      .foldLeft(expanded) { case (s, (re, to)) => s.replaceAll(re, to) }
    Seq("#", "plan_id=", "RDD\\[", "\\[codegen id : ", "Subquery:", "lambda [a-zA-Z]+_",
        "graft_[a-z_]+_cap_")
      .foldLeft(masked)(renumber)
  }

  /** An `Expand` node's arguments line: its projection rows, its output. */
  private val expandArgs = """(?m)^Arguments: \[(\[.*\])\], \[([^\[\]]*)\]$""".r

  /** Spark orders a multi-distinct `Expand`'s distinct groups — its rows,
    * their gid literals and their output columns — by expression-id
    * hashes, so the same query renders differently after different
    * work. Order the distinct columns by name and the rows by their
    * columns: rewrite the rows, every `gid = k` test, and every list of
    * the plan whose items each carry one distinct column (Input, Keys,
    * Results, hashpartitioning, Functions).
    */
  private def canonicalExpand(plan: String, m: scala.util.matching.Regex.Match): String = {
    val rows = items(m.group(1)).map(r => items(r.drop(1).dropRight(1)).toIndexedSeq)
    val out = items(m.group(2)).toIndexedSeq
    val g = out.indexWhere(_.startsWith("gid#"))
    val distinct = (0 until math.max(g, 0)).filter(j => rows.exists(_(j) == "null"))
    if (g < 0 || distinct.size < 2) return plan
    val name = (s: String) => s.replaceAll("#[0-9]+", "")
    val rank = distinct.sortBy(j => name(out(j))).zipWithIndex.toMap
    // each distinct row's gid → its rank among the rows, ordered by
    // the ranks of the columns it sets; the regular row keeps gid 0
    val gids = rows.filter(_(g) != "0")
      .sortBy(r => distinct.filter(r(_) != "null").map(rank).sorted.mkString(","))
      .zipWithIndex.map { case (r, i) => r(g) -> (i + 1).toString }.toMap + ("0" -> "0")
    val newRows = rows.map { r =>
      distinct.zip(distinct.sortBy(rank)).foldLeft(r) { case (acc, (slot, from)) =>
        acc.updated(slot, r(from)) }.updated(g, gids(r(g)))
    }.sortBy(_(g).toInt).map(_.mkString("[", ", ", "]")).mkString(", ")
    val tokens = distinct.map(j => out(j) -> rank(j))
    val gidTest = ("(" + java.util.regex.Pattern.quote(out(g)) + " = )([0-9]+)").r
    val rewritten = plan.replace(m.group(0), s"Arguments: [$newRows], [${m.group(2)}]")
    reorderLists(gidTest.replaceAllIn(rewritten, t =>
      t.group(1) + gids.getOrElse(t.group(2), t.group(2))), tokens)
  }

  /** Top-level comma-separated items of a list body. */
  private def items(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    body.indices.foreach { i =>
      body(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 => out += body.substring(start, i).trim; start = i + 1
        case _ =>
      }
    }
    if (body.trim.nonEmpty) out += body.substring(start).trim
    out.toSeq
  }

  /** In every bracketed or parenthesised list of `s`, the items that each
    * carry exactly one of `tokens` swap among their own slots into the
    * tokens' rank order; every other item stays where it is.
    */
  private def reorderLists(s: String, tokens: Seq[(String, Int)]): String = {
    val res = tokens.map { case (t, r) =>
      (java.util.regex.Pattern.quote(t) + "(?![0-9])").r -> r }
    def rankOf(item: String): Option[Int] =
      res.filter(_._1.findFirstIn(item).isDefined) match {
        case Seq((_, r)) => Some(r)
        case _ => None
      }
    def reorder(body: String): String = {
      val its = items(body).toIndexedSeq
      val ranked = its.indices.filter(k => rankOf(its(k)).isDefined)
      if (ranked.size < 2) body
      else ranked.zip(ranked.sortBy(k => rankOf(its(k)).get))
        .foldLeft(its) { case (acc, (slot, k)) => acc.updated(slot, its(k)) }
        .mkString(", ")
    }
    // the text from `from` up to `close` (exclusive; NUL = the end),
    // each nested list reordered; returns it and the index of `close`
    def group(from: Int, close: Char): (String, Int) = {
      val sb = new StringBuilder
      var i = from
      while (i < s.length && s(i) != close) {
        if (s(i) == '[' || s(i) == '(') {
          val (inner, end) = group(i + 1, if (s(i) == '[') ']' else ')')
          sb.append(s(i)).append(reorder(inner))
          if (end < s.length) sb.append(s(end))
          i = end + 1
        } else { sb.append(s(i)); i += 1 }
      }
      (sb.toString, i)
    }
    group(0, '\u0000')._1
  }

  /** Number the integers after `prefix` by first appearance. */
  private def renumber(s: String, prefix: String): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    s"($prefix)([0-9]+)".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val queries = SparkEntry.queries
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    names.foreach { name =>
      val txt =
        try normalize(queries(name)(spark, sfDir).queryExecution.explainString(mode))
        catch { case e: Throwable =>
          s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
    }
    spark.stop()
  }
}
