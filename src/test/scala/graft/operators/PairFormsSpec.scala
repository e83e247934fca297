package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pair operators' shared pieces (PairForms): the cap guard and its
  * metric, the in-row pair expansion, and the LSH band keys.
  */
class PairFormsSpec extends SparkSpec {
  import spark.implicits._

  private def metric(df: DataFrame, prefix: String) =
    df.queryExecution.observedMetrics.toSeq.filter(_._1.startsWith(prefix))

  test("capDrop drops buckets over the cap and reports their weighted mass") {
    // rows stand for f documents each (PPJoin's family mass): bucket x
    // holds 7, y 2, z 5; at cap 4 buckets x and z go, 12 documents
    val rows = Seq(("x", 3L), ("x", 4L), ("y", 1L), ("y", 1L), ("z", 5L))
      .toDF("k", "f")
      .withColumn("bn", sum(col("f")).over(Window.partitionBy("k")))
    val out = PairForms.capDrop(rows, "probe_weight", col("bn"), 4, weight = col("f"))
    // collect() the observed frame itself: its metrics live on THIS
    // QueryExecution, not on a derived frame's
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("y", 1L), ("y", 1L)))
    val Seq((name, m)) = metric(out, "graft_probe_weight_cap_")
    assert(m.getAs[Long]("dropped_postings") == 12L, name)
    assert(m.getAs[Long]("max_bucket_size") == 7L, name)
  }

  test("capDrop keeps single-member buckets only when asked, and names its fields") {
    val rows = Seq(("x", 1L), ("y", 2L), ("y", 2L)).toDF("k", "n")
    val pairsOnly = PairForms.capDrop(rows, "probe_one", col("n"), 5)
    assert(pairsOnly.count() == 2L)
    val all = PairForms.capDrop(rows, "probe_one", col("n"), 1, largest = None,
      dropped = "dropped_rows", singletons = true)
    assert(all.collect().map(_.getString(0)).toSeq == Seq("x"))
    val Seq((_, m)) = metric(all, "graft_probe_one_cap_")
    assert(m.schema.fieldNames.toSeq == Seq("dropped_rows"))
    assert(m.getAs[Long]("dropped_rows") == 2L)
  }

  test("a cap that drops every candidate still counts the drop") {
    // every bucket is over the cap, so the pair branch comes out empty
    // and AQE replaces the plan above it with an EmptyRelation; the cap
    // ran and counted the drop, but Spark's observedMetrics no longer
    // sees it — SparkSpec.observed reads through the pruned stage
    val same = (1 to 20).map(j => s"w$j").mkString(" ")
    val docs = (1 to 10).map(i => (i.toLong, same)).toDF("doc_id", "text")
    val report = observedMetric("graft_lsh_bucket_cap") {
      assert(Dedup.minhashLshPairs(docs, bucketCap = 5).collect().isEmpty)
    }(_.getAs[Long]("dropped_postings") == 30L)
    assert(report.isRight, s"10 docs x 3 bands must be reported dropped, saw $report")
  }

  test("two caps in one plan get distinct metric names") {
    val rows = Seq(("x", 3L), ("y", 1L)).toDF("k", "n")
    val out = PairForms.capDrop(
      PairForms.capDrop(rows, "probe_twice", col("n"), 2, singletons = true),
      "probe_twice", col("n"), 2, singletons = true)
    assert(out.collect().length == 1)
    val names = metric(out, "graft_probe_twice_cap_").map(_._1)
    assert(names.size == 2 && names.distinct.size == 2, s"got $names")
  }

  test("capDrop rejects a cap that empties its filter whatever the data") {
    // size > 1 AND size <= 1 folds to an empty relation: nothing would
    // run and no metric would exist, so the frame is refused when built
    val rows = Seq(("x", 1L), ("y", 2L)).toDF("k", "n")
    val pairs = intercept[IllegalArgumentException](
      PairForms.capDrop(rows, "probe_low", col("n"), 1))
    assert(pairs.getMessage.contains("probe_low cap must be >= 2, got 1"))
    val single = intercept[IllegalArgumentException](
      PairForms.capDrop(rows, "probe_low", col("n"), 0, singletons = true))
    assert(single.getMessage.contains("probe_low cap must be >= 1, got 0"))
    // the smallest caps that can keep a row are still accepted
    assert(PairForms.capDrop(rows, "probe_low", col("n"), 2).count() == 1L)
    assert(PairForms.capDrop(rows, "probe_low", col("n"), 1, singletons = true).count() == 1L)
    // an operator given such a cap fails the same way (it used to
    // return an empty frame and publish no metric)
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.lexicalCosinePairs(docs, minCos = 0.1, maxDf = 1))
    assert(e.getMessage.contains("cap must be >= 2, got 1"))
  }

  test("memberPairs expands a hand-listed bucket into its unordered pairs") {
    val postings = Seq(("x", 3L), ("x", 1L), ("x", 2L), ("y", 4L)).toDF("k", "id")
    val scalar = PairForms.memberPairs(postings, Seq("k"), col("id"),
      keep = Seq("k"), pair = _ < _, as = ("idA", "idB"))
    assert(scalar.columns.toSeq == Seq("k", "idA", "idB"))
    assert(scalar.as[(String, Long, Long)].collect().toSet ==
      Set(("x", 1L, 2L), ("x", 1L, 3L), ("x", 2L, 3L)))
    // struct members pair on their id field by default
    val structs = PairForms.memberPairs(
        postings.withColumn("w", col("id") * 10), Seq("k"), struct(col("id"), col("w")))
      .select(col("a.id"), col("b.w")).as[(Long, Long)].collect().toSet
    assert(structs == Set((1L, 20L), (1L, 30L), (2L, 30L)))
  }

  test("bandKeys hashes consecutive signature slices and rejects an uneven split") {
    val sig = Seq(Seq("s1", "s2", "s3", "s4")).toDF("sig")
    val keys = sig.select(PairForms.bandKeys(col("sig"), 4, 2)).as[Seq[String]].head()
    val expect = Seq("s1|s2", "s3|s4").map { s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(keys == expect)
    val e = intercept[IllegalArgumentException](PairForms.bandKeys(col("sig"), 12, 5))
    assert(e.getMessage.contains("k=12 must be divisible by bands=5"))
  }
}
