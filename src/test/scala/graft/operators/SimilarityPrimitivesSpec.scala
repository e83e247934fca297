package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The embedding-search operators' shared contract: one zero-vector
  * policy (dropped before any cosine) and one per-query ranking (at most
  * k rows, ranks 1..n, exact ties by id ascending).
  */
class SimilarityPrimitivesSpec extends SparkSpec {
  import spark.implicits._

  /** `copies` exact copies of each of `bases` seeded 64-dim vectors:
    * copy j of base b has id 10·b + j and label j, so every base is a
    * family of exactly tied candidates under different ids and labels.
    */
  private def families(bases: Int, copies: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until bases).flatMap { b =>
      val v = Array.fill(64)((rnd.nextGaussian() * 0.3).toFloat)
      (0 until copies).map(j => (10L * b + j, v, j))
    }.toDF("vec_id", "embedding", "label")
  }

  test("an all-zero vector changes no embedding operator's rows") {
    // three jittered clusters, one per label, so buckets and cells share
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(3, 64)(rnd.nextGaussian())
    val base = (1 to 40).map { i =>
      (i.toLong, centers(i % 3).map(x => (x + rnd.nextGaussian() * 0.3).toFloat), i % 3)
    }
    val clean = base.toDF("vec_id", "embedding", "label")
    // id 50 is also a query (id % 5 == 0) and a centroid-classify test row
    val dirty = (base :+ ((50L, Array.fill(64)(0f), 1))).toDF("vec_id", "embedding", "label")
    def qs(df: DataFrame) = df.filter(col("vec_id") % 5 === 0)
    def train(df: DataFrame) = df.filter(col("vec_id") % 5 =!= 0)
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "bruteForceTopK" -> (df => SimilaritySearch.bruteForceTopK(df, qs(df))),
      "hardNegatives" -> (df => SimilaritySearch.hardNegatives(df, qs(df))),
      "int8TopK" -> (df => SimilaritySearch.int8TopK(df, qs(df))),
      "signTopK" -> (df => SimilaritySearch.signTopK(df, qs(df))),
      "mmrTopK" -> (df => SimilaritySearch.mmrTopK(df, qs(df))),
      "pqTopK" -> (df => SimilaritySearch.pqTopK(df, qs(df))),
      "ivfTopK" -> (df => SimilaritySearch.ivfTopK(df, qs(df), nCentroids = 4,
        nProbe = 2, lloydIters = 1, replication = 2)),
      "lshTopK" -> (df => SimilaritySearch.lshTopK(df, qs(df))),
      "cosineNearDupPairs" -> (df => SimilaritySearch.cosineNearDupPairs(df, minCos = 0.1)),
      "silhouette" -> (df => SimilaritySearch.silhouette(df, nCentroids = 4)),
      "centroidClassify" -> (df => SimilaritySearch.centroidClassify(train(df), qs(df),
        keep = Seq("label"))),
      "centroidOutliers" -> (df => SimilaritySearch.centroidOutliers(df)),
      "labelConfusion" -> (df => SimilaritySearch.labelConfusion(df, qs(df))),
      "matryoshkaFidelity" -> (df => SimilaritySearch.matryoshkaFidelity(df, queryMod = 5)))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((name, op) <- ops) {
      val want = rows(op(clean))
      assert(want.nonEmpty, s"$name: the fixture yields no rows")
      assert(rows(op(dirty)) == want, s"$name: the zero vector changed the rows")
    }
  }

  test("every per-query top-k operator ranks 1..n and breaks exact ties by id") {
    val emb = families(bases = 10, copies = 3, seed = 5)
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val k = 4
    val labelOf = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val ops: Seq[(String, String, (Long, Long) => Boolean, DataFrame)] = Seq(
      ("bruteForceTopK", "cos", (_, _) => true,
        SimilaritySearch.bruteForceTopK(emb, queries, k)),
      ("hardNegatives", "cos", (q, id) => labelOf(q) != labelOf(id),
        SimilaritySearch.hardNegatives(emb, queries, k)),
      ("int8TopK", "cos8", (_, _) => true, SimilaritySearch.int8TopK(emb, queries, k)),
      ("lshTopK", "cos", (_, _) => true, SimilaritySearch.lshTopK(emb, queries, k)),
      ("ivfTopK", "cos", (_, _) => true,
        SimilaritySearch.ivfTopK(emb, queries, k, nCentroids = 4, nProbe = 2)),
      ("pqTopK", "cos", (_, _) => true, SimilaritySearch.pqTopK(emb, queries, k)),
      ("signTopK", "cos", (_, _) => true, SimilaritySearch.signTopK(emb, queries, k)))
    for ((name, score, eligible, out) <- ops) {
      val got = out.select(col("query_id"), col("id"), col("rank").cast("int"), col(score))
        .as[(Long, Long, Int, Double)].collect().groupBy(_._1)
      assert(got.size == 10, s"$name: ${got.size} of 10 queries answered")
      for ((q, rows) <- got) {
        val ranked = rows.sortBy(_._3).toSeq
        assert(ranked.size <= k, s"$name: query $q has ${ranked.size} rows")
        assert(ranked.map(_._3) == (1 to ranked.size), s"$name: query $q ranks $ranked")
        ranked.sliding(2).foreach {
          case Seq(a, b) => assert(a._4 > b._4 || (a._4 == b._4 && a._2 < b._2),
            s"$name: query $q orders ${a._2} before ${b._2}: $ranked")
          case _ =>
        }
        // copies of one base tie exactly, so the rows a family keeps
        // are its smallest eligible ids — the cut at k included
        ranked.groupBy(_._2 / 10).foreach { case (b, kept) =>
          val family = (0L until 3L).map(10 * b + _).filter(id => id != q && eligible(q, id))
          assert(kept.map(_._2).sorted == family.take(kept.size),
            s"$name: query $q keeps ${kept.map(_._2)} of family $family")
        }
      }
    }
  }

  test("jlProject drops an all-zero embedding instead of dividing by its norm") {
    val df = Seq((1L, Array.fill(64)(0f)), (2L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val out = SimilaritySearch.jlProject(df).collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(2L))
    // a constant vector projects onto ±1 sums of equal terms: the ratio is finite
    assert(out.head.getAs[Double]("norm_ratio") > 0)
  }

  test("ivfTopK drops a Lloyd centroid whose cell mean rounds to zero") {
    // one cell holding v, -v, v, -v: its Lloyd mean is the zero vector,
    // which has no cosine, so no cell is left to probe
    val v = Array.tabulate(64)(i => ((i % 7) - 3) * 0.1f)
    val df = Seq((1L, v), (2L, v.map(-_)), (3L, v), (4L, v.map(-_))).toDF("vec_id", "embedding")
    val out = SimilaritySearch.ivfTopK(df, df, k = 2, nCentroids = 1, nProbe = 1, lloydIters = 1)
    assert(out.collect().isEmpty)
    // without the Lloyd step the seed cell stands and every query is answered
    val seeded = SimilaritySearch.ivfTopK(df, df, k = 2, nCentroids = 1, nProbe = 1)
    assert(seeded.select("query_id").distinct().count() == 4)
  }
}
