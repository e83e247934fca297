package graft.operators

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Embeddings are ×1000-quantized to Long before any math, making dot
  * products exact integer sums — order-independent and bit-identical
  * across engines (SURVEY.md §3) — while the final cosine stays a
  * deterministic double (IEEE sqrt/div of exact inputs).
  *
  * Every operator is built from the same few pieces: [[vectors]] (the
  * coded vector and its norm, zero vectors dropped), [[querySide]]
  * (the broadcast query rename), [[queryCos]] /
  * [[graft.functions.quantizedCosine]] (the one cosine) and
  * [[rankPerQuery]] (the one per-query ranking, ties by id) — the Spark
  * twins of the `QueryHelpers` oracle fragments `VectorsSql`,
  * `CosineSql` and `CosineRankSql`. Candidate generation (brute force,
  * label filter, LSH bucket, IVF cell, PQ/sign shortlist) is what each
  * operator adds.
  *
  * Scale design: the query set is broadcast against the corpus (the
  * corpus is never shuffled); the LSH variant buckets the corpus by
  * deterministic hyperplane signs so only same-bucket candidates are
  * scored — the 100 TB path.
  */
object SimilaritySearch {

  /** `(id, qv, carry*, nrm)`: each vector coded by `code` (the ×1000
    * quantizer unless given) with its norm. Zero-norm vectors are
    * dropped here, once for every operator: cosine is undefined for
    * them, and dividing by a zero norm fails the task under ANSI.
    */
  private def vectors(
      df: DataFrame,
      idCol: String,
      embCol: String,
      code: Column => Column = quantize(_),
      carry: Seq[Column] = Nil): DataFrame =
    spread(df)
      .select(col(idCol).as("id") +: code(col(embCol)).as("qv") +: carry: _*)
      .withColumn("nrm", quantizedNorm(col("qv")))
      .filter(col("nrm") > 0d)

  /** The broadcast query side of a [[vectors]] frame: `(query_id, qqv,
    * qnrm, carry*)`.
    */
  private def querySide(v: DataFrame, carry: Column*): DataFrame =
    broadcast(v.select(Seq(col("id").as("query_id"), col("qv").as("qqv"),
      col("nrm").as("qnrm")) ++ carry: _*))

  /** Cosine of corpus vector `qv` against query vector `qqv`. */
  private def queryCos: Column =
    quantizedCosine(col("qv"), col("qqv"), col("nrm"), col("qnrm"))

  /** The first `k` rows of each query_id by `order`, numbered 1..k in
    * column `rank`, ties by id ascending — the order recallAtK, mrrAtK
    * and ndcgAtK compare against and `CosineRankSql` mirrors.
    */
  private def rankPerQuery(
      scored: DataFrame, order: Column, k: Int, rank: String = "rank"): DataFrame =
    scored
      .withColumn(rank,
        row_number().over(Window.partitionBy("query_id").orderBy(order, col("id"))))
      .filter(col(rank) <= k)

  /** Per-label centroids `(lbl, cv, cnrm)` of a [[vectors]] frame that
    * carries `lbl`: per-(label, dim) integer sums of the quantized
    * vectors — posexplode fans each vector into (label, dim, value)
    * rows whose sum is exact and order-independent, with map-side
    * partial aggregation absorbing most of the fan-out before the
    * shuffle. The sum stands in for the mean (the 1/count cancels
    * inside cosine), so everything stays integer until the final
    * sqrt/divide. A zero centroid is dropped, as [[vectors]] drops a
    * zero vector. Per-dim sums must fit a Long — at >~10⁹ rows per
    * label feed a sampled split.
    */
  private def labelCentroids(v: DataFrame): DataFrame =
    v.select(col("lbl"), posexplode(col("qv")))
      .groupBy(col("lbl"), col("pos"))
      .agg(sum("col").as("s"))
      .groupBy("lbl")
      .agg(array_sort(collect_list(struct(col("pos"), col("s")))).as("ps"))
      .select(col("lbl"), transform(col("ps"), x => x.getField("s")).as("cv"))
      .withColumn("cnrm", quantizedNorm(col("cv")))
      .filter(col("cnrm") > 0)

  /** Exact brute-force cosine top-k of `queries` against `corpus`.
    * Output: (query_id, id, rank, cos). Ties broken by id ascending —
    * fully deterministic.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val scored = vectors(corpus, idCol, embCol)
      .join(querySide(vectors(queries, idCol, embCol)), col("id") =!= col("query_id"))
      .withColumn("cos", queryCos)
    rankPerQuery(scored, col("cos").desc, k)
      .select(col("query_id"), col("id"), col("rank"), round(col("cos"), 4).as("cos"))
  }

  /** Hard-negative mining for contrastive training — for each ANCHOR
    * vector, the k most-similar corpus vectors carrying a DIFFERENT
    * label: the negatives that actually move a contrastive/triplet
    * loss (random negatives are trivially separable; the near-miss
    * wrong-label items define the decision boundary — e.g. SimCSE /
    * DPR hard-negative curation). G70's neighbor label-confusion
    * REPORTS the boundary problem; this emits the training rows.
    *
    * Scale shape: the [[bruteForceTopK]] contract — anchors broadcast
    * against the corpus scan, with the label-inequality predicate
    * riding the JOIN so wrong-label pruning happens before any scored
    * row materializes; integer dots; bounded per-anchor top-k window.
    *
    * Output: (query_id, anchor_label, id, neg_label, rank, cos).
    */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    def labeled(df: DataFrame) =
      vectors(df, idCol, embCol, carry = Seq(col(labelCol).as("lbl")))
    val q = querySide(labeled(anchors), col("lbl").as("qlbl"))
    val scored = labeled(corpus)
      .join(q, col("id") =!= col("query_id") && col("lbl") =!= col("qlbl"))
      .withColumn("cos", queryCos)
    rankPerQuery(scored, col("cos").desc, k)
      .select(col("query_id"), col("qlbl").as("anchor_label"),
        col("id"), col("lbl").as("neg_label"),
        col("rank"), round(col("cos"), 4).as("cos"))
  }

  /** Brute-force cosine top-k over int8-quantized codes — the
    * quantized-index variant of [[bruteForceTopK]]: vectors are
    * compressed to per-vector-scaled int8 (see
    * [[graft.functions.quantizeInt8]]) and ALL search math runs on the
    * codes; scales cancel in cosine, so there is no dequantization on
    * the hot path. At 100 TB this is the memory lever: the broadcast
    * query table and the scanned corpus codes are 4× smaller than f32,
    * and the integer dot stays exact and engine-portable.
    *
    * Output: (query_id, id, rank, cos8), ties by id ascending.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    def codes(df: DataFrame) = vectors(df, idCol, embCol, code = quantizeInt8)
    val scored = codes(corpus)
      .join(querySide(codes(queries)), col("id") =!= col("query_id"))
      .withColumn("cos8", queryCos)
    rankPerQuery(scored, col("cos8").desc, k)
      .select(col("query_id"), col("id"), col("rank"), round(col("cos8"), 4).as("cos8"))
  }

  /** 1-bit sign-quantization ANN (G114) — the extreme end of the
    * [[int8TopK]]/[[pqTopK]] compression ladder: each vector keeps
    * only its per-dimension SIGNS, packed 32 per long (64 dims = 2
    * longs = 8 bytes — 32× smaller than f32), and stage 1 shortlists
    * by HAMMING distance, which for sign codes is the random-
    * hyperplane estimate of angular distance (Charikar 2002:
    * cos(π·ham/d) ≈ cosine). Stage 2 re-ranks only the shortlist
    * with the exact integer cosine — the [[pqTopK]] two-stage
    * layout. At 100 TB the sign index is the one that fits in
    * memory: 1 bit/dim, and the scan cost per pair is two XOR+popcount
    * instructions instead of a 64-dim dot.
    *
    * Determinism: signs are taken on the ×1000-quantized grid
    * (q_i > 0 — engine-identical), the packed halves are exact long
    * sums of distinct powers of two, Hamming is integer; the
    * shortlist cut orders by (hamming asc, id) and the final rank by
    * (cos desc, id) — both total.
    *
    * Output: (query_id, id, rank, cos, hamming) — the
    * [[bruteForceTopK]] contract plus the stage-1 distance.
    */
  def signTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      shortlist: Int = 50,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    def packed(df: DataFrame) = vectors(df, idCol, embCol)
      .withColumn("h1", expr(
        "aggregate(zip_with(slice(qv, 1, 32), sequence(0, 31), " +
          "(x, i) -> IF(x > 0L, shiftleft(1L, i), 0L)), 0L, " +
          "(acc, b) -> acc + b)"))
      .withColumn("h2", expr(
        "aggregate(zip_with(slice(qv, 33, 32), sequence(0, 31), " +
          "(x, i) -> IF(x > 0L, shiftleft(1L, i), 0L)), 0L, " +
          "(acc, b) -> acc + b)"))
    val q = querySide(packed(queries), col("h1").as("qh1"), col("h2").as("qh2"))
    val hammed = packed(corpus).join(q, col("id") =!= col("query_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(h1 ^ qh1) + bit_count(h2 ^ qh2) AS BIGINT)"))
    val scored = rankPerQuery(hammed, col("hamming"), shortlist, "__sr")
      .withColumn("cos", queryCos)
    rankPerQuery(scored, col("cos").desc, k)
      .select(col("query_id"), col("id"), col("rank"),
        round(col("cos"), 4).as("cos"), col("hamming"))
  }

  /** Maximal-marginal-relevance diversified top-3 (G121, Carbonell &
    * Goldstein 1998) — the de-duplicating retrieval layer every RAG
    * stack runs over its ANN shortlist: plain top-k returns five
    * copies of the same near-duplicate passage; MMR greedily picks
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), trading relevance
    * against redundancy to what is already selected.
    *
    * Determinism: relevance and candidate-pair similarities are the
    * exact-integer-dot cosines; the three greedy rounds are UNROLLED
    * (a fixed depth, the oracle's contract) with every argmax totally
    * ordered by (score desc, id); scores publish 4dp, comparisons run
    * on raw identical doubles.
    *
    * Scale shape: the selection never touches the corpus — a bounded
    * `pool` shortlist per query (the [[bruteForceTopK]] window) plus
    * its pool² pairwise sims; all joins ride the query key.
    *
    * Output: (query_id, rank, id, rel, mmr) — rank 1..3; the first
    * pick's mmr is λ·rel (empty-selection penalty 0).
    */
  def mmrTopK(
      corpus: DataFrame,
      queries: DataFrame,
      pool: Int = 8,
      lambdaRel: Double = 0.7,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val rel = vectors(corpus, idCol, embCol)
      .join(querySide(vectors(queries, idCol, embCol)), col("id") =!= col("query_id"))
      .withColumn("rel", queryCos)
    val cand = rankPerQuery(rel, col("rel").desc, pool, "__rk")
      .select(col("query_id"), col("id"), col("rel"), col("qv"), col("nrm"))
      .localCheckpoint() // feeds the sims self-join and every round
    val sims = cand.as("x").join(cand.as("y"),
        col("x.query_id") === col("y.query_id") && col("x.id") =!= col("y.id"))
      .select(col("x.query_id").as("query_id"), col("x.id").as("a"),
        col("y.id").as("b"),
        quantizedCosine(col("x.qv"), col("y.qv"), col("x.nrm"), col("y.nrm")).as("sim"))
      .localCheckpoint() // probed by rounds 2 and 3
    // the best candidate of each query's round: one per-query pick
    def pick(round: DataFrame, score: Column) = rankPerQuery(round, score.desc, 1, "__rk")
    val pool0 = cand.select("query_id", "id", "rel")
    val s1 = pick(pool0, col("rel"))
      .select(col("query_id"), col("id").as("s1"), col("rel").as("rel1"))
    val r2 = pool0.join(s1, "query_id").filter(col("id") =!= col("s1"))
      .join(sims.select(col("query_id"), col("a").as("id"),
        col("b").as("s1"), col("sim").as("__p1")), Seq("query_id", "id", "s1"))
      .withColumn("__sc",
        lit(lambdaRel) * col("rel") - lit(1.0 - lambdaRel) * col("__p1"))
    val s2 = pick(r2, col("__sc"))
      .select(col("query_id"), col("s1"), col("rel1"),
        col("id").as("s2"), col("rel").as("rel2"), col("__sc").as("sc2"))
    val r3 = pool0.join(s2, "query_id")
      .filter(col("id") =!= col("s1") && col("id") =!= col("s2"))
      .join(sims.select(col("query_id"), col("a").as("id"),
        col("b").as("s1"), col("sim").as("__p1")), Seq("query_id", "id", "s1"))
      .join(sims.select(col("query_id"), col("a").as("id"),
        col("b").as("s2"), col("sim").as("__p2")), Seq("query_id", "id", "s2"))
      .withColumn("__sc", lit(lambdaRel) * col("rel") -
        lit(1.0 - lambdaRel) * greatest(col("__p1"), col("__p2")))
    val s3 = pick(r3, col("__sc"))
      .select(col("query_id"), col("s1"), col("rel1"), col("s2"), col("rel2"),
        col("sc2"), col("id").as("s3"), col("rel").as("rel3"),
        col("__sc").as("sc3"))
    s3.select(col("query_id"), explode(array(
        struct(lit(1).as("rank"), col("s1").as("id"), col("rel1").as("rel"),
          (lit(lambdaRel) * col("rel1")).as("mmr")),
        struct(lit(2).as("rank"), col("s2").as("id"), col("rel2").as("rel"),
          col("sc2").as("mmr")),
        struct(lit(3).as("rank"), col("s3").as("id"), col("rel3").as("rel"),
          col("sc3").as("mmr")))).as("r"))
      .select(col("query_id"), col("r.rank").as("rank"), col("r.id").as("id"),
        round(col("r.rel"), 4).as("rel"), round(col("r.mmr"), 4).as("mmr"))
  }

  /** Product-quantization ANN (FAISS PQ, asymmetric-distance flavor),
    * two-stage: the 64-dim vector splits into `subspaces` subvectors,
    * each with a `codebookSize`-entry codebook (deterministic
    * md5-ordered corpus seeds — the [[ivfTopK]] seeding); every corpus
    * vector is ENCODED as `subspaces` small code ints — the compressed
    * index (16 bytes/vector at the defaults vs 256 for f32). Stage 1
    * (ADC) shortlists `shortlist` candidates per query: the query
    * precomputes its distance to every codebook entry per subspace
    * IN-ROW, and each corpus candidate costs `subspaces` table lookups
    * instead of a 64-dim dot. Stage 2 re-ranks ONLY the shortlist with
    * the exact integer cosine — the standard production layout
    * (compressed index scans the corpus; exact math touches
    * shortlist×queries rows). Recall@5 ≥ 0.8 vs brute force is pinned
    * by spec at the defaults.
    *
    * ADC distances are squared L2 over the ×1000-quantized grid —
    * exact integer sums, bit-identical in any engine. Encoding is a
    * pure projection against the one-row broadcast codebook (zero
    * corpus exchange); the shortlist join ships candidate ids only.
    *
    * Output: (query_id, id, rank, cos) — the [[bruteForceTopK]]
    * contract, so PQ slots in as a drop-in accelerated replacement.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      subspaces: Int = 16,
      codebookSize: Int = 16,
      shortlist: Int = 100,
      dims: Int = 64,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(dims % subspaces == 0, "subspaces must divide dims")
    val subDim = dims / subspaces
    val c = vectors(corpus, idCol, embCol)
    val q = vectors(queries, idCol, embCol)

    // deterministic codebook seeds: the codebookSize corpus vectors
    // with smallest md5(id) (distributed TakeOrdered, no global sort),
    // collapsed to a one-row broadcast array ordered by hash
    val cb = broadcast(
      c.withColumn("h", md5(col("id").cast("string")))
        .orderBy("h").limit(codebookSize)
        .agg(array_sort(collect_list(struct(col("h"), col("qv")))).as("cb")))

    // squared L2 between subspace j of `x` and of codebook entry ci
    def subL2(x: Column, cvec: Column, j: Int): Column =
      aggregate(
        zip_with(
          slice(x, j * subDim + 1, subDim),
          slice(cvec, j * subDim + 1, subDim),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)

    // encode: per subspace, the index of the nearest codebook entry
    // (ties by index) — in-row over the broadcast array
    def codeJ(j: Int): Column = element_at(
      array_sort(transform(sequence(lit(0), lit(codebookSize - 1)), ci =>
        struct(
          subL2(col("qv"), element_at(col("cb"), ci.cast("int") + 1).getField("qv"), j).as("d"),
          ci.as("ci")))),
      1).getField("ci")
    val cCodes = c.join(cb)
      .select(col("id") +: (0 until subspaces).map(j => codeJ(j).as(s"c$j")): _*)

    // query-side ADC tables: distance to every codebook entry per
    // subspace, again in-row
    def qTabJ(j: Int): Column =
      transform(sequence(lit(0), lit(codebookSize - 1)), ci =>
        subL2(col("qv"), element_at(col("cb"), ci.cast("int") + 1).getField("qv"), j))
    val qTabs = q.join(cb)
      .select(col("id").as("query_id") +:
        (0 until subspaces).map(j => qTabJ(j).as(s"t$j")): _*)

    val adist = (0 until subspaces)
      .map(j => element_at(col(s"t$j"), col(s"c$j").cast("int") + 1))
      .reduce(_ + _)
    val cand = rankPerQuery(
        cCodes.join(broadcast(qTabs), col("id") =!= col("query_id"))
          .withColumn("adist", adist),
        col("adist"), shortlist, "arank")
      .select(col("query_id"), col("id"))

    // stage 2: exact integer-cosine re-rank of the shortlist only
    val scored = cand.join(c, Seq("id")).join(querySide(q), Seq("query_id"))
      .withColumn("cos", queryCos)
    rankPerQuery(scored, col("cos").desc, k)
      .select(col("query_id"), col("id"), col("rank"), round(col("cos"), 4).as("cos"))
  }

  /** Deterministic pseudo-random hyperplane sign: md5-derived ±1 weights
    * per (plane, dimension); bucket = concatenated signs of the plane
    * projections.
    *
    * The sign matrix depends only on (plane, dimension) literals —
    * md5("p:i"), first hex nibble < 8 ⇒ +1 — so it is computed ONCE on
    * the driver and embedded as literal arrays. The previous
    * formulation evaluated the same md5s inside a lambda, which
    * Catalyst cannot constant-fold: planes×dims (512 at the defaults)
    * runtime md5 calls PER ROW on the corpus hot path. Buckets are
    * bit-identical (the DuckDB oracle still derives the signs from the
    * same md5 scheme independently).
    */
  def lshBucket(qv: Column, planes: Int, dims: Int): Column = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Long = {
      val h = md.digest(s"$p:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
    }
    concat_ws("",
      (1 to planes).map { p =>
        val signs = typedLit((1 to dims).map(i => sign(p, i)))
        val proj = aggregate(
          zip_with(qv, signs, (x, s) => x * s),
          lit(0L), (acc, x) => acc + x)
        when(proj >= 0, lit("1")).otherwise(lit("0"))
      }: _*)
  }

  /** The centroid table collapsed to ONE row holding a sorted array of
    * (cell, cv, cnrm) structs, broadcast. Joining this against the
    * corpus is a broadcast nested-loop of exactly one row, so cell
    * assignment becomes a pure projection: per-row `transform` over
    * the array, `array_sort` + `slice` for the top-r cells — ZERO
    * corpus exchange before the cell equi-join. (The previous shape —
    * broadcast-join every vector against all centroids then rank with
    * a `row_number` window on id — shuffled corpus×nCentroids rows.)
    */
  private def centArray(cents: DataFrame): DataFrame =
    broadcast(cents.agg(array_sort(
      collect_list(struct(col("cell"), col("cv"), col("cnrm")))).as("cents")))

  /** Per-row top-`keep` cells: score every centroid in-row, sort by
    * (−sim, cell) — sim descending with ties by cell ascending, the
    * same total order the old window ranked by — and keep the head.
    */
  private def topCells(keep: Int): Column =
    slice(
      array_sort(transform(col("cents"), c => struct(
        (-quantizedCosine(col("qv"), c.getField("cv"), col("nrm"), c.getField("cnrm")))
          .as("negSim"),
        c.getField("cell").as("cell")))),
      1, keep)

  /** One Lloyd (k-means) refinement step as pure DataFrame ops:
    * assign every training vector to its nearest centroid (in-row over
    * the one-row broadcast centroid array — no corpus shuffle), then
    * re-center each cell on the elementwise mean, re-quantized to the
    * Long grid so [[quantizedDot]] stays exact integer math. Cells
    * that capture no points disappear (standard Lloyd behavior), and
    * so does a cell whose mean rounds to the zero vector: it has no
    * cosine ([[labelCentroids]]' rule). The
    * mean is a posexplode → (cell, pos) partial-aggregated avg — two
    * bounded shuffles of nCentroids×dims rows out, never a
    * per-cell collect of member vectors.
    */
  private def lloydStep(train: DataFrame, cents: DataFrame): DataFrame =
    train.join(centArray(cents))
      .withColumn("cell", element_at(topCells(1), 1).getField("cell"))
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg(avg(col("v")).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"),
        transform(col("pm"), p => round(p.getField("m")).cast("long")).as("cv"))
      .withColumn("cnrm", quantizedNorm(col("cv")))
      .filter(col("cnrm") > 0)

  /** Deterministic pseudo-random seed pick: the nCentroids corpus
    * vectors with smallest md5(id). orderBy+limit plans as a
    * distributed TakeOrdered (per-partition top-k then merge) — no
    * global sort, scalable to any corpus size. The md5 itself is the
    * cell id (distinct per seed; contiguity is not needed), so no
    * global window is ever planned. Duplicate corpus ids would
    * collapse cells, so seeds are deduped on the hash — locally,
    * within a 4× TakeOrdered slack, not with a corpus-wide shuffle.
    */
  private def seedCentroids(c: DataFrame, nCentroids: Int): DataFrame = c
    .withColumn("h", md5(col("id").cast("string")))
    .orderBy("h")
    .limit(4 * nCentroids)
    .dropDuplicates("h")
    .orderBy("h")
    .limit(nCentroids)
    .select(col("h").as("cell"), col("qv").as("cv"), col("nrm").as("cnrm"))

  /** Simplified (centroid-based) silhouette score per cluster — the
    * standard clustering-quality diagnostic: for each vector,
    * a = cosine distance to its OWN (nearest) centroid, b = distance
    * to the nearest OTHER centroid, s = (b − a)/max(a, b); report the
    * per-cell mean and population. Near 1 ⇒ tight well-separated
    * cells; near 0 ⇒ boundary points; negative ⇒ mis-assigned.
    *
    * Scale shape: identical to IVF assignment — the one-row broadcast
    * centroid array joins corpus-side with NO exchange, both
    * distances come from the same in-row top-2 scoring that cell
    * assignment already does, and the only shuffle is the final
    * nCentroids-row aggregate. Full-pairwise silhouette would be
    * O(n²); the centroid form is the one that exists at 100 TB.
    *
    * Output: (cell, n, avg_silhouette 4dp).
    */
  def silhouette(
      corpus: DataFrame,
      nCentroids: Int = 16,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val c = vectors(corpus, idCol, embCol)
    val top2 = element_at(col("__t2"), 1)
    val second = element_at(col("__t2"), 2)
    c.join(centArray(seedCentroids(c, nCentroids)))
      .withColumn("__t2", topCells(2))
      .withColumn("cell", top2.getField("cell"))
      .withColumn("__da", lit(1.0) + top2.getField("negSim"))
      .withColumn("__db", lit(1.0) + second.getField("negSim"))
      .withColumn("__s",
        when(greatest(col("__da"), col("__db")) > 0,
          (col("__db") - col("__da")) / greatest(col("__da"), col("__db")))
          .otherwise(lit(0.0)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), round(avg(col("__s")), 4).as("avg_silhouette"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into Voronoi cells
    * around `nCentroids` deterministic seed vectors, then search only
    * the `nProbe` cells nearest to each query — the classic
    * coarse-quantizer layout (FAISS IVF-Flat) expressed as Spark joins.
    *
    * Centroid seeds are the corpus vectors with smallest md5(id)
    * ([[seedCentroids]]; deterministic, no training dependency),
    * optionally refined by `lloydIters` Lloyd steps; assignment
    * scores all `nCentroids` cells IN-ROW against a one-row broadcast
    * centroid array ([[centArray]]/[[topCells]]) — a pure projection,
    * zero corpus exchange. At 100 TB the scored join is an equi-join
    * on cell id — work scales with corpus/nCentroids×nProbe, not the
    * full corpus.
    *
    * Output: (query_id, id, rank, cos) — the [[bruteForceTopK]]
    * contract.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 0,
      replication: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val c = vectors(corpus, idCol, embCol)
    val q = vectors(queries, idCol, embCol)

    val seeds = seedCentroids(c, nCentroids)

    // Optional coarse-quantizer training. At 100 TB, pass a sampled
    // corpus via `corpus` itself only to ivfTrain-style pipelines —
    // here the train set is the full prepared corpus, which is fine
    // up to the scale where sampling becomes necessary.
    val trained = (1 to lloydIters).foldLeft(seeds) { (cs, _) => lloydStep(c, cs) }
    // the trained table is nCentroids rows but its lineage scans the
    // corpus lloydIters times — cut it eagerly so the corpus and query
    // assignment joins don't re-train
    val centroids = if (lloydIters > 0) trained.localCheckpoint() else trained

    // Scan-local assignment: one-row broadcast centroid array, top-r
    // cells computed in-row — the corpus reaches the cell equi-join
    // with no exchange at all (pinned by ScaleDesignSpec).
    val centTable = centArray(centroids)
    def assign(df: DataFrame, keep: Int): DataFrame =
      df.join(centTable)
        .select(col("id"), col("qv"), col("nrm"),
          explode(transform(topCells(keep), t => t.getField("cell"))).as("cell"))

    // `replication` > 1 assigns each corpus vector to its top-r cells
    // (IVF spill replication): index size grows ×r, boundary recall
    // rises sharply on weakly-clustered data. A (query, corpus) pair
    // can then meet in up to min(r, nProbe) cells, so pairs are
    // reduced to one row (cos is identical per pair) before ranking.
    val scored = assign(c, replication)
      .join(querySide(assign(q, nProbe), col("cell")), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cos", queryCos)
      .groupBy("query_id", "id")
      .agg(max(col("cos")).as("cos"))
    rankPerQuery(scored, col("cos").desc, k)
      .select(col("query_id"), col("id"), col("rank"), round(col("cos"), 4).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs: all corpus pairs sharing
    * an LSH bucket with cosine ≥ `minCos` — the dedup-flavored sibling
    * of [[lshTopK]] (emit every near-dup pair, not a per-query top-k).
    * The signature chain is computed once and bucketed by groupBy (a
    * self-join would recompute it per side); `bucketCap` bounds the
    * per-bucket pair expansion by construction, like
    * [[graft.operators.Dedup.minhashLshPairs]]. Work scales with
    * bucket co-membership, never all-pairs on the corpus.
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      minCos: Double = 0.35,
      planes: Int = 8,
      dims: Int = 64,
      bucketCap: Int = graft.GraftConf.LshBucketCap,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val c = vectors(corpus, idCol, embCol)
      .withColumn("bucket", lshBucket(col("qv"), planes, dims))
    // bucket sizes via groupBy + broadcast join-back, NOT a window: the
    // key space is 2^planes (256) buckets, so a bucket-partitioned
    // window would funnel the whole corpus through ≤256 tasks with no
    // map-side combine; the groupBy ships per-task partial counts and
    // the cap filter then runs scan-side, so only the ≤256·bucketCap
    // surviving rows ever shuffle (for the pair-expansion collect).
    // The cap is observed on the bucket-grain counts, so each dropped
    // bucket reports its bn rows (weight) — the same dropped-row total
    // a row-grain guard would report.
    val counts = PairForms.capDrop(
      c.groupBy("bucket").agg(count(lit(1)).as("bn")),
      "cosine_bucket", col("bn"), bucketCap, weight = col("bn"))
    PairForms
      .memberPairs(c.join(broadcast(counts), "bucket"),
        Seq("bucket"), struct(col("id"), col("qv"), col("nrm")))
      .withColumn("cos",
        quantizedCosine(col("a.qv"), col("b.qv"), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= minCos)
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        round(col("cos"), 4).as("cos"))
  }

  /** SEMANTIC leakage across the G15 hash split — the embedding
    * complement of `Dedup.nearDupLeakage`'s lexical check: cosine
    * near-dup pairs (the G5b chain) that straddle a train/val/test
    * boundary are contamination that n-gram overlap and MinHash both
    * miss (paraphrases, translations, re-renders of the same content).
    * A real decontamination pass runs BOTH; this completes the pair.
    *
    * Scale shape: the G5b bucket-capped pair chain (never all-pairs)
    * plus [[PairForms.straddleMatrix]] — two id-keyed joins to a split
    * that is a pure projection of the corpus, so nothing here exceeds
    * the pair chain's own cost; the (split, split) matrix is ≤ 6 rows.
    *
    * Output: (split_a, split_b, n_pairs, leak, share 4dp).
    */
  def semanticLeakage(
      corpus: DataFrame,
      minCos: Double = 0.35,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    PairForms.straddleMatrix(
      cosineNearDupPairs(corpus, minCos = minCos, idCol = idCol, embCol = embCol),
      corpus, idCol)

  /** LSH-bucketed ANN: score only candidates in the query's bucket.
    * Approximate — recall depends on `planes`; at 100 TB this replaces
    * the brute-force scan with a bucket-equi-join.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      planes: Int = 8,
      dims: Int = 64,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    def bucketed(df: DataFrame) = vectors(df, idCol, embCol)
      .withColumn("bucket", lshBucket(col("qv"), planes, dims))
    val scored = bucketed(corpus)
      .join(querySide(bucketed(queries), col("bucket")), Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cos", queryCos)
    rankPerQuery(scored, col("cos").desc, k)
      .select(col("query_id"), col("id"), col("rank"), round(col("cos"), 4).as("cos"))
  }

  /** Nearest-centroid (Rocchio) classification: build one centroid per
    * label from the train split, assign each test vector the label of
    * its most-cosine-similar centroid. The domain/topic-classifier
    * primitive of a curation pipeline.
    *
    * Scale design: centroids are [[labelCentroids]]' exact integer
    * sums — the tiny (one row per label) centroid table is broadcast
    * and the test set is never shuffled. Ties broken by label
    * ascending.
    *
    * Output: (idCol, keep*, pred, cos) — `keep` columns (e.g. the true
    * label for a confusion rollup) ride along from the test side, so
    * no join-back against the corpus is ever needed.
    */
  def centroidClassify(
      train: DataFrame,
      test: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label",
      keep: Seq[String] = Nil): DataFrame = {
    val cents = labelCentroids(
        vectors(train, idCol, embCol, carry = Seq(col(labelCol).as("lbl"))))
      .withColumnRenamed("lbl", "pred")
    val w = Window.partitionBy("id").orderBy(col("cos").desc, col("pred"))
    vectors(test, idCol, embCol, carry = keep.map(col))
      .crossJoin(broadcast(cents))
      .withColumn("cos", quantizedCosine(col("qv"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("id").as(idCol) +: keep.map(col) :+ col("pred") :+
        round(col("cos"), 4).as("cos"): _*)
  }


  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (inDims ×
    * outDims), derived from md5 parity so any engine can rebuild it —
    * but the oracle doesn't have to: [[jlProjectSqlTerms]] generates
    * the replay SQL from THESE values, so the two paths share one
    * source of truth (the q110 zValueSql pattern).
    */
  def jlSigns(inDims: Int, outDims: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(inDims, outDims) { (i, j) =>
      val h = md.digest(s"$i:$j:jl".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss
    * with the ±1 Achlioptas construction): project the ×1000-quantized
    * integer embedding through the deterministic sign matrix — a pure
    * per-row projection (zero shuffle, codegen-friendly 64-term integer
    * sums), preserving pairwise geometry to O(1/√k). Output: the k
    * projected integer coordinates p0..p{k−1} plus the norm ratio
    * ‖p‖/√k / ‖q‖, which JL concentrates near 1. A zero vector has
    * no ratio and is dropped, as [[vectors]] drops it everywhere.
    */
  def jlProject(
      df: DataFrame,
      outDims: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val signs = jlSigns(64, outDims)
    val projCols = (0 until outDims).map { j =>
      (0 until 64).map { i =>
        val t = element_at(col("qv"), i + 1)
        if (signs(i)(j) == 1) t else -t
      }.reduce(_ + _).as(s"p$j")
    }
    val projected = vectors(df, idCol, embCol).select(col("id") +: col("nrm") +: projCols: _*)
    val sp = (0 until outDims).map(j => col(s"p$j") * col(s"p$j")).reduce(_ + _)
    projected
      .withColumn("norm_ratio", round(sqrt(sp.cast("double") / outDims) / col("nrm"), 4))
      .select(col("id").as(idCol) +:
        (0 until outDims).map(j => col(s"p$j")) :+ col("norm_ratio"): _*)
  }

  /** Per-dimension corpus statistics over the quantized embeddings
    * (the fit step of feature standardization — z-scoring before
    * clustering/IVF training): one posexplode fans each vector into
    * (pos, v) rows, and a 64-group aggregate carries exact integer
    * Σv / Σv² (associative under any partitioning), so mean and the
    * sample std are engine-identical up to one division and sqrt.
    */
  def dimStats(df: DataFrame, embCol: String = "embedding"): DataFrame = {
    val e = spread(df).select(posexplode(quantize(col(embCol))).as(Seq("pos", "v")))
    e.groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("__s"),
        sum(col("v") * col("v")).as("__s2"))
      .select(col("pos"), col("n"),
        round(col("__s").cast("double") / col("n"), 4).as("mean"),
        round(sqrt((col("__s2").cast("double") -
          col("__s").cast("double") * col("__s").cast("double") / col("n")) /
          (col("n") - 1)), 4).as("std"))
  }

  /** The q122 oracle's projection terms, generated from [[jlSigns]]:
    * `q[1]*s + q[2]*s + …` per output dim.
    */
  def jlProjectSqlTerms(outDims: Int = 8): Seq[String] = {
    val signs = jlSigns(64, outDims)
    (0 until outDims).map { j =>
      (0 until 64).map { i =>
        val s = if (signs(i)(j) == 1) "+" else "-"
        s"$s q[${i + 1}]"
      }.mkString(" ")
    }
  }

  /** Per-dimension embedding drift between two populations — the
    * training/serving-skew report of ML ops: for each vector
    * dimension, both group means, their gap, the pooled standard
    * deviation, and the standardized drift |Δmean|/σ_pooled, ranked
    * so the most-shifted dimensions lead. A model whose serving
    * embeddings drift from its training distribution degrades
    * silently; this is the one-pass detector.
    *
    * Exactness: quantized integer components give exact per-(group,
    * dim) count/sum/sum-of-squares; doubles enter only in the final
    * mean/σ/drift projection (4dp), and the rank orders by the
    * ROUNDED drift with the dim as tie-break. Scale shape: one
    * posexplode fan absorbed by the (dim, group) map-side combine;
    * every window runs over the DIM table (embedding width, not
    * corpus rows).
    *
    * Output: (pos, n_a, n_b, mean_a, mean_b, drift, rank).
    */
  def embeddingDrift(
      df: DataFrame,
      groupCol: String,
      embCol: String = "embedding"): DataFrame = {
    val stats = spread(df)
      .select(col(groupCol).cast("long").as("__g"),
        posexplode(quantize(col(embCol))).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(
        sum(when(col("__g") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__g") === 0, col("v")).otherwise(0L)).as("__sa"),
        sum(when(col("__g") === 0, col("v") * col("v")).otherwise(0L)).as("__qa"),
        sum(when(col("__g") =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__g") =!= 0, col("v")).otherwise(0L)).as("__sb"),
        sum(when(col("__g") =!= 0, col("v") * col("v")).otherwise(0L)).as("__qb"))
      .filter(col("n_a") > 1 && col("n_b") > 1)
      .withColumn("mean_a", round(d(col("__sa")) / col("n_a"), 4))
      .withColumn("mean_b", round(d(col("__sb")) / col("n_b"), 4))
      .withColumn("__va",
        (d(col("__qa")) - d(col("__sa")) * d(col("__sa")) / col("n_a")) / (col("n_a") - 1))
      .withColumn("__vb",
        (d(col("__qb")) - d(col("__sb")) * d(col("__sb")) / col("n_b")) / (col("n_b") - 1))
      .withColumn("__sp", sqrt(
        ((col("n_a") - 1) * col("__va") + (col("n_b") - 1) * col("__vb")) /
          (col("n_a") + col("n_b") - 2)))
      .withColumn("drift", round(
        abs(d(col("__sa")) / col("n_a") - d(col("__sb")) / col("n_b")) /
          when(col("__sp") === 0, lit(null)).otherwise(col("__sp")), 4))
    stats
      .withColumn("rank", rank().over(
        Window.orderBy(col("drift").desc_nulls_last, col("pos"))).cast("long"))
      .select(col("pos").cast("long").as("pos"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("drift"), col("rank"))
  }

  /** Centroid-distance label-noise candidates — the mislabeled-data
    * detector of a curation pipeline: each vector's cosine to its OWN
    * label's centroid, with the k least-similar per label surfaced
    * as probable annotation errors (Northcutt's confident-learning
    * intuition reduced to the centroid geometry G22 already uses).
    *
    * Scale shape: centroids are [[labelCentroids]]' exact integer
    * sums, as in [[centroidClassify]] (label-count-sized, broadcast
    * back); the
    * own-label attach is a broadcast join, cosine a projection, and
    * the outlier pick a label-partitioned rank ordered (cos asc, id)
    * — O(k) survivors per label. Self-inclusion in the centroid is
    * deliberate (it biases AGAINST flagging, never toward).
    *
    * Output: (label, vec_id, cos, rank) for rank ≤ k.
    */
  def centroidOutliers(
      df: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val vecs = vectors(df, idCol, embCol, carry = Seq(col(labelCol).cast("long").as("lbl")))
    val w = Window.partitionBy("lbl").orderBy(col("cos").asc, col("id"))
    vecs.join(broadcast(labelCentroids(vecs)), Seq("lbl"))
      .withColumn("cos", round(
        quantizedCosine(col("qv"), col("cv"), col("nrm"), col("cnrm")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lbl").as("label"), col("id").cast("long").as(idCol), col("cos"),
        col("rank"))
  }

  /** Neighbor label-confusion matrix — hard-negative mining's summary
    * report: for a sample of query vectors, which labels do their
    * nearest neighbors carry? Off-diagonal mass = hard negatives
    * (near in embedding space, different class) — the pairs a
    * contrastive trainer should mine, and the classes a centroid
    * classifier (G22) will confuse.
    *
    * Scale shape: rides [[bruteForceTopK]] on a QUERY SAMPLE (the
    * standard mining practice — swap in the bucketed ANN for the
    * 100 TB corpus path); label attachment is two broadcast-able
    * joins on the id; the matrix is a (label², dim-sized) combine
    * with a label-partitioned share window. Exact counts; the share
    * is the only division.
    *
    * Output: (label_q, label_n, n, share, hard_negative).
    */
  def labelConfusion(
      emb: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      labelCol: String = "label",
      embCol: String = "embedding"): DataFrame = {
    val nn = bruteForceTopK(emb, queries, k, idCol, embCol)
    val labels = emb.select(col(idCol).cast("long").as("__id"),
      col(labelCol).cast("long").as("__l"))
    val byQ = Window.partitionBy("label_q")
    nn
      .join(labels.select(col("__id").as("query_id"), col("__l").as("label_q")),
        Seq("query_id"))
      .join(labels.select(col("__id").as("id"), col("__l").as("label_n")),
        Seq("id"))
      .groupBy("label_q", "label_n")
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n").cast("double") / sum(col("n")).over(byQ), 4))
      .withColumn("hard_negative", col("label_q") =!= col("label_n"))
  }

  /** Recall@k of an approximate index against the exact answer — the
    * eval loop that justifies (or rejects) the bucketed 100 TB paths:
    * feed it [[bruteForceTopK]] as ground truth and any of
    * [[lshTopK]]/[[ivfTopK]]/[[pqTopK]] as the candidate, get per-
    * query hit counts plus the micro-averaged corpus recall (exact
    * ratio of long totals — never a mean of rounded per-query floats).
    *
    * Both inputs are (query_id, id, rank, …) tables with the SAME
    * deterministic (cos desc, id) tie-break, so the overlap is
    * engine-portable. A query the approximate index misses entirely
    * (empty bucket) still reports, with n_hits = 0 — silently
    * dropping it would inflate recall exactly where the index is
    * worst.
    *
    * Scale shape: both sides are ≤ k rows per query; one (query_id,
    * id) hash join + one query-grain combine; the corpus total is a
    * one-row broadcast. Nothing here touches the corpus itself.
    *
    * Output: (query_id, n_exact, n_hits, recall, micro_recall).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("id"))
    val a = approx.select(col("query_id"), col("id"), lit(1L).as("__hit"))
    // the per-query table feeds both the output and the micro total;
    // without an eager cut BOTH upstream ANN pipelines would run twice
    val per = e.join(a, Seq("query_id", "id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .localCheckpoint()
    val totals = per.agg(
      sum(col("n_hits")).as("__th"), sum(col("n_exact")).as("__te"))
    per.crossJoin(broadcast(totals))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact"), 4).as("recall"),
        round(col("__th").cast("double") / col("__te"), 4).as("micro_recall"))
  }

  /** MRR@k index eval (G109) — WHERE does the true nearest neighbor
    * land in the approximate index's ranking: per query, the
    * reciprocal rank of the brute-force top-1 inside the approx top-k
    * (0 on a miss), plus the corpus MRR. Sharper than G65's recall@k
    * (which scores a rank-5 hit and a rank-1 hit the same) — the
    * first-position quality number a retrieval UI actually cares
    * about.
    *
    * Determinism: reciprocal ranks are integer MICRO-units
    * floor(1e6/rank + 0.5) (engine-identical on small integer ranks),
    * so the corpus MRR is an order-free long sum over queries; both
    * publications follow the integer-grain rounding rule.
    *
    * Scale shape: one (query, id) equi-join of the two k-bounded
    * per-query lists, a query-grain combine, and a one-row broadcast
    * total — the recallAtK contract.
    *
    * Output: (query_id, rank_of_true, rr, mrr) — rank_of_true 0 on a
    * miss; mrr identical on every row.
    */
  def mrrAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val truth = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("id"))
    val hits = approx.select(col("query_id"), col("id"),
      col("rank").cast("long").as("__r"))
    val per = truth.join(hits, Seq("query_id", "id"), "left")
      .select(col("query_id"),
        coalesce(col("__r"), lit(0L)).as("rank_of_true"),
        when(col("__r").isNotNull,
          floor(lit(1e6) / col("__r").cast("double") + 0.5).cast("long"))
          .otherwise(lit(0L)).as("__rrus"))
      .localCheckpoint() // feeds both the output and the corpus total
    val totals = per.agg(count(lit(1)).as("__nq"), sum("__rrus").as("__ts"))
    per.crossJoin(broadcast(totals))
      .select(col("query_id"), col("rank_of_true"),
        (round(col("__rrus") / 100.0).cast("long") / 10000.0).as("rr"),
        round(col("__ts").cast("double") / col("__nq").cast("double") / 1e6, 4)
          .as("mrr"))
  }

  /** Label balance report — the first table of any supervised-data
    * review: per-label counts and shares, plus the distribution's
    * entropy (in nats, vs the uniform ln k ceiling) and the
    * max/min imbalance ratio. A skewed table here predicts G22's
    * majority-class bias and sizes G16's stratified resampling.
    *
    * Determinism: exact counts and ratios; entropy from 6dp
    * per-label contributions over the labels-sized table (the F20
    * contract). One combine + dim windows.
    *
    * Output: (label, n, share, entropy, uniform_entropy, imbalance).
    */
  def labelBalance(
      df: DataFrame,
      labelCol: String = "label"): DataFrame = {
    val all = Window.partitionBy()
    df.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__t", sum(col("n")).over(all))
      .withColumn("share", round(d(col("n")) / col("__t"), 4))
      .withColumn("__c",
        round(-(d(col("n")) / col("__t")) * log(d(col("n")) / col("__t")), 6))
      .withColumn("entropy", round(sum(col("__c")).over(all), 4))
      .withColumn("uniform_entropy",
        round(log(d(count(lit(1)).over(all))), 4))
      .withColumn("imbalance",
        round(d(max(col("n")).over(all)) / d(min(col("n")).over(all)), 4))
      .select(col("label"), col("n"), col("share"), col("entropy"),
        col("uniform_entropy"), col("imbalance"))
  }

  /** Matryoshka truncation fidelity — how much ANN recall survives
    * searching on only the FIRST d dimensions of the embedding
    * (Kusupati et al. 2022): for each truncation width, brute-force
    * top-k on the sliced vectors is scored against the full-width
    * exact top-k as micro recall. The table that prices the
    * memory/recall trade of shipping truncated embeddings to the
    * 100 TB index — the dimension-axis companion to [[int8Fidelity]]'s
    * precision axis.
    *
    * Scale shape: per width, the [[bruteForceTopK]] shape (broadcast
    * query sample vs corpus scan); the exact table is eager-cut once
    * and reused across widths; hits are one semi-join + combine per
    * width over <= k·queries rows; widths are a bounded literal list.
    *
    * Output: (dims, n_queries, n_exact, n_hits, recall), one row per
    * width.
    */
  def matryoshkaFidelity(
      df: DataFrame,
      dims: Seq[Int] = Seq(8, 16, 32),
      k: Int = 5,
      queryMod: Int = 50,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty && k >= 1 && queryMod >= 1)
    val qs = df.filter(col(idCol) % queryMod === 0)
    val exact = bruteForceTopK(df, qs, k, idCol, embCol)
      .select(col("query_id"), col("id"))
      .localCheckpoint() // feeds the totals AND every width's hit join
    val totals = broadcast(exact.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact")))
    dims.map { dd =>
      val tC = df.withColumn(embCol, slice(col(embCol), 1, dd))
      val tQ = qs.withColumn(embCol, slice(col(embCol), 1, dd))
      val ap = bruteForceTopK(tC, tQ, k, idCol, embCol)
        .select(col("query_id"), col("id"))
      exact.join(ap, Seq("query_id", "id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(totals)
        .select(lit(dd.toLong).as("dims"), col("n_queries"), col("n_exact"),
          col("n_hits"),
          round(col("n_hits").cast("double") / col("n_exact"), 4).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Int8 quantization fidelity report — how much cosine geometry
    * does G29's 4× compression actually lose on THIS corpus? Per
    * vector, the cosine between the exact ×1000-quantized vector and
    * its per-vector-scaled int8 code; reported as the distribution's
    * floor, mean, and the count of vectors below a fidelity bar.
    * Run before switching the 100 TB search path to codes — a corpus
    * with heavy per-dimension outliers (one huge component crushes
    * the other 63 into ±1) shows up here, not in averaged recall.
    *
    * Exactness: both representations are integer arrays, the dot is
    * the exact native long dot, the fidelity ONE double expression
    * rounded 4dp; the mean re-quantizes the rounded fidelities to
    * 1e-4 units so the sum is exact. Map-only over the corpus + one
    * one-row combine.
    *
    * Output: one row (n_vectors, min_fid, mean_fid, n_below).
    */
  def int8Fidelity(
      df: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      bar: Double = 0.999): DataFrame = {
    spread(df)
      .select(col(idCol).cast("long").as("id"),
        quantize(col(embCol)).as("qv"),
        graft.functions.quantizeInt8(col(embCol)).as("q8"))
      .withColumn("__nq", quantizedNorm(col("qv")))
      .withColumn("__n8", quantizedNorm(col("q8")))
      .filter(col("__nq") > 0 && col("__n8") > 0)
      .withColumn("fid", round(
        quantizedCosine(col("qv"), col("q8"), col("__nq"), col("__n8")), 6))
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("fid")).as("min_fid"),
        sum(round(col("fid") * 1000000).cast("long")).as("__sf"),
        sum(when(col("fid") < bar, 1L).otherwise(0L)).as("n_below"))
      .select(col("n_vectors"), col("min_fid"),
        round(d(col("__sf")) / col("n_vectors") / 1e6, 6).as("mean_fid"),
        col("n_below"))
  }

  /** NDCG@k of an approximate index against the exact top-k — the
    * POSITION-aware companion to [[recallAtK]]: a hit at rank 1 is
    * worth 1/log₂(2), at rank 5 only 1/log₂(6), so an index that
    * finds the right neighbors but scrambles their order scores
    * below one that keeps them ranked (Järvelin & Kekäläinen 2002,
    * binary relevance = membership in the exact top-k).
    *
    * Determinism: each rank's discount gain is quantized ONCE to
    * integer micro-units (⌊1e6/log₂(r+1)⌉ — the D18 error-unit
    * contract), so DCG and ideal-DCG are exact long sums no float
    * fold-order can change; per-query NDCG and the micro average
    * (Σdcg/Σidcg of exact longs) are single divisions, 4dp. A query
    * the index misses entirely still reports ndcg = 0 — dropping it
    * would inflate the average exactly where the index is worst.
    *
    * Scale shape: both inputs are ≤ k rows per query; one hash join +
    * one query-grain combine; the ideal table derives from counts
    * alone (a bounded in-row sequence fold); totals are a one-row
    * broadcast. The corpus is never touched.
    *
    * Output: (query_id, n_exact, ndcg, micro_ndcg).
    */
  def ndcgAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    def gainU(r: Column): Column =
      round(lit(1e6) / (log(r.cast("double") + lit(1.0)) / log(lit(2.0))))
        .cast("long")
    val e = exact.select(col("query_id"), col("id"), lit(1L).as("__rel"))
    val a = approx.select(col("query_id"), col("id"), col("rank"))
    val dcg = a.join(e, Seq("query_id", "id"), "left")
      .groupBy("query_id")
      .agg(sum(when(col("__rel").isNotNull, gainU(col("rank")))
        .otherwise(0L)).as("__dcg_u"))
    // the joined frame feeds the per-query output AND the micro total
    val per = exact.groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("__idcg_u",
        aggregate(sequence(lit(1), col("n_exact").cast("int")),
          lit(0L), (acc, r) => acc + gainU(r)))
      .join(dcg, Seq("query_id"), "left")
      .withColumn("__d", coalesce(col("__dcg_u"), lit(0L)))
      .localCheckpoint()
    val totals = per.agg(
      sum(col("__d")).as("__td"), sum(col("__idcg_u")).as("__ti"))
    per.crossJoin(broadcast(totals))
      .select(col("query_id"), col("n_exact"),
        round(col("__d").cast("double") / col("__idcg_u"), 4).as("ndcg"),
        round(col("__td").cast("double") / col("__ti"), 4).as("micro_ndcg"))
  }
}
