package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph measures over an edge list — the companion to
  * [[Dedup.clusters]]' connected components: where clusters answers
  * "which documents are duplicates of each other", PageRank answers
  * "which node is central" (e.g. the canonical member of a duplicate
  * cluster, or the hub of a citation/link graph).
  */
object Graph {

  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** The canonical undirected edge set: one `(a, b)` row per edge,
    * `a < b` (self-loops dropped, reversed and repeated inputs merged).
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") < col("b")).distinct()

  /** `(id, deg)` over a canonical edge set: one (node) combine. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Both orientations of every `(a, b)` row, as `(s, t)`. */
  private def bothWays(e: DataFrame, a: String, b: String, s: String, t: String): DataFrame =
    e.select(col(a).as(s), col(b).as(t))
      .unionAll(e.select(col(b).as(s), col(a).as(t)))

  /** Attaches `deg`'s degree of endpoint `a` as `da` and of `b` as `db`
    * — two node-keyed equi joins.
    */
  private def withEndpointDegrees(
      e: DataFrame, deg: DataFrame,
      a: String, b: String, da: String, db: String): DataFrame =
    e.join(deg.select(col("id").as(a), col("deg").as(da)), Seq(a))
      .join(deg.select(col("id").as(b), col("deg").as(db)), Seq(b))

  /** Every node of a `(src, dst)` edge list, once. */
  private def nodeSet(e: DataFrame): DataFrame =
    e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()

  /** `(id, tri)` over canonical edges `e` with their [[degrees]] `deg`,
    * via DEGREE ORIENTATION: orient every edge from its lower-degree
    * endpoint to its higher-degree endpoint (ties by id). Wedge
    * enumeration on the oriented DAG — join out-edges u→v with v→w,
    * close with u→w — touches each triangle exactly once, and the
    * orientation bounds every node's out-degree by O(√m), so the wedge
    * join's fan-out stays O(m^1.5) even on the power-law degree
    * distributions a near-dup graph has (a raw id-ordering would
    * enumerate deg² wedges at every hub). The triangle SET is
    * orientation-invariant, so an engine replaying the naive
    * id-ordered formulation lands on the same counts. Nodes in no
    * triangle have no row.
    */
  private def triangles(e: DataFrame, deg: DataFrame): DataFrame = {
    // localCheckpoint (r17): the oriented DAG feeds all three legs of
    // the wedge/closing self-joins, whose sides alias differently —
    // without the eager cut each leg re-derives the full upstream
    // pair expansion (for q111 that is the MinHash banding)
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withEndpointDegrees(e, deg, "a", "b", "da", "db")
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    // The orientation is a total order (deg, id), so the closing edge
    // of path x→y→z is always oriented x→z — a pure equi-join key.
    val tri = wedges.join(oriented.as("e3"),
        col("x") === col("e3.u") && col("z") === col("e3.v"))
      .select("x", "y", "z")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
  }

  /** The hub-capped common-neighbour enumeration over canonical edges:
    * one `(u, v, deg)` row per wedge u–w–v with u < v, `deg` the
    * center w's degree. Centers with deg < 2 close no wedge; centers
    * with deg > `hubCap` are EXCLUDED — the cap is SEMANTICS (their
    * deg² fan-out is the largest; the LshBucketCap convention, mirrored
    * by the oracles). One self-join of the capped doubled edge list on
    * the center key, fan-out ≤ hubCap² per center.
    */
  private def cappedWedges(e: DataFrame, deg: DataFrame, hubCap: Int): DataFrame = {
    val capped = bothWays(e, "a", "b", "w", "n")
      .join(deg.filter(col("deg") >= 2 && col("deg") <= hubCap)
        .withColumnRenamed("id", "w"), Seq("w"))
    capped.as("x")
      .join(capped.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.n").as("u"), col("y.n").as("v"), col("x.deg").as("deg"))
  }

  /** Per-node triangle participation counts over an undirected edge
    * list: the canonical edge set through [[triangles]]' degree-oriented
    * wedge closure.
    */
  def triangleCount(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    triangles(e, degrees(e))
  }

  /** Bounded-iteration synchronous PageRank: `iters` rounds of
    * rank(v) = (1−d)/N + d · Σ_{u→v} rank(u)/outdeg(u), from a
    * uniform 1/N start.
    *
    * Shapes: out-degree is folded onto the rank frame once, so each
    * round is ONE equi-join on the (high-cardinality) node key plus
    * one map-side-combined sum and the node-grain re-attach — the
    * standard distributed formulation; nothing is ever collected and
    * no window appears. The node count is the only driver-side value (a
    * constant-size aggregate scalar, the same sanctioned shape as
    * `Dedup.clusters`' convergence probe). Lineage is TRUNCATED with
    * an eager `localCheckpoint()` every 3 rounds (and on the final
    * round), the `Dedup.clusters` pattern: without it the returned
    * plan nests one full round per iteration and analysis/optimization
    * cost grows with `iters`; with it the final plan is at most 3
    * rounds over a materialized relation. Checkpointing changes nothing
    * about the values; the previous round's copy is unpersisted once
    * the next one is materialized, so at most two rank tables are ever
    * cached.
    *
    * The fixed iteration count keeps the result deterministic and
    * engine-replayable (the q108 oracle unrolls exactly `iters`
    * rounds). Dangling nodes: with a symmetrized edge list every node
    * has out-degree ≥ 1, so no rank mass is lost (callers with
    * directed graphs should symmetrize or accept the drop).
    */
  def pageRank(
      edges: DataFrame,
      iters: Int = 8,
      damping: Double = 0.85,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // Materialize the edge list ONCE (the kCore/labelPropagation rule):
    // `e` feeds the degree fold, the node-set union AND one join per
    // round — left lazy, every checkpoint action re-derives the whole
    // upstream lineage (for q108 that is the embedding near-dup pair
    // expansion) several times over. localCheckpoint truncates it to a
    // materialized relation; unpersisted before return.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // out-degree folds onto the rank frame ONCE (checkpointed,
    // node-grain), so each round pays one edge-side join instead of
    // two — 8 joins saved over the default run (VERDICT r12 item 8).
    // Dangling nodes (no out-edges) carry deg 1; their rank/deg is
    // never read because the contribution join keys on edge sources.
    val nodeDeg = nodeSet(e)
      .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(1L)).as("deg"))
      .localCheckpoint()
    val n = nodeDeg.count()
    var ranks = nodeDeg.withColumn("rank", lit(1.0 / n)).localCheckpoint()
    var cut = ranks
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("csum"))
      ranks = nodeDeg.join(contribs, Seq("id"), "left")
        .select(col("id"), col("deg"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("csum"), lit(0.0))).as("rank"))
      if (i % 3 == 0 || i == iters) {
        ranks = ranks.localCheckpoint()
        cut.unpersist()
        cut = ranks
      }
    }
    // the returned frame is checkpointed (every exit path ends on a
    // checkpoint boundary), so the degree and edge tables can release
    // their caches
    nodeDeg.unpersist()
    e.unpersist()
    ranks.select("id", "rank")
  }

  /** Component size distribution — the shape report over G2b's
    * clustering: how many components of each size, plus each size
    * class's share of all clustered nodes. The giant-component
    * alarm for dedup graphs: healthy near-dup corpora shatter into
    * small families; one huge component means a boilerplate shingle
    * or a too-loose threshold just connected everything (and the
    * keeper policy would delete most of the corpus).
    *
    * Scale shape: clustering is G2b (log-diameter, checkpointed);
    * sizes are one (comp) combine; the histogram one (size) combine;
    * shares ride the histogram-sized window. Exact counts.
    *
    * Output: (size, n_components, n_nodes, node_share) + the
    * max_share column (the giant-component alarm, same every row).
    */
  def componentSizes(pairs: DataFrame): DataFrame = {
    val hist = graft.operators.Dedup.clusters(pairs)
      .groupBy("comp").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .withColumn("n_nodes", col("size") * col("n_components"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    hist
      .withColumn("__t", sum(col("n_nodes")).over(w))
      .withColumn("node_share",
        round(col("n_nodes").cast("double") / col("__t"), 4))
      .withColumn("max_share", max(col("node_share")).over(w))
      .select(col("size"), col("n_components"), col("n_nodes"),
        col("node_share"), col("max_share"))
  }

  /** k-core membership after `rounds` synchronous peel rounds —
    * Seidman's (1983) cohesion measure: repeatedly delete every node
    * with fewer than k surviving neighbors; what remains is the
    * k-core. On a near-dup graph the 2-core separates DENSE duplicate
    * families (template spam, mirrored boilerplate — every member
    * similar to several others) from incidental pairwise matches,
    * which peel away; it is the standard spam/anomaly screen on
    * similarity and link graphs.
    *
    * Bounded-round contract (the G37 PageRank convention): exactly
    * `rounds` peels, each one (src) degree combine + two node-keyed
    * semi-joins, edges checkpointed per round (each round's edge set
    * feeds both the degree count and the next filter — the
    * [[Dedup.clusters]] lineage rule). Peeling is monotone, so a
    * converged graph is a fixed point and extra rounds are identical
    * — the unrolled oracle replays the same `rounds` regardless.
    * Real graphs' peel depth is small (the 100 TB path raises
    * `rounds`, not the shape); every round shuffles the SURVIVING
    * edge list only, on node keys.
    *
    * Output: (id, deg) — nodes surviving all rounds with their
    * within-core degree.
    */
  def kCore(
      pairs: DataFrame,
      k: Int = 2,
      rounds: Int = 8,
      aCol: String = "idA",
      bCol: String = "idB"): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = bothWays(pairs, aCol, bCol, "src", "dst").localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("src").as("__id"))
      e = e
        .join(keep.withColumnRenamed("__id", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("__id", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint()
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .select(col("id"), col("deg"))
  }

  /** Synchronous label propagation after `rounds` rounds (G119,
    * Raghavan 2007's LPA made DETERMINISTIC): every node starts as
    * its own label; each round, every node adopts its neighborhood's
    * most frequent label with ties broken by SMALLEST label — the
    * near-linear community detector that needs no modularity
    * optimization. On a near-dup graph, communities = duplication
    * neighborhoods (looser than G2b's connected components, which
    * merge through single weak edges; LPA requires majority
    * agreement) — the candidate grouping for family-level keeper
    * policies that CC over-merges.
    *
    * Determinism: the classic async LPA is order-dependent; this is
    * the SYNCHRONOUS variant with a total (count desc, label asc)
    * tie order, and a FIXED round count (the G37/G102 bounded-round
    * contract) — the unrolled oracle replays identical rounds.
    *
    * Scale shape: per round, one (node, label) neighbor-count
    * combine + one per-node arg-max window over the label-grain
    * frame (each node's frame is its distinct neighbor-label set,
    * degree-bounded), labels checkpointed per round (each round's
    * frame feeds the next join).
    *
    * Output: (id, community) — plus callers can histogram sizes.
    */
  def labelPropagation(
      pairs: DataFrame,
      rounds: Int = 4,
      aCol: String = "idA",
      bCol: String = "idB"): DataFrame = {
    require(rounds >= 1)
    val e = bothWays(pairs, aCol, bCol, "src", "dst")
      .localCheckpoint() // feeds every round's neighbor-label join
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("community", col("id"))
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
      .orderBy(col("__n").desc, col("community"))
    // r17: no per-round checkpoint — each round's labels feed exactly
    // ONE branch of the next round (the neighbor join), so lineage
    // grows linearly, not exponentially, and the whole fixed-round
    // chain runs as ONE job at the consumer's action (4 driver
    // actions → 0; the checkpointed edge list still feeds every
    // round without rescanning).
    for (_ <- 1 to rounds) {
      labels = e
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src"), col("community"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("src").as("id"), col("community"))
    }
    labels
  }

  /** Per-node local clustering coefficient (G107) — how CLIQUE-LIKE is
    * each node's neighborhood: C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    * the standard cohesion score on similarity graphs. On a near-dup
    * graph, high C at high degree marks a true duplicate FAMILY
    * (mutually similar members — template spam), while high degree
    * with low C marks a boilerplate hub stitching unrelated documents
    * together (the banding false-positive signature G83 hunts at the
    * shingle grain) — the two need opposite keeper policies.
    *
    * Scale shape: the canonical edge list and its degree table are
    * built once and feed [[triangles]]' degree-oriented wedge join
    * (O(m^1.5) bound) directly; the attach is a node-keyed left join.
    * C is one exact integer ratio, 4dp (deg ≤ 1 publishes 0).
    *
    * Output: (id, deg, tri, coeff).
    */
  def clusteringCoefficient(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // feeds both the degree combine and the wedge join
    val deg = degrees(e)
    deg
      .join(triangles(e, deg), Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff",
        when(col("deg") > 1,
          round(lit(2.0) * d(col("tri")) /
            (d(col("deg")) * d(col("deg") - 1L)), 4))
          .otherwise(lit(0.0)))
  }

  /** Adamic–Adar link prediction (G108) — which node pairs are NOT yet
    * connected but share many (rare) neighbors: score(u,v) =
    * Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w), the classic common-neighbor
    * predictor weighted so promiscuous hubs count least. On a dedup
    * graph the top predictions are the pairs a slightly looser
    * banding WOULD have caught — the "review next" list when tuning
    * recall (G76/G89's measured complement).
    *
    * Determinism: each wedge center contributes the integer
    * micro-unit floor(1e6/ln(deg_w) + 0.5) — engine-identical — so
    * pair scores are order-free LONG sums; the top-k cut orders by
    * (score desc, u, v), total.
    *
    * Scale shape: [[cappedWedges]] (centers with deg > `hubCap`
    * excluded — their per-wedge weight is the smallest and their deg²
    * fan-out the largest), one (u,v) combine, an anti-join against the
    * existing edges, and a global top-k (TakeOrdered — no full sort).
    *
    * Output: topK rows (u, v, common, aa).
    */
  def adamicAdar(
      edges: DataFrame,
      topK: Int = 20,
      hubCap: Int = 64,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // feeds degrees, wedges, and the anti-join
    // centers have deg >= 2, so ln(deg) > 0
    val scored = cappedWedges(e, degrees(e), hubCap)
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common"),
        sum(floor(lit(1e6) / log(d(col("deg"))) + 0.5).cast("long")).as("__aaus"))
    scored
      .join(e, scored("u") === e("a") && scored("v") === e("b"), "left_anti")
      .orderBy(col("__aaus").desc, col("u"), col("v"))
      .limit(topK)
      .select(col("u"), col("v"), col("common"),
        (round(col("__aaus") / 100.0).cast("long") / 10000.0).as("aa"))
  }

  /** Degree distribution power-law fit — the graph-shape diagnostic
    * that prices every downstream graph operator: a heavy-tailed
    * (scale-free-ish) degree histogram predicts hot keys in G38's
    * wedge enumeration and G37's message volume, a bounded one says
    * the defaults are safe. Fits ln(count) ~ ln(degree) over the
    * degree HISTOGRAM (D9's exact-sum trend on micro-nat integer
    * logs, the G60 Zipf pattern) — natural similarity graphs bend
    * near −2..−3; a flat slope flags a templated/adversarial corpus.
    *
    * Scale shape: degrees are one (node) combine over the doubled
    * edge list; the histogram is one (degree) combine, eager-cut
    * because it feeds BOTH the fit and the summary; the fit is a
    * one-row aggregate over the ≤max_degree-row histogram; the
    * summary attach is a one-row broadcast (left, so a degenerate
    * single-degree graph still reports with null fit).
    *
    * Output: one row (n_nodes, n_edges, max_degree, n_degrees,
    * alpha, r2) — `alpha` is the ln-ln slope.
    */
  def degreePowerLaw(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val hist = edges.select(col(srcCol).cast("long").as("id"))
      .unionAll(edges.select(col(dstCol).cast("long").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val fit = graft.operators.Rollups.linearTrend(
      hist
        .withColumn("x", round(log(col("deg")) * 1e6).cast("long"))
        .withColumn("y", round(log(col("cnt")) * 1e6).cast("long")),
      Seq.empty, "x", "y")
      .select(col("slope").as("alpha"), col("r2"))
    hist
      .agg(
        sum(col("cnt")).as("n_nodes"),
        sum(col("deg") * col("cnt")).as("__dm"),
        max(col("deg")).as("max_degree"),
        count(lit(1)).as("n_degrees"))
      .withColumn("n_edges", expr("__dm div 2"))
      .join(broadcast(fit), lit(true), "left")
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("n_degrees"), col("alpha"), col("r2"))
  }

  /** Newman modularity of a NODE PARTITION over an undirected edge
    * list — per community c: Q_c = e_c/m − (d_c/2m)², where e_c is
    * the within-community edge count, d_c the community's total
    * degree, m the edge count. ΣQ_c is the modularity the partition
    * earns; for a near-dup graph labeled by source, a high Q says
    * duplication is INTRA-source (boilerplate) and a low Q says it
    * leaks across sources (syndication) — which decides whether
    * per-source or global dedup is the right plan.
    *
    * Exactness: e_c, d_c, m are exact longs; each Q_c is a
    * written-order double of exact integers, 4dp.
    *
    * Scale shape: edges canonicalize + dedup once (hash exchange on
    * the edge), labels attach by two id-keyed equi joins, both total
    * sets at community grain (bounded by the label space). Mixed
    * (cross-community) edges contribute degree mass but no e_c —
    * exactly the statistic's definition.
    *
    * Output: (community, within_edges, degree, q_contrib) one row
    * per community carrying total m as n_edges.
    */
  def modularity(
      edges: DataFrame,
      labels: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      idCol: String = "id",
      labelCol: String = "label"): DataFrame = {
    val tagged = undirected(edges, srcCol, dstCol)
      .join(labels.select(col(idCol).as("a"), col(labelCol).as("__ca")), Seq("a"))
      .join(labels.select(col(idCol).as("b"), col(labelCol).as("__cb")), Seq("b"))
      .localCheckpoint() // feeds m, within counts, AND degree mass
    val m = tagged.agg(count(lit(1)).as("n_edges"))
    val within = tagged.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("within_edges"))
    val degree = tagged
      .select(explode(array(col("__ca"), col("__cb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("degree"))
    degree
      .join(within, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("within_edges"), lit(0L)).as("within_edges"),
        col("degree"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("within_edges"), col("degree"),
        col("n_edges"),
        round(d(col("within_edges")) / col("n_edges") -
          (d(col("degree")) / (lit(2.0) * col("n_edges"))) *
            (d(col("degree")) / (lit(2.0) * col("n_edges"))), 4)
          .as("q_contrib"))
  }

  /** Degree assortativity (G111) — do high-degree nodes attach to
    * other high-degree nodes (r > 0, social-network-like: duplicate
    * families link to families) or to leaves (r < 0,
    * hub-and-spoke-like: one template fans out to singletons)?
    * Pearson correlation of endpoint degrees over the SYMMETRIZED
    * directed edge list (each undirected edge contributes both
    * orientations — Newman 2002's convention, which makes Σj = Σk and
    * collapses r to (M·Σjk − (Σj)²)/(M·Σj² − (Σj)²)).
    *
    * The planning signal next to G73's power-law exponent: a negative
    * r says wedge fan-out concentrates on hub–leaf joins (salting
    * helps), a positive r says dense near-cliques dominate (family
    * collapse helps).
    *
    * Exactness: degrees and all four moments are exact integers in
    * decimal(38,0) (degree products reach deg²·M); ONE double
    * division, 4dp.
    *
    * Scale shape: one (node) degree combine, two id-keyed joins to
    * attach endpoint degrees, one one-row reduce. No windows, no
    * driver loops.
    *
    * Output: one row (n_nodes, n_edges, r) — r null on a
    * degree-regular graph (zero variance).
    */
  def assortativity(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // feeds the degree combine and the moment join
    val deg = degrees(e)
    withEndpointDegrees(bothWays(e, "a", "b", "s", "t"), deg, "s", "t", "__dj", "__dk")
      .agg(
        count(lit(1)).as("__m"),
        sum(dec(col("__dj"))).as("__sj"),
        sum(dec(col("__dj")) * col("__dk")).as("__sjk"),
        sum(dec(col("__dj")) * col("__dj")).as("__sjj"))
      .crossJoin(broadcast(
        deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), expr("__m div 2").as("n_edges"),
        round(when(col("__m") * col("__sjj") - col("__sj") * col("__sj") > 0,
          d(col("__m") * col("__sjk") - col("__sj") * col("__sj")) /
            d(col("__m") * col("__sjj") - col("__sj") * col("__sj"))), 4)
          .as("r"))
  }

  /** Rich-club coefficient curve (G112) — do the well-connected nodes
    * form their own dense core? For each threshold k: take the nodes
    * with degree > k, and φ(k) = 2·E_k / (n_k(n_k−1)) — the fraction
    * of possible edges among them that exist. A rising φ(k) on a
    * dedup graph means the biggest duplicate families interlock (one
    * shared template corpus); a flat curve means families are
    * disjoint. The planning companion to G111's one-number r.
    *
    * Exactness: n_k, E_k exact longs; φ one division, 4dp.
    *
    * Scale shape: degree combine once; the k-sweep is a CONSTANT
    * explode fan (|ks| rows per node / edge, dim-bounded input
    * already), one conditional combine per side, one k-grain join.
    *
    * Output: one row per k (k, n_nodes, n_edges_within, phi) — phi
    * null when n_k < 2.
    */
  def richClub(
      edges: DataFrame,
      ks: Seq[Int] = Seq(1, 2, 4, 8, 16),
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(ks.nonEmpty, "need at least one degree threshold")
    val kArr = array(ks.map(lit(_)): _*)
    val e = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // feeds the degree combine and the edge sweep
    val deg = degrees(e)
      .localCheckpoint() // feeds the node sweep and both edge attaches
    val nodesAtK = deg
      .select(explode(kArr).as("k"), col("deg"))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val edgesAtK = withEndpointDegrees(e, deg, "a", "b", "__da", "__db")
      .select(explode(kArr).as("k"), least(col("__da"), col("__db")).as("__md"))
      .filter(col("__md") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges_within"))
    nodesAtK
      .join(edgesAtK, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges_within"), lit(0L)).as("n_edges_within"))
      .withColumn("phi",
        round(when(col("n_nodes") >= 2,
          lit(2.0) * d(col("n_edges_within")) /
            (d(col("n_nodes")) * d(col("n_nodes") - 1L))), 4))
      .orderBy("k")
  }

  /** Unweighted link-prediction scores (G113) — the three classic
    * baselines next to G108's Adamic–Adar, for the same "what would a
    * looser banding have caught" review list: common neighbors
    * (raw overlap), Jaccard (overlap normalized by the union of
    * neighborhoods — demotes hubs), preferential attachment
    * (deg·deg — the null model the other two are judged against).
    * Reading all three on one pair separates "truly shared context"
    * from "two hubs were bound to collide".
    *
    * Determinism: common counts are exact longs from the SAME
    * hub-capped wedge enumeration as adamicAdar (centers with deg >
    * `hubCap` excluded by contract — mirrored in the oracle);
    * Jaccard's denominator uses FULL degrees; the top-k cut orders by
    * (common desc, u, v), total.
    *
    * Scale shape: [[cappedWedges]], one (u,v) combine, two
    * broadcast-size degree attaches, anti-join against existing
    * edges, TakeOrdered top-k.
    *
    * Output: topK rows (u, v, common, jaccard, pa).
    */
  def linkScores(
      edges: DataFrame,
      topK: Int = 20,
      hubCap: Int = 64,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // feeds degrees, wedges, and the anti-join
    val deg = degrees(e)
      .localCheckpoint() // feeds the wedge cap and both score attaches
    val scored = cappedWedges(e, deg, hubCap)
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common"))
    val unlinked = scored
      .join(e, scored("u") === e("a") && scored("v") === e("b"), "left_anti")
    withEndpointDegrees(unlinked, deg, "u", "v", "__du", "__dv")
      .orderBy(col("common").desc, col("u"), col("v"))
      .limit(topK)
      .select(col("u"), col("v"), col("common"),
        round(d(col("common")) /
          d(col("__du") + col("__dv") - col("common")), 4).as("jaccard"),
        (col("__du") * col("__dv")).as("pa"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) over a DIRECTED edge
    * set, `iters` synchronous rounds: authority = pointed-to by good
    * hubs, hub = points at good authorities. On the id-oriented
    * near-dup graph (low id → high id) hubs are the early/canonical
    * documents whose content fans out and authorities the heavily-
    * duplicated derivatives — the directional complement to G37's
    * PageRank (which mixes both roles into one score).
    *
    * Determinism: scores live as INTEGER parts-per-million mass —
    * each half-round sums exact longs over in/out neighbors and
    * renormalizes by the engine-identical floor division
    * score·10⁶ div total (L1 normalization; the textbook L2 needs a
    * square root that no integer contract survives, and scale
    * doesn't affect the ranking HITS is read for). No float ever
    * folds across rows, so the unrolled oracle lands exactly.
    *
    * Scale shape: per half-round one edge-side equi-join + one
    * node-grain combine + a one-row total broadcast — the G37
    * synchronous-round contract, checkpointed lineage.
    *
    * Output: (id, hub_ppm, auth_ppm) — exact longs.
    */
  def hits(
      edges: DataFrame,
      iters: Int = 8,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = nodeSet(e).localCheckpoint()
    // r16: zero-score rows are mathematically INERT inside the loop —
    // a zero hub/auth contributes nothing to any neighbor sum and
    // nothing to the L1 total — so the per-half-round node-grain
    // zero-fill join moves to the very end (one join each for hub and
    // auth) and the loop carries only nodes with non-zero raw mass.
    // r17: the L1 total rides the checkpoint action via observe()
    // (the Dedup.clusters convergence-probe pattern — an exact
    // aggregate read once on the driver, the sanctioned iterative-
    // control scalar) and is injected as a LITERAL into the ppm
    // projection, so the per-half-round total aggregate, crossJoin
    // and one-row broadcast disappear from every downstream job.
    // (A fused one-checkpoint-per-round variant re-executed the auth
    // aggregate inside the hub job and measured SLOWER — 5.0-5.3 vs
    // 4.2 s min-6 — so the stage count per job, not the action count,
    // is the binding floor here.) Values are unchanged (the unrolled
    // oracle and Round16cOpsSpec pin the exact ppm integers).
    def normalize(raw: DataFrame, rawCol: String, outCol: String): DataFrame = {
      val obs = new org.apache.spark.sql.Observation(
        s"graft_hits_l1_${obsId.incrementAndGet()}")
      val ckpt = raw
        .observe(obs, coalesce(sum(col(rawCol)), lit(0L)).as("tot"))
        .localCheckpoint()
      val t = obs.get.apply("tot").asInstanceOf[Long]
      ckpt.select(col("id"),
        (if (t > 0) expr(s"$rawCol * 1000000 div ${t}L")
         else lit(0L)).as(outCol))
    }
    var hub = nodes.withColumn("h", lit(1000000L)).localCheckpoint()
    var auth = hub.select(col("id"), col("h").as("a"))
    for (_ <- 1 to iters) {
      val araw = e.join(hub.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum("h").as("__ar"))
      auth = normalize(araw, "__ar", "a")
      val hraw = e.join(auth.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum("a").as("__hr"))
      hub = normalize(hraw, "__hr", "h")
    }
    val hubF = nodes.join(hub, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("h"))
    val authF = nodes.join(auth, Seq("id"), "left")
      .select(col("id"), coalesce(col("a"), lit(0L)).as("a"))
    hubF.join(authF, "id")
      .select(col("id"), col("h").as("hub_ppm"), col("a").as("auth_ppm"))
  }
}
