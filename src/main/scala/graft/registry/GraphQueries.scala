package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — graph analytics over the near-dup pair graph
  * (split out of PipelineQueries at the family seam when it crossed
  * the 3k-line hygiene cap): PageRank, triangles, k-core, clustering
  * coefficients, Adamic–Adar, component sizes, degree power law, and
  * partition modularity.
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object GraphQueries {

  /** Oracle CTEs `prs` (a, b), `deg` (id, deg), `ed` (u, v) and `tri`
    * (id, tri) over `lshpairs`: each edge oriented low→high by
    * (degree, id) — exactly Graph.triangles' formulation, which caps
    * wedge fan-out at the oriented out-degree (the naive id-ordered
    * triple join enumerates every hub's full wedge fan and filled the
    * sf1 spill disk). Same triangle set as the naive closure. `prs`,
    * `deg` and `ed` are MATERIALIZED: inlined, DuckDB re-evaluated
    * `lshpairs` per reference and ran out of memory at sf0.1.
    */
  private val TriangleSql =
    """prs AS MATERIALIZED (SELECT idA AS a, idB AS b FROM lshpairs),
      |deg AS MATERIALIZED (
      |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS id FROM prs UNION ALL SELECT b FROM prs)
      |  GROUP BY 1
      |),
      |ed AS MATERIALIZED (
      |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
      |              THEN p.a ELSE p.b END AS u,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
      |              THEN p.b ELSE p.a END AS v
      |  FROM prs p
      |  JOIN deg da ON da.id = p.a
      |  JOIN deg db ON db.id = p.b
      |),
      |tw AS (
      |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM ed e1
      |  JOIN ed e2 ON e2.u = e1.v
      |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
      |),
      |m AS (
      |  SELECT x AS id FROM tw
      |  UNION ALL SELECT y FROM tw
      |  UNION ALL SELECT z FROM tw
      |),
      |tri AS (SELECT id, CAST(count(*) AS BIGINT) AS tri FROM m GROUP BY id)""".stripMargin

  /** Oracle CTEs for the co-purchase graph: `prs` (a, b) are part pairs
    * sharing ≥ 2 order baskets (the naive basket self-join — same pair
    * counts as the in-row expansion), `deg` (id, deg), and `cap`
    * (w, n, deg) the doubled edges whose center w has 2 ≤ deg ≤ 64
    * (the hub cap is semantics, mirrored from Graph.cappedWedges).
    * `prs`, `deg` and `cap` are MATERIALIZED.
    */
  private val CoPurchaseWedgeSql =
    """bk AS (
      |  SELECT l_orderkey AS bsk, l_partkey AS it
      |  FROM lineitem GROUP BY 1, 2
      |),
      |prs AS MATERIALIZED (
      |  SELECT x.it AS a, y.it AS b
      |  FROM bk x JOIN bk y ON x.bsk = y.bsk AND x.it < y.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |),
      |deg AS MATERIALIZED (
      |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS id FROM prs UNION ALL SELECT b FROM prs)
      |  GROUP BY 1
      |),
      |dbl AS (
      |  SELECT a AS w, b AS n FROM prs
      |  UNION ALL SELECT b AS w, a AS n FROM prs
      |),
      |cap AS MATERIALIZED (
      |  SELECT dbl.w, dbl.n, deg.deg
      |  FROM dbl JOIN deg ON deg.id = dbl.w
      |  WHERE deg.deg BETWEEN 2 AND 64
      |)""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q108_pagerank" -> ((s, dir) => {
      // PageRank over the symmetrized embedding near-dup graph:
      // duplicate-cluster centrality, 8 synchronous rounds, d=0.85
      val t = Tables(s, dir)
      val pairs = SimilaritySearch.cosineNearDupPairs(t.embeddings)
        .select("idA", "idB")
      val edges = pairs.select(col("idA").as("src"), col("idB").as("dst"))
        .unionAll(pairs.select(col("idB").as("src"), col("idA").as("dst")))
      Graph.pageRank(edges)
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    "q325_kcore" -> ((s, dir) => {
      // G102 2-core of the MinHash near-dup graph after 8 synchronous
      // peels (bounded-round contract, fixed-point-stable): dense
      // duplicate families survive, incidental pairwise matches peel
      // away — the template-spam screen beside q111's triangles
      val t = Tables(s, dir)
      Graph.kCore(nearDupEdges(t))
    }),
    "q111_triangles" -> ((s, dir) => {
      // per-node triangle participation over the MinHash near-dup
      // graph — duplicate families are mutually similar, so their
      // clusters are triangle-dense (degree-oriented wedge
      // enumeration; the oracle replays the naive id-ordered
      // formulation — same triangle set)
      val t = Tables(s, dir)
      Graph.triangleCount(
        nearDupEdges(t),
        "idA", "idB")
    }),
    "q340_clustering_coeff" -> ((s, dir) => {
      // G107 per-node local clustering coefficient over the near-dup
      // graph: high C = true duplicate family, high-degree low C =
      // boilerplate hub — opposite keeper policies
      val t = Tables(s, dir)
      Graph.clusteringCoefficient(
        nearDupEdges(t),
        "idA", "idB")
    }),
    "q341_adamic_adar" -> ((s, dir) => {
      // G108 Adamic–Adar link prediction over the co-purchase graph
      // (part pairs sharing ≥2 order baskets): the not-yet-linked
      // pairs with the most shared RARE neighbors — what an item
      // recommender surfaces next. (The near-dup graph is pure
      // cliques at this corpus — zero open wedges, by construction —
      // q340 pins that; prediction needs an open graph.) Integer
      // micro-unit 1/ln(deg) wedge weights, hub-capped centers.
      val t = Tables(s, dir)
      Graph.adamicAdar(
        Baskets.coPairs(t.lineitem, "l_orderkey", "l_partkey",
          minSupport = 2),
        topK = 20, hubCap = 64)
    }),
    "q222_degree_powerlaw" -> ((s, dir) => {
      // G73 graph-shape diagnostic: degree-histogram ln-ln slope of
      // the MinHash near-dup graph
      val t = Tables(s, dir)
      Graph.degreePowerLaw(
        nearDupEdges(t),
        "idA", "idB")
    }),
    "q254_component_sizes" -> ((s, dir) => {
      // G79 giant-component alarm: size histogram of the MinHash
      // near-dup clustering with node shares
      val t = Tables(s, dir)
      Graph.componentSizes(
        nearDupEdges(t))
    }),
    "q379_dup_modularity" -> ((s, dir) => {
      // G110 modularity of the SOURCE partition over the near-dup
      // graph: high Q = duplication is intra-source (boilerplate),
      // low Q = it leaks across sources (syndication) — decides
      // per-source vs global dedup
      val t = Tables(s, dir)
      Graph.modularity(
        nearDupEdges(t),
        t.documents.select(col("doc_id"), col("source")),
        "idA", "idB", "doc_id", "source")
        .orderBy("community")
    }),
    "q386_assortativity" -> ((s, dir) => {
      // G111 degree assortativity of the near-dup graph: r > 0 =
      // families link to families (collapse them first), r < 0 =
      // hub-and-spoke templates (salt the hubs) — one number that
      // prices the wedge-enumeration plan
      val t = Tables(s, dir)
      Graph.assortativity(
        nearDupEdges(t),
        "idA", "idB")
    }),
    "q387_rich_club" -> ((s, dir) => {
      // G112 rich-club curve: do the best-connected docs form their
      // own dense core (one interlocking template corpus) or sit in
      // disjoint families — q386's one number unrolled over degree
      // thresholds
      val t = Tables(s, dir)
      Graph.richClub(
        nearDupEdges(t),
        Seq(1, 2, 4, 8, 16), "idA", "idB")
    }),
    "q399_label_prop" -> ((s, dir) => {
      // G119 deterministic synchronous label propagation (4 rounds,
      // ties to smallest label) over the near-dup graph: majority
      // communities — the family grouping q47's components over-merge
      // through single weak edges
      val t = Tables(s, dir)
      Graph.labelPropagation(
        nearDupEdges(t))
        .orderBy("id")
    }),
    "q388_link_scores" -> ((s, dir) => {
      // G113 link-prediction baselines over the co-purchase graph:
      // common neighbors / Jaccard / preferential attachment for the
      // same not-yet-linked pairs q341's Adamic-Adar ranks — reading
      // all three separates shared context from hub collisions
      val t = Tables(s, dir)
      Graph.linkScores(
        Baskets.coPairs(t.lineitem, "l_orderkey", "l_partkey",
          minSupport = 2),
        topK = 20, hubCap = 64)
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // PageRank oracle: the driver-side loop unrolled as chained CTEs —
    // identical start vector, per-round formula, and damping
    // arithmetic ((1 - 0.85), not a pre-folded 0.15, so both engines
    // hit the same doubles).
    "q108_pagerank" ->
      s"""WITH $VectorsSql,
         |$LshSql,
         |bsz AS (SELECT bucket, count(*) AS bn FROM withb GROUP BY 1),
         |ok AS (
         |  SELECT w.* FROM withb w JOIN bsz USING (bucket)
         |  WHERE bn > 1 AND bn <= ${graft.GraftConf.LshBucketCap}
         |),
         |prs AS (
         |  SELECT a.vec_id AS idA, b.vec_id AS idB
         |  FROM ok a JOIN ok b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |        / (a.n * b.n) >= 0.35
         |),
         |edges AS (
         |  SELECT idA AS src, idB AS dst FROM prs
         |  UNION ALL
         |  SELECT idB AS src, idA AS dst FROM prs
         |),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
         |$PageRankItersSql
         |SELECT id, round(rank, 6) AS rank FROM r8""".stripMargin,
    // k-core replay: the same 8 unrolled peel rounds. Every CTE is
    // MATERIALIZED — e_i feeds both k_{i+1} and e_{i+1}, and DuckDB's
    // default inlining would go exponential on the chain.
    "q325_kcore" -> {
      val peels = (1 to 8).map { i =>
        s"""k$i AS MATERIALIZED (
           |  SELECT src AS id FROM e${i - 1} GROUP BY src HAVING count(*) >= 2
           |),
           |e$i AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN k$i a ON e.src = a.id JOIN k$i b ON e.dst = b.id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $MinhashPairsSql,
         |e0 AS MATERIALIZED (
         |${BothWaysSql("lshpairs")}
         |),
         |$peels
         |SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |FROM e8 GROUP BY 1""".stripMargin
    },
    // Triangle oracle: the oriented-wedge chain (TriangleSql) over the
    // q31 pair set; the triangle set is orientation-invariant.
    "q111_triangles" ->
      s"""WITH $MinhashPairsSql,
         |$TriangleSql
         |SELECT id, tri FROM tri""".stripMargin,
    // Clustering coefficient: q111's oriented-wedge triangle chain plus
    // its degree table; C is one exact integer ratio per node.
    "q340_clustering_coeff" ->
      s"""WITH $MinhashPairsSql,
         |$TriangleSql
         |SELECT d.id, d.deg,
         |       coalesce(t.tri, CAST(0 AS BIGINT)) AS tri,
         |       CASE WHEN d.deg > 1
         |            THEN round(2.0 * coalesce(t.tri, CAST(0 AS BIGINT))
         |                   / (CAST(d.deg AS DOUBLE) * (d.deg - 1)), 4)
         |            ELSE 0.0 END AS coeff
         |FROM deg d LEFT JOIN tri t USING (id)""".stripMargin,
    // Adamic–Adar: the co-purchase capped wedges (CoPurchaseWedgeSql),
    // integer micro-unit 1/ln(deg) weights of each wedge's center so
    // pair scores are order-free long sums, total (score, u, v) top-k
    // cut.
    "q341_adamic_adar" ->
      s"""WITH $CoPurchaseWedgeSql,
         |sc AS (
         |  SELECT x.n AS u, y.n AS v, CAST(count(*) AS BIGINT) AS common,
         |         CAST(sum(CAST(floor(1e6 / ln(CAST(x.deg AS DOUBLE)) + 0.5) AS BIGINT))
         |           AS BIGINT) AS aaus
         |  FROM cap x JOIN cap y ON x.w = y.w AND x.n < y.n
         |  GROUP BY 1, 2
         |),
         |ne AS (
         |  SELECT sc.u, sc.v, sc.common, sc.aaus FROM sc
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM prs WHERE prs.a = sc.u AND prs.b = sc.v)
         |)
         |SELECT u, v, common,
         |       CAST(round(aaus / 100.0) AS BIGINT) / 10000.0 AS aa
         |FROM ne ORDER BY aaus DESC, u, v LIMIT 20""".stripMargin,
    // Degree power-law replay: same doubled edge list, same micro-nat
    // integer logs into the exact-sum trend (the q147/q176 contract).
    "q222_degree_powerlaw" ->
      s"""WITH $MinhashPairsSql,
         |e AS (
         |  SELECT idA AS id FROM lshpairs
         |  UNION ALL SELECT idB FROM lshpairs
         |),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |hist AS (SELECT deg, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY 1),
         |xy AS (
         |  SELECT CAST(round(ln(deg) * 1e6) AS BIGINT) AS x,
         |         CAST(round(ln(cnt) * 1e6) AS BIGINT) AS y
         |  FROM hist
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
         |  FROM xy
         |),
         |f AS (
         |  SELECT round(CAST(n * sxy - sx * sy AS DOUBLE)
         |               / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS alpha,
         |         CASE WHEN n * syy - sy * sy > 0 THEN
         |           round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
         |                 / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 4)
         |         END AS r2
         |  FROM m WHERE n >= 2 AND n * sxx - sx * sx > 0
         |),
         |s AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n_nodes,
         |         CAST(sum(deg * cnt) // 2 AS BIGINT) AS n_edges,
         |         CAST(max(deg) AS BIGINT) AS max_degree,
         |         CAST(count(*) AS BIGINT) AS n_degrees
         |  FROM hist
         |)
         |SELECT n_nodes, n_edges, max_degree, n_degrees, alpha, r2
         |FROM s LEFT JOIN f ON TRUE""".stripMargin,
    // Component-size replay: the q47 walk, size histogram, exact
    // shares over the histogram.
    "q254_component_sizes" ->
      s"""WITH RECURSIVE $MinhashPairsSql,
         |${ComponentsSql("lshpairs")},
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS size FROM comps GROUP BY 1),
         |hist AS (
         |  SELECT size, CAST(count(*) AS BIGINT) AS n_components,
         |         CAST(size * count(*) AS BIGINT) AS n_nodes
         |  FROM sz GROUP BY 1
         |),
         |sh AS (
         |  SELECT size, n_components, n_nodes,
         |         round(CAST(n_nodes AS DOUBLE) / sum(n_nodes) OVER (), 4) AS node_share
         |  FROM hist
         |)
         |SELECT size, n_components, n_nodes, node_share,
         |       max(node_share) OVER () AS max_share
         |FROM sh""".stripMargin,
    // Modularity replay: the lshpairs edge set labeled by source on
    // both endpoints; exact integer e_c/d_c/m, one double per
    // community in written order.
    "q379_dup_modularity" ->
      s"""WITH $MinhashPairsSql,
         |e AS (SELECT idA AS a, idB AS b FROM lshpairs),
         |tagged AS MATERIALIZED (
         |  SELECT e.a, e.b, da.source AS ca, db.source AS cb
         |  FROM e
         |  JOIN documents da ON da.doc_id = e.a
         |  JOIN documents db ON db.doc_id = e.b
         |),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM tagged),
         |w AS (
         |  SELECT ca AS community, CAST(count(*) AS BIGINT) AS within_edges
         |  FROM tagged WHERE ca = cb GROUP BY 1
         |),
         |dg AS (
         |  SELECT community, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT ca AS community FROM tagged
         |    UNION ALL SELECT cb FROM tagged)
         |  GROUP BY 1
         |)
         |SELECT dg.community, coalesce(w.within_edges, 0) AS within_edges,
         |       dg.degree, m.n_edges,
         |       round(CAST(coalesce(w.within_edges, 0) AS DOUBLE) / m.n_edges
         |             - (CAST(dg.degree AS DOUBLE) / (2.0 * m.n_edges))
         |               * (CAST(dg.degree AS DOUBLE) / (2.0 * m.n_edges)), 4)
         |         AS q_contrib
         |FROM dg LEFT JOIN w USING (community), m
         |ORDER BY community""".stripMargin,
    // LPA replay: 4 unrolled synchronous rounds, per-node argmax by
    // (neighbor-label count desc, label asc); every round
    // MATERIALIZED (each feeds the next join).
    "q399_label_prop" -> {
      val roundsSql = (1 to 4).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT src AS id, community FROM (
           |    SELECT e.src, l.community,
           |           row_number() OVER (PARTITION BY e.src
           |             ORDER BY count(*) DESC, l.community) AS rk
           |    FROM e0 e JOIN l${i - 1} l ON l.id = e.dst
           |    GROUP BY e.src, l.community
           |  ) WHERE rk = 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $MinhashPairsSql,
         |e0 AS MATERIALIZED (
         |${BothWaysSql("lshpairs")}
         |),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS community FROM e0),
         |$roundsSql
         |SELECT id, community FROM l4 ORDER BY id""".stripMargin
    },
    // Assortativity replay: symmetrized edge list, endpoint degrees,
    // exact HUGEINT moments, one double division.
    "q386_assortativity" ->
      s"""WITH $MinhashPairsSql,
         |ed AS MATERIALIZED (SELECT idA, idB FROM lshpairs),
         |deg AS MATERIALIZED (
         |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT idA AS id FROM ed UNION ALL SELECT idB FROM ed)
         |  GROUP BY 1
         |),
         |dbl AS (
         |  SELECT idA AS s, idB AS t FROM ed
         |  UNION ALL SELECT idB, idA FROM ed
         |),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(CAST(dj.deg AS HUGEINT)) AS HUGEINT) AS sj,
         |         CAST(sum(CAST(dj.deg AS HUGEINT) * dk.deg) AS HUGEINT) AS sjk,
         |         CAST(sum(CAST(dj.deg AS HUGEINT) * dj.deg) AS HUGEINT) AS sjj
         |  FROM dbl
         |  JOIN deg dj ON dj.id = dbl.s
         |  JOIN deg dk ON dk.id = dbl.t
         |),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         |SELECT n_nodes, m // 2 AS n_edges,
         |       round(CASE WHEN m * sjj - sj * sj > 0
         |             THEN CAST(m * sjk - sj * sj AS DOUBLE)
         |                  / CAST(m * sjj - sj * sj AS DOUBLE) END, 4) AS r
         |FROM mo, nn""".stripMargin,
    // Rich-club replay: same degree table, constant k-sweep on both
    // the node side and the min-endpoint-degree edge side.
    "q387_rich_club" ->
      s"""WITH $MinhashPairsSql,
         |ed AS MATERIALIZED (SELECT idA, idB FROM lshpairs),
         |deg AS MATERIALIZED (
         |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT idA AS id FROM ed UNION ALL SELECT idB FROM ed)
         |  GROUP BY 1
         |),
         |ks AS (SELECT unnest([1, 2, 4, 8, 16]) AS k),
         |nk AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM deg CROSS JOIN ks WHERE deg > k GROUP BY 1
         |),
         |ek AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n_edges_within
         |  FROM ed
         |  JOIN deg da ON da.id = ed.idA
         |  JOIN deg db ON db.id = ed.idB
         |  CROSS JOIN ks
         |  WHERE least(da.deg, db.deg) > k
         |  GROUP BY 1
         |)
         |SELECT nk.k, nk.n_nodes,
         |       coalesce(ek.n_edges_within, 0) AS n_edges_within,
         |       round(CASE WHEN nk.n_nodes >= 2
         |             THEN 2.0 * CAST(coalesce(ek.n_edges_within, 0) AS DOUBLE)
         |                  / (CAST(nk.n_nodes AS DOUBLE)
         |                     * CAST(nk.n_nodes - 1 AS DOUBLE)) END, 4) AS phi
         |FROM nk LEFT JOIN ek USING (k)
         |ORDER BY k""".stripMargin,
    // Link-score replay: q341's capped wedges counted without the AA
    // weight; full degrees attach to the surviving pairs only.
    "q388_link_scores" ->
      s"""WITH $CoPurchaseWedgeSql,
         |sc AS (
         |  SELECT x.n AS u, y.n AS v, CAST(count(*) AS BIGINT) AS common
         |  FROM cap x JOIN cap y ON x.w = y.w AND x.n < y.n
         |  GROUP BY 1, 2
         |),
         |ne AS (
         |  SELECT sc.u, sc.v, sc.common FROM sc
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM prs WHERE prs.a = sc.u AND prs.b = sc.v)
         |)
         |SELECT ne.u, ne.v, ne.common,
         |       round(CAST(ne.common AS DOUBLE)
         |             / CAST(du.deg + dv.deg - ne.common AS DOUBLE), 4) AS jaccard,
         |       CAST(du.deg * dv.deg AS BIGINT) AS pa
         |FROM ne
         |JOIN deg du ON du.id = ne.u
         |JOIN deg dv ON dv.id = ne.v
         |ORDER BY ne.common DESC, ne.u, ne.v LIMIT 20""".stripMargin,
  )
}
