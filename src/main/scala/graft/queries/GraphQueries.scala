package graft
package queries

import graft.operators._
import graft.queries.Inputs._
import graft.queries.SqlText._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics: PageRank, HITS, label propagation, k-core, BFS and
  * triangles over deterministic graphs. Each [[QuerySpec]] holds a
  * query's Spark closure and, right after it, the DuckDB SQL its result
  * must match. */
private[graft] object GraphQueries extends QueryFamily {
  val prefix = "g"

  /** CTE `nodes`: dense node indices 0..n-1 over the documents in
    * doc_id order. */
  private val denseNodesCte: String =
    """nodes AS (
      |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
      |  FROM documents)""".stripMargin

  /** Body of the 3-regular link-graph edge CTE (src, dst) over
    * `nodes` (n = `ni` of CTE `nn`) — SQL twin of [[linkGraph]]. */
  private val linkEdgesSql: String =
    """(
      |  SELECT node AS src,
      |    (node * 31 + k * 7919) % (SELECT ni FROM nn) AS dst
      |  FROM nodes, unnest([1, 2, 3]) AS t(k))""".stripMargin

  /** The deterministic 3-regular link graph: node i of the dense
    * indices 0..n-1 (n = |documents|; index space, not raw doc_ids —
    * those need not be contiguous) links to (31·i + 7919·k) mod n for
    * k = 1..3. Returns n and the edges (src, dst). */
  private def linkGraph(s: SparkSession, dir: String): (Long, DataFrame) = {
    val nDocs = tbl(s, dir, "documents").count()
    (nDocs, s.range(nDocs)
      .select(col("id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
      .select(col("src"),
        ((col("src") * 31 + col("k") * 7919) % nDocs).as("dst")))
  }

  /** Unrolled fixed-iteration PageRank twin of Graph.pageRank over
    * the deterministic 3-regular dense-index edge construction: same float
    * op sequence per node per round ((1-d)/n + d·Σ rank/deg; dangling
    * mass is structurally zero here since every node has out-degree
    * 3, and the operator's +d·0/n term is float-identity).
    */
  private lazy val pageRankSql: String = {
    val D = "CAST(0.85 AS DOUBLE)"
    val body = (1 to 8).map { i =>
      s"""r$i AS (
         |  SELECT nd.node,
         |    (CAST(1.0 AS DOUBLE) - $D) / (SELECT n FROM nn)
         |      + $D * coalesce(s.m, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / dg.deg) AS m
         |    FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |      JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) s ON nd.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $denseNodesCte,
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM nodes),
       |edges AS $linkEdgesSql,
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
       |""".stripMargin + body +
      "\nSELECT node, rank FROM r8 ORDER BY node"
  }

  /** Unrolled sync-LPA twin of Graph.labelPropagation over the
    * planted-block graph: identical symmetrize-distinct edge set,
    * identical vote (count per neighbor label) and identical
    * tie-break (cnt desc, label asc) per round — all-integer, so the
    * replay is exact with no float contract needed.
    */
  private lazy val lpaCtes: String = {
    val body = lpaUnroll(3)
    s"""WITH $denseNodesCte,
       |nn AS (SELECT count(*) AS n FROM nodes),
       |${plantedBlockSql("nodes", "node", Some("(SELECT n FROM nn)"))},
       |e0 AS (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM bridge),
       |und AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM e0 WHERE src <> dst
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst)),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
       |""".stripMargin + body
  }

  private lazy val lpaSql: String =
    lpaCtes + "\nSELECT node, label FROM l3 ORDER BY node"

  /** Per-community modularity decomposition over the LPA partition:
    * exact-integer m / e_in / deg_c, one fixed-shape double q term
    * per row — no cross-row float accumulation, so rows hash-compare
    * engine-exactly.
    */
  private lazy val modularitySql: String =
    lpaCtes + s""",
      |eu AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e0 WHERE src <> dst),
      |mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM eu),
      |degs AS (SELECT node, count(*) AS deg FROM (
      |  SELECT a AS node FROM eu UNION ALL SELECT b AS node FROM eu)
      |  GROUP BY 1),
      |tagged AS (SELECT la.label AS lab_a, lb.label AS lab_b
      |  FROM eu JOIN l3 la ON la.node = eu.a JOIN l3 lb ON lb.node = eu.b),
      |intra AS (SELECT lab_a AS label, CAST(count(*) AS BIGINT) AS internal_edges
      |  FROM tagged WHERE lab_a = lab_b GROUP BY 1),
      |per AS (SELECT l3.label, CAST(count(*) AS BIGINT) AS nodes,
      |  CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS degree_sum
      |  FROM l3 LEFT JOIN degs d ON d.node = l3.node GROUP BY 1)
      |SELECT per.label, per.nodes,
      |  CAST(coalesce(i.internal_edges, 0) AS BIGINT) AS internal_edges,
      |  per.degree_sum,
      |  round(CAST(coalesce(i.internal_edges, 0) AS DOUBLE) / (SELECT m FROM mm)
      |    - (CAST(per.degree_sum AS DOUBLE) / (2 * (SELECT m FROM mm)))
      |      * (CAST(per.degree_sum AS DOUBLE) / (2 * (SELECT m FROM mm))), 6)
      |    AS q_term
      |FROM per LEFT JOIN intra i ON i.label = per.label
      |ORDER BY per.label""".stripMargin

  /** Unrolled HITS twin of Graph.hits over the same edge
    * construction: raw linear updates (auth = Σ in-hub, hub = Σ
    * out-auth — normalization commutes, applied once at the end via
    * window max); the 3-term float sums follow the pageRank
    * association contract. Every CTE is referenced once except the
    * final a5 (twice) — DuckDB's CTE inlining stays linear.
    */
  private lazy val hitsSql: String = {
    val body = (1 to 5).map { i =>
      s"""a$i AS (
         |  SELECT nd.node, coalesce(s.v, CAST(0.0 AS DOUBLE)) AS auth
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(h.hub) AS v
         |    FROM h${i - 1} h JOIN edges e ON h.node = e.src
         |    GROUP BY e.dst) s ON nd.node = s.node),
         |h$i AS (
         |  SELECT nd.node, coalesce(s.v, CAST(0.0 AS DOUBLE)) AS hub
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.src AS node, sum(a.auth) AS v
         |    FROM a$i a JOIN edges e ON a.node = e.dst
         |    GROUP BY e.src) s ON nd.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $denseNodesCte,
       |nn AS (SELECT count(*) AS ni FROM nodes),
       |edges AS $linkEdgesSql,
       |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |""".stripMargin + body + """
       |SELECT node, auth / max(auth) OVER () AS auth,
       |  hub / max(hub) OVER () AS hub
       |FROM (SELECT a5.node, a5.auth, h5.hub
       |      FROM a5 JOIN h5 ON a5.node = h5.node)
       |ORDER BY node""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---------------------------------------------- graph / curation
    QuerySpec("g_pagerank", (s, dir) => {
      // link-graph authority prior (the original corpus-quality
      // signal). The synthetic corpus has no hyperlinks, so the edge
      // list is a deterministic 3-regular construction over DENSE
      // node indices 0..n-1 (n = |documents|; index space, not raw
      // doc_ids — those need not be contiguous). The operator under
      // test is Graph.pageRank — two exchanges per iteration,
      // dangling redistribution, checkpoint-truncated lineage.
      val (_, edges) = linkGraph(s, dir)
      Graph.pageRank(edges, iters = 8, damping = 0.85).orderBy(col("node"))
    }, oracleSql = pageRankSql),

    QuerySpec("g_hits", (s, dir) => {
      // HITS hub/authority over the same deterministic 3-regular
      // link graph as g_pagerank — the second classic link-quality
      // prior (hubs find link farms PageRank smears). Max-normalized
      // per half-step so every normalizer is an exact scalar
      // (Graph.hits); oracle unrolls all 5 iterations.
      val (_, edges) = linkGraph(s, dir)
      Graph.hits(edges, iters = 5).orderBy(col("node"))
    }, oracleSql = hitsSql),

    QuerySpec("g_shortest_path", (s, dir) => {
      // multi-source BFS hop labels over the same deterministic
      // 3-regular link graph (TrustRank-style seed distance: "how
      // many links from a trusted seed is this page"). Seeds = nodes
      // ≡ 0 (mod 97). Frontier-based expansion — O(|E|) total join
      // work across all rounds (Graph.bfsHops); oracle is a
      // WITH RECURSIVE replay with the same hop bound.
      val (nDocs, edges) = linkGraph(s, dir)
      val seeds = s.range(nDocs).where(col("id") % 97 === 0)
        .select(col("id").as("node"))
      Graph.bfsHops(edges, seeds, maxHops = 6).orderBy(col("node"))
    },
    // recursive-CTE BFS replay over the same 3-regular construction;
    // UNION dedups (node, hop) states, min(hop) collapses to the true
    // BFS distance, hop bound matches maxHops = 6
    oracleSql =
      s"""WITH RECURSIVE $denseNodesCte,
         |nn AS (SELECT count(*) AS ni FROM nodes),
         |edges AS $linkEdgesSql,
         |bfs(node, hop) AS (
         |  SELECT node, 0 FROM nodes WHERE node % 97 = 0
         |  UNION
         |  SELECT e.dst, b.hop + 1
         |  FROM bfs b JOIN edges e ON e.src = b.node WHERE b.hop < 6)
         |SELECT node, CAST(min(hop) AS INT) AS hop
         |FROM bfs GROUP BY node ORDER BY node""".stripMargin),

    QuerySpec("g_kcore", (s, dir) => {
      // 6-core extraction on a planted-nucleus graph (iterative
      // peeling, Graph.kCore): nodes 0..49 form a dense circulant
      // core (links to (i+j) mod 50, j=1..4 → undirected degree 8);
      // every other node hangs off the core by ONE link. The 6-core
      // must peel the entire degree-1 fringe (and the core degrees it
      // inflated) and return exactly the 50 nucleus nodes at their
      // internal degree — the link-farm/dense-nest extraction
      // centrality pipelines run first. (The pagerank 3-regular graph
      // is exactly 6-regular — nothing to peel — so this query uses
      // its own construction.) Peeling is edge-proportional on a
      // shrinking subgraph, checkpointed, early-exit at fixpoint;
      // oracle unrolls all 8 rounds.
      val nDocs = tbl(s, dir, "documents").count()
      val core = s.range(50)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L), lit(4L))).as("j"))
        .select(col("src"), ((col("src") + col("j")) % 50).as("dst"))
      val fringe = s.range(50, nDocs)
        .select(col("id").as("src"), (col("id") % 50).as("dst"))
      Graph.kCore(core.unionByName(fringe), k = 6, maxRounds = 8)
        .orderBy(col("node"))
    },
    // k-core replay: 8 unrolled peel rounds (degree → alive ≥ k →
    // edge restriction), identical final degree filter
    oracleSql = {
      val rounds = (1 to 8).map { i =>
        // MATERIALIZED: each e_i is referenced three times (twice in
        // d_{i+1}, once in e_{i+1}) — without it DuckDB inlines the
        // chain 3^8-fold (the hits-oracle CTE lesson)
        s"""d$i AS (SELECT node, count(*) AS d FROM (
           |  SELECT a AS node FROM e${i - 1}
           |  UNION ALL SELECT b FROM e${i - 1}) GROUP BY node),
           |a$i AS (SELECT node FROM d$i WHERE d >= 6),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN a$i x ON x.node = e.a JOIN a$i y ON y.node = e.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH $denseNodesCte,
         |nn AS (SELECT count(*) AS ni FROM nodes),
         |raw AS (
         |  SELECT node AS src, (node + j) % 50 AS dst
         |  FROM nodes, unnest([1, 2, 3, 4]) AS t(j) WHERE node < 50
         |  UNION ALL
         |  SELECT node, node % 50 FROM nodes WHERE node >= 50),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |$rounds
         |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS node FROM e8 UNION ALL SELECT b FROM e8)
         |GROUP BY node HAVING count(*) >= 6 ORDER BY node""".stripMargin
    }),

    QuerySpec("g_triangles", (s, dir) => {
      // per-node triangle counts over the undirected 3-regular link
      // graph (local clustering — triangle-dense neighborhoods are
      // mutually-linking cliques, the link-farm signal HITS hubs
      // smear). Degree-oriented wedge join: O(|E|^{3/2}) worst-case
      // work regardless of skew (Graph.triangleCounts); the oracle
      // re-derives triangles independently as ordered a<b<c triples.
      val (_, edges) = linkGraph(s, dir)
      Graph.triangleCounts(edges).orderBy(col("node"))
    },
    // independent triangle replay: undirected simple edges with a<b,
    // triangles as ordered a<b<c triples (each found once), per-node
    // credit via UNION ALL of the three corners
    oracleSql =
      s"""WITH $denseNodesCte,
         |nn AS (SELECT count(*) AS ni FROM nodes),
         |raw AS $linkEdgesSql,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1
         |  JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |corners AS (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri),
         |cnt AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY node),
         |gn AS (SELECT a AS node FROM und UNION SELECT b FROM und)
         |SELECT gn.node, CAST(coalesce(cnt.n_tri, 0) AS BIGINT) AS n_tri
         |FROM gn LEFT JOIN cnt USING (node)
         |ORDER BY node""".stripMargin),

    QuerySpec("g_communities", (s, dir) => {
      // synchronous label propagation over a planted-block graph
      // (community detection — the host/domain clustering pass run
      // before per-community quotas or contamination sweeps): blocks
      // of 10 nodes form rings (each node links +1/+2 within its
      // block), blocks chain weakly through their first node. Three
      // sync rounds, most-frequent-neighbor-label votes, ties to the
      // smallest label — every step an exact integer computation, so
      // the DuckDB oracle unrolls the identical rounds and the result
      // is hash-exact at any parallelism (Graph.labelPropagation).
      Graph.labelPropagation(
          plantedBlockEdges(s, tbl(s, dir, "documents").count()), rounds = 3)
        .orderBy(col("node"))
    }, oracleSql = lpaSql),

    QuerySpec("g_modularity", (s, dir) => {
      // per-community modularity decomposition of the LPA partition
      // (Graph.communityStats): member count, internal undirected
      // edges, degree sum, and q = e_in/m − (deg_c/2m)² per label —
      // the partition-quality audit run before per-community quotas
      // key on the clustering. m/e_in/deg_c are exact integers; q is
      // one fixed-shape double per ROW (no cross-row float sums), so
      // the oracle unrolls LPA and recomputes the same integers.
      val edges = plantedBlockEdges(s, tbl(s, dir, "documents").count())
      Graph.communityStats(edges, Graph.labelPropagation(edges, rounds = 3))
        .orderBy(col("label"))
    }, oracleSql = modularitySql)
  )
}
