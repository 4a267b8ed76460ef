package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.graph.Graph
import graft.llm.Dedup

/** Company-transition graph analytics (graph/Graph.scala): the reference's
  * property graph (SURVEY §1.1) asked only 1-hop questions; these are the
  * whole-graph measures over the same movement data. Suppliers ≙ studios,
  * customers ≙ people; edges = consecutive-supplier career moves derived
  * with the jump engine's window pattern.
  *
  * All four are oracle-checked: the transition window, degree/strength
  * sums, and the strong-ties component closure replay exactly in DuckDB;
  * PageRank unrolls its fixed iterations into chained MATERIALIZED CTEs
  * (float 6dp-rounded — the damped iteration is a contraction, so
  * summation-order noise cannot amplify).
  */
object GraphQueries {

  private val transitionsSql =
    """SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
      |       lag(l.l_suppkey) OVER (PARTITION BY o.o_custkey
      |         ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber,
      |                  l.l_suppkey) AS prev
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin

  private val edgesSql =
    s"""SELECT prev AS src, supp AS dst, count(*)::DOUBLE AS w
       |FROM ($transitionsSql) WHERE prev IS NOT NULL AND prev <> supp
       |GROUP BY 1, 2""".stripMargin

  /** Every query in this tier derives the same transition edge list
    * (lineitem ⋈ orders + the jump window), and three of them reduce it
    * to the same top-5 backbone: one memoized checkpoint-backed build
    * each per session ([[QueryMemo]] — the staged-table pattern; each
    * query stays standalone-correct). The memo calls are strictly
    * sequential — `edgesMemo` is resolved BEFORE the backbone build
    * starts, never from inside it. */
  private def edgesMemo(s: org.apache.spark.sql.SparkSession, d: String) =
    QueryMemo.frame(s, d, "graph_edges") {
      Graph.supplierTransitions(Tables.lineitem(s, d), Tables.orders(s, d))
    }

  private def backboneMemo(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = edgesMemo(s, d)
    QueryMemo.frame(s, d, "graph_backbone")(Graph.backbone(e, k = 5))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- g1: the transition matrix (edge weights + P(dst|src)) ----
    QueryDef("g1_transition_matrix",
      (s, d) => {
        val edges = edgesMemo(s, d)
        Graph.transitionMatrix(edges)
          .select(col("src"), col("dst"), col("w").cast("long").as("w"),
            round(col("p"), 6).as("p"))
          .orderBy("src", "dst")
      },
      Some(s"""WITH edges AS MATERIALIZED ($edgesSql),
              |wout AS (SELECT src, sum(w) AS wout FROM edges GROUP BY 1)
              |SELECT e.src, e.dst, e.w::BIGINT AS w, round(e.w / o.wout, 6) AS p
              |FROM edges e JOIN wout o ON e.src = o.src
              |ORDER BY e.src, e.dst""".stripMargin)),

    // ---- g2: weighted PageRank with dangling redistribution, 15 fixed
    // iterations (one Spark job per round folds the edges against the
    // driver-held rank vector) ----
    QueryDef("g2_pagerank",
      (s, d) => {
        val edges = edgesMemo(s, d)
        val nodes = Tables.supplier(s, d).select(col("s_suppkey").as("node"))
        // the rank vector lives on the driver: this graph is
        // supplier-count-sized, so it fits there many times over
        Graph.pagerank(nodes, edges, iters = 15, damping = 0.85)
          .select(col("node"), round(col("r"), 6).as("pagerank"))
          .orderBy("node")
      },
      Some(Graph.pagerankOracleSql(iters = 15, damping = 0.85))),

    // ---- g3: strong-ties components — threshold the transition
    // probability, then connected components (llm/Dedup.connectedComponents:
    // the supplier-sized edge set fits the broadcast budget, so a driver
    // union-find finishes it; above the budget, O(log n) large-star/
    // small-star rounds); oracle = the dd6-style recursive-CTE transitive
    // closure over the same edges. At the sf0.1 bench scale no edge
    // reaches p >= 0.05 (every supplier is its own component), so the
    // query's bench time there is `transitionMatrix` alone and measures
    // nothing of the components code ----
    QueryDef("g3_strong_components",
      (s, d) => {
        val edges = Graph.transitionMatrix(edgesMemo(s, d))
          .filter(col("p") >= 0.05)
          .select("src", "dst")
        val nodes = Tables.supplier(s, d).select(col("s_suppkey").as("node"))
        Dedup.labelComponents(nodes, "node", edges)
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE edges0 AS ($edgesSql),
              |wout AS (SELECT src, sum(w) AS wout FROM edges0 GROUP BY 1),
              |strong AS (SELECT e.src, e.dst FROM edges0 e
              |           JOIN wout o ON e.src = o.src WHERE e.w / o.wout >= 0.05),
              |sym AS (SELECT src AS u, dst AS v FROM strong WHERE src <> dst
              |        UNION SELECT dst, src FROM strong WHERE src <> dst),
              |reach AS (
              |  SELECT u, v FROM sym
              |  UNION
              |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u),
              |comp AS (SELECT u AS node, least(u, min(v)) AS component
              |         FROM reach GROUP BY u)
              |SELECT n.s_suppkey AS node, coalesce(c.component, n.s_suppkey) AS component
              |FROM supplier n LEFT JOIN comp c ON n.s_suppkey = c.node
              |ORDER BY node""".stripMargin)),

    // ---- g7: personalized PageRank — teleport to one seed company, so
    // ranks measure every node's relevance TO that company through the
    // movement flows (same machinery as g2, indicator teleport). The
    // seed must be a listed node: suppliers are numbered from 0 ----
    QueryDef("g7_personalized_pagerank",
      (s, d) => {
        val edges = edgesMemo(s, d)
        val nodes = Tables.supplier(s, d).select(col("s_suppkey").as("node"))
        Graph.pagerank(nodes, edges, iters = 15, damping = 0.85, teleportTo = Some(0L))
          .select(col("node"), round(col("r"), 6).as("ppr"))
          .orderBy("node")
      },
      Some(Graph.pagerankOracleSql(iters = 15, damping = 0.85, teleportTo = Some(0L))
        .replace("AS pagerank", "AS ppr"))),

    // ---- g6: company similarity by shared workforce (set-Jaccard over
    // per-person candidate pairs — never a companies² self-join) ----
    QueryDef("g6_coemployment_similarity",
      (s, d) => {
        val membership = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("person"), col("l_suppkey").as("company"))
        Graph.coEmploymentSimilarity(membership, "person", "company", minShared = 3)
          .orderBy("c", "c2")
      },
      Some("""WITH m AS MATERIALIZED (
             |  SELECT DISTINCT o.o_custkey AS p, l.l_suppkey AS c
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
             |sizes AS (SELECT c, count(*) AS n FROM m GROUP BY 1),
             |shared AS (
             |  SELECT a.c AS c, b.c AS c2, count(*) AS shared
             |  FROM m a JOIN m b ON a.p = b.p AND a.c < b.c
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT s.c, s.c2, s.shared, s1.n AS n1, s2.n AS n2,
             |       round(s.shared / (s1.n + s2.n - s.shared), 6) AS jaccard
             |FROM shared s JOIN sizes s1 ON s.c = s1.c JOIN sizes s2 ON s.c2 = s2.c
             |ORDER BY s.c, s.c2""".stripMargin)),

    // ---- g5: single-source BFS hop distances (frontier expansion, one
    // equi-join + anti-join per round, diameter-bounded) ----
    QueryDef("g5_bfs_hops",
      (s, d) => {
        val edges = edgesMemo(s, d).select("src", "dst")
        val nodes = Tables.supplier(s, d).select(col("s_suppkey").as("node"))
        Graph.bfsHops(nodes, edges, seed = 0L).orderBy("node")
      },
      Some(Graph.bfsOracleSql(seed = 0L))),

    // ---- g4: degree centrality (in/out degree + strength) ----
    QueryDef("g4_degree_centrality",
      (s, d) => {
        val edges = edgesMemo(s, d)
        val nodes = Tables.supplier(s, d).select(col("s_suppkey").as("node"))
        Graph.degrees(nodes, edges)
          .select(col("node"), col("out_deg"), col("in_deg"),
            col("out_w").cast("long").as("out_w"), col("in_w").cast("long").as("in_w"))
          .orderBy("node")
      },
      Some(s"""WITH edges AS MATERIALIZED ($edgesSql),
              |o AS (SELECT src AS node, count(*) AS out_deg, sum(w)::BIGINT AS out_w
              |      FROM edges GROUP BY 1),
              |i AS (SELECT dst AS node, count(*) AS in_deg, sum(w)::BIGINT AS in_w
              |      FROM edges GROUP BY 1)
              |SELECT n.s_suppkey AS node,
              |       coalesce(o.out_deg, 0) AS out_deg, coalesce(i.in_deg, 0) AS in_deg,
              |       coalesce(o.out_w, 0) AS out_w, coalesce(i.in_w, 0) AS in_w
              |FROM supplier n LEFT JOIN o ON n.s_suppkey = o.node
              |                LEFT JOIN i ON n.s_suppkey = i.node
              |ORDER BY node""".stripMargin)),

    // ---- g9: 3-core of the top-5 tie backbone — iterative peel (degree
    // < 3 nodes deleted with their edges until fixpoint), fixed 8 rounds
    // so the unique core replays as unrolled CTEs in the oracle ----
    QueryDef("g9_kcore",
      (s, d) => {
        Graph.kcore(Tables.supplier(s, d).select(col("s_suppkey").as("node")),
            backboneMemo(s, d), k = 3)
          .orderBy("node")
      },
      Some(Graph.kcoreOracleSql(k = 3))),

    // ---- g10: label-propagation communities on the top-5 tie backbone —
    // 6 fixed synchronous rounds, heaviest-neighbor-label argmax with
    // smallest-label tiebreak (vote sums are integer-valued doubles, so
    // ties are engine-exact); rounds unroll into the oracle like g2's ----
    QueryDef("g10_label_propagation",
      (s, d) => {
        Graph.labelPropagation(
            Tables.supplier(s, d).select(col("s_suppkey").as("node")),
            // the label vector fits on the driver (see g2)
            backboneMemo(s, d), iters = 6)
          .select(col("node"), col("label").as("community"))
          .orderBy("node")
      },
      Some(Graph.labelPropagationOracleSql(
        s"""SELECT src, dst, w FROM (
           |  SELECT e.*, row_number() OVER (PARTITION BY src
           |    ORDER BY w DESC, dst) AS rk
           |  FROM ($edgesSql) e) WHERE rk <= 5""".stripMargin,
        "SELECT s_suppkey AS node FROM supplier", iters = 6))),

    // ---- g11: HITS hubs & authorities — 8 fixed L1-normalized rounds of
    // the mutual power iteration (auth = in-flow of hub mass, hub =
    // out-flow of auth mass: which companies feed talent everywhere vs
    // absorb it from everywhere); rounds unroll into the oracle like
    // g2's, two MATERIALIZED CTEs per round ----
    QueryDef("g11_hits",
      (s, d) => {
        val edges = edgesMemo(s, d)
        val nodes = Tables.supplier(s, d).select(col("s_suppkey").as("node"))
        // the hub/authority vectors fit on the driver (see g2)
        Graph.hits(nodes, edges, iters = 8)
          .select(col("node"), round(col("hub"), 6).as("hub"),
            round(col("auth"), 6).as("auth"))
          .orderBy("node")
      },
      Some(Graph.hitsOracleSql(iters = 8))),

    // ---- g12: whole-graph structure summary — density, reciprocity
    // (career flows running both ways), degree assortativity (hubs
    // wiring to hubs vs periphery); every output an aggregate, degree
    // dim broadcast, reciprocity ONE reversed-key equi-join ----
    QueryDef("g12_graph_summary",
      (s, d) => Graph.summary(
        Tables.supplier(s, d).select(col("s_suppkey").as("node")),
        edgesMemo(s, d)),
      Some(Graph.summaryOracleSql())),

    // ---- g8: per-node triangle counts + clustering coefficient via
    // degree-ordered orientation (each triangle counted once as a wedge
    // from its lowest-order corner closed by an oriented edge; hub nodes
    // generate no wedges, so candidate volume stays subquadratic).
    // Counted on the top-5 tie-strength BACKBONE: the raw transition
    // graph densifies toward a clique as observations accumulate (69%
    // complete at sf0.1 — every clustering coefficient → 1, and triangle
    // volume → n³), so the structural measure lives on the strongest-ties
    // graph, where wedge volume is bounded by n·k². ----
    QueryDef("g8_triangles",
      (s, d) => {
        Graph.triangles(backboneMemo(s, d)).orderBy("node")
      },
      Some(s"""WITH edges0 AS MATERIALIZED ($edgesSql),
              |edges AS (
              |  SELECT src, dst, w FROM (
              |    SELECT *, row_number() OVER (PARTITION BY src
              |             ORDER BY w DESC, dst) AS rk FROM edges0)
              |  WHERE rk <= 5),
              |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              |        FROM edges WHERE src <> dst),
              |deg AS (SELECT n, count(*) AS deg FROM (
              |          SELECT u AS n FROM und UNION ALL SELECT v FROM und)
              |        GROUP BY 1),
              |orient AS (
              |  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS a,
              |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS b
              |  FROM und e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
              |ob AS MATERIALIZED (
              |  SELECT o.a, o.b, d.deg AS db FROM orient o JOIN deg d ON d.n = o.b),
              |tri AS (
              |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
              |  FROM ob e1 JOIN ob e2 ON e1.a = e2.a
              |    AND (e1.db, e1.b) < (e2.db, e2.b)
              |  JOIN ob e3 ON e3.a = e1.b AND e3.b = e2.b),
              |t AS (SELECT n, count(*) AS triangles FROM (
              |        SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
              |        UNION ALL SELECT z FROM tri)
              |      GROUP BY 1)
              |SELECT d.n AS node, coalesce(t.triangles, 0)::BIGINT AS triangles,
              |       d.deg::BIGINT AS degree,
              |       round(CASE WHEN d.deg > 1
              |             THEN 2.0 * coalesce(t.triangles, 0) / (d.deg * (d.deg - 1))
              |             ELSE 0.0 END, 6) AS clustering
              |FROM deg d LEFT JOIN t ON t.n = d.n
              |ORDER BY node""".stripMargin))
  )
}
