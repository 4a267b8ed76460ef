package graft.graph

import graft.Ckpt._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Workforce-movement graph analytics.
  *
  * The reference is literally a property graph of people moving between
  * companies (SURVEY §1.1: person/company nodes, WORKED_FOR/JUMP edges,
  * GetWeta.py:646-657 builds person→jump→company paths). Its serving layer
  * only ever asks 1-hop questions, but the natural next analytic over the
  * same data is the *company transition graph*: nodes = companies, edge
  * (a→b) weighted by how many career moves went a→b. This module derives
  * that graph with the same window machinery as the jump engine
  * (analytics/Jumps.scala) and adds the classic graph measures — degree
  * centrality, weighted PageRank, connected components (shared with
  * llm/Dedup's large-star/small-star implementation).
  *
  * Scale design:
  *   - Edge derivation is the W1/W2 jump pattern: one hash partition by
  *     person + local sort, then lag(); only (person, company) pairs
  *     shuffle. No self-joins.
  *   - The iterative loops (pagerank, label propagation, HITS) keep the
  *     node vector on the driver as a dense array over the sorted node
  *     ids ([[EdgeBlocks]]): the edge list is packed and persisted once
  *     per call, and each round is one Spark job that folds the edges
  *     against the broadcast vector, one partial per node per task. The
  *     precondition is that the node vector fits on the driver: it passes
  *     through the driver every round. The graphs here are company-sized
  *     (a few hundred canonical studios in DWW, one node per supplier in
  *     the registry), so it fits many times over.
  */
object Graph {

  /** Consecutive-supplier transitions per customer: the company-transition
    * edge list. Mirrors Jumps.jumpsOnly's lag-per-person shape
    * (dwwApi.js:100-107) with customers ≙ people and suppliers ≙ studios;
    * the total order inside a customer is (order date, order key, line
    * number, supplier) — the testdata carries duplicate (order key, line
    * number) rows, so the supplier tiebreak is what makes the lag
    * deterministic across engines. */
  def supplierTransitions(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val seq = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"),
        col("o_orderdate"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy("cust")
      .orderBy("o_orderdate", "l_orderkey", "l_linenumber", "supp")
    seq.withColumn("prev", lag(col("supp"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("supp"))
      .groupBy(col("prev").as("src"), col("supp").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
  }

  /** Transition probabilities: P(dst | src) = w / Σ_dst w. The per-src
    * normalizer is a reused aggregate joined back (src cardinality =
    * company count, so the join side is dim-sized and broadcastable). */
  def transitionMatrix(edges: DataFrame): DataFrame = {
    val wout = edges.groupBy("src").agg(sum("w").as("wout"))
    edges.join(broadcast(wout), "src")
      .select(col("src"), col("dst"), col("w"), (col("w") / col("wout")).as("p"))
  }

  /** In/out degree + strength per node (full outer across directions so
    * pure sources/sinks keep a row). */
  def degrees(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"), sum("w").as("out_w"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"), sum("w").as("in_w"))
    nodes.join(broadcast(out), Seq("node"), "left")
      .join(broadcast(in), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_w"), lit(0.0)).as("out_w"),
        coalesce(col("in_w"), lit(0.0)).as("in_w"))
  }

  /** Weighted PageRank with dangling-mass redistribution, fixed iteration
    * count (deterministic — no convergence-dependent early exit, so the
    * result is a pure function of the graph and both engines can replay
    * it). r(v) ← (1−d)/N + d·(Σ_{u→v} r(u)·w(u,v)/wout(u) + dangling/N).
    * An edge whose dst is null or not a listed node counts in wout(u), and
    * its share is lost, as in the oracle's `LEFT JOIN nodes`.
    *
    * The rank vector lives on the driver ([[EdgeBlocks]]). One job sums
    * each node's out-weight, then each round is one job: the contrib fold
    * over the persisted edge blocks against the broadcast r/wout vector.
    * Teleport, dangling mass and the next-rank arithmetic are node-sized
    * driver work. With `teleportTo` (personalized PageRank) the teleport
    * vector is the indicator of that seed, which must be a listed node. */
  def pagerank(nodes: DataFrame, edges: DataFrame,
               iters: Int = 15, damping: Double = 0.85,
               teleportTo: Option[Long] = None): DataFrame = {
    val g = new EdgeBlocks(nodes, edges)
    try {
      val n = g.n
      val t = teleportTo match {
        case Some(sd) =>
          val k = g.index(sd)
          require(k >= 0, s"pagerank teleport seed $sd is not a listed node")
          Array.tabulate(n)(i => if (i == k) 1.0 else 0.0)
        case None => Array.fill(n)(1.0 / n)
      }
      val (wout, hasOut) = g.merge(g.outWeight())
      var r = t
      for (_ <- 1 to iters) {
        val x = Array.tabulate(n)(i => if (hasOut(i)) r(i) / wout(i) else 0.0)
        val (contrib, _) = g.merge(g.spread(x, reverse = false))
        val dm = (0 until n).iterator.filter(i => !hasOut(i)).map(i => r(i)).sum
        r = Array.tabulate(n)(v => (1 - damping) * t(v) + damping * (contrib(v) + dm * t(v)))
      }
      g.frame("r" -> r)
    } finally g.release()
  }

  /** Company similarity by shared workforce: Jaccard overlap of the
    * people sets of every company pair that shares at least one person.
    * This is the set-similarity view of the reference's company dedup
    * problem (two studio spellings that employ the same people are the
    * same studio) — dd5's n-gram Jaccard lifted from token sets to
    * entity sets.
    *
    * Scale shape: candidate pairs are generated per PERSON (a self-join
    * of each person's distinct company list — Σ_person k², bounded by
    * per-person breadth, never companies²); the two degree joins
    * broadcast the company-size dim. A person with pathological breadth
    * would be capped or MinHashed first — same knob as dd3. */
  def coEmploymentSimilarity(membership: DataFrame, person: String, company: String,
                             minShared: Long = 2): DataFrame = {
    // materialized once: three consumers (company sizes + both sides of
    // the co-membership self-join) would each re-derive the upstream
    // membership chain — at corpus scale that chain is a fact-table join
    val m = membership.select(col(person).as("p"), col(company).as("c")).distinct()
      .ckpt()
    val sizes = m.groupBy(col("c")).agg(count(lit(1)).as("n"))
    val shared = m.join(m.withColumnRenamed("c", "c2"), "p")
      .filter(col("c") < col("c2"))
      .groupBy(col("c"), col("c2")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(broadcast(sizes).withColumnRenamed("c", "sc").withColumnRenamed("n", "n1"),
        col("c") === col("sc"))
      .join(broadcast(sizes).withColumnRenamed("c", "sc2").withColumnRenamed("n", "n2"),
        col("c2") === col("sc2"))
      .select(col("c"), col("c2"), col("shared"), col("n1"), col("n2"),
        round(col("shared") / (col("n1") + col("n2") - col("shared")), 6).as("jaccard"))
  }

  /** Single-source BFS hop distances (frontier expansion): per round ONE
    * equi-join frontier⋈edges + an anti-join against the settled set —
    * the first discovery of a node is its shortest hop count, so no
    * min-reduction is needed. Rounds are bounded by the graph diameter
    * (and `maxIter` as a safety stop); lineage is truncated per round.
    * Unreached nodes keep a NULL distance. */
  def bfsHops(nodes: DataFrame, edges: DataFrame, seed: Long,
              maxIter: Int = 20): DataFrame = {
    // materialize the edge list once — every round joins it, and an
    // unpersisted edge derivation would re-run upstream per round
    val e = edges.select(col("src"), col("dst")).persist()
    var dist = nodes.filter(col("node") === seed)
      .select(col("node"), lit(0).as("hops")).ckpt()
    var frontier = dist
    var k = 0
    var done = frontier.isEmpty
    // frontier/settled sets are checkpoint-backed (no optimizer stats) and
    // node-bounded — broadcast them explicitly
    while (k < maxIter && !done) {
      k += 1
      val next = e.join(broadcast(frontier), frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(broadcast(dist), Seq("node"), "left_anti")
        .select(col("node"), lit(k).as("hops"))
        .ckpt()
      if (next.isEmpty) done = true
      else {
        dist = dist.union(next).ckpt()
        frontier = next
      }
    }
    val out = nodes.join(broadcast(dist), Seq("node"), "left")
      .select(nodes("node"), col("hops")).ckpt()
    e.unpersist()
    out
  }

  /** DuckDB oracle for [[bfsHops]]: a recursive CTE over (node, hops)
    * states — UNION dedupes states so the recursion terminates, the hops
    * bound mirrors maxIter, and min(hops) per node is the BFS distance. */
  def bfsOracleSql(seed: Long, maxIter: Int = 20): String =
    s"""WITH RECURSIVE seq AS (
       |  SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
       |         lag(l.l_suppkey) OVER (PARTITION BY o.o_custkey
       |           ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber,
       |                    l.l_suppkey) AS prev
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |edges AS (
       |  SELECT prev AS src, supp AS dst FROM seq
       |  WHERE prev IS NOT NULL AND prev <> supp GROUP BY 1, 2),
       |walk AS (
       |  SELECT $seed::BIGINT AS node, 0 AS hops
       |  UNION
       |  SELECT e.dst, w.hops + 1 FROM walk w JOIN edges e ON w.node = e.src
       |  WHERE w.hops < $maxIter)
       |SELECT n.s_suppkey AS node, min(w.hops)::INT AS hops
       |FROM supplier n LEFT JOIN walk w ON n.s_suppkey = w.node
       |GROUP BY 1 ORDER BY node""".stripMargin

  /** Unrolled DuckDB oracle for [[pagerank]] over the supplier transition
    * graph. Fixed iterations unroll into chained CTEs; MATERIALIZED is
    * load-bearing — each prK is referenced three times by prK+1, so
    * without it DuckDB inlines the chain exponentially. Arithmetic
    * mirrors the Spark side exactly; the trailing round(6) absorbs
    * summation-order ulps (the iteration is a 0.85-contraction, so float
    * noise stays bounded). */
  def pagerankOracleSql(iters: Int = 15, damping: Double = 0.85,
                        teleportTo: Option[Long] = None): String = {
    // teleport term: uniform 1/n, or the seed indicator (personalized)
    val t = teleportTo
      .map(sd => s"(CASE WHEN nd.node = $sd THEN 1.0 ELSE 0.0 END)")
      .getOrElse("(1.0/(SELECT n FROM nn))")
    val t0 = teleportTo
      .map(sd => s"(CASE WHEN node = $sd THEN 1.0 ELSE 0.0 END)")
      .getOrElse("(1.0/(SELECT n FROM nn))")
    val base = s"""
      |WITH seq AS MATERIALIZED (
      |  SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
      |         lag(l.l_suppkey) OVER (PARTITION BY o.o_custkey
      |           ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber,
      |                    l.l_suppkey) AS prev
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT prev AS src, supp AS dst, count(*)::DOUBLE AS w
      |  FROM seq WHERE prev IS NOT NULL AND prev <> supp GROUP BY 1, 2),
      |nodes AS MATERIALIZED (SELECT s_suppkey AS node FROM supplier),
      |nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
      |wout AS MATERIALIZED (SELECT src, sum(w) AS wout FROM edges GROUP BY 1),
      |pr0 AS MATERIALIZED (SELECT node, $t0 AS r FROM nodes)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""",
         |pr$k AS MATERIALIZED (
         |  SELECT nd.node,
         |    (1 - $damping) * $t
         |    + $damping * (COALESCE(c.contrib, 0)
         |        + (SELECT COALESCE(sum(p.r), 0) FROM pr${k - 1} p
         |           LEFT JOIN wout w ON p.node = w.src WHERE w.src IS NULL)
         |          * $t) AS r
         |  FROM nodes nd
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r * e.w / w.wout) AS contrib
         |    FROM edges e JOIN pr${k - 1} p ON e.src = p.node
         |    JOIN wout w ON e.src = w.src
         |    GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin
    }.mkString
    base + steps +
      s"\nSELECT node, round(r, 6) AS pagerank FROM pr$iters ORDER BY node"
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the weighted directed
    * graph: auth(v) ∝ Σ_{u→v} w·hub(u), hub(u) ∝ Σ_{u→v} w·auth(v), each
    * half-step L1-normalized. A fixed round count (no convergence test)
    * makes the run a pure function of the graph, so the rounds unroll
    * into a DuckDB oracle exactly like pagerank's; the mutual-recursion
    * power iteration is a contraction toward the principal eigenvectors
    * of AᵀA / AAᵀ, so summation-order float noise stays bounded and a
    * trailing 6dp round absorbs it. Only the edges between listed nodes
    * count: an edge with a null or unlisted endpoint is dropped.
    *
    * The hub and authority vectors live on the driver ([[EdgeBlocks]])
    * and each half-step is one job: the fold of the persisted edge blocks
    * against the broadcast vector; the L1 normalizer is driver arithmetic.
    * A node no edge reaches in a half-step scores 0.0, so when no edge
    * joins two listed nodes every hub and authority is 0.0. */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1, s"hits needs at least one iteration, got $iters")
    val g = new EdgeBlocks(nodes, edges)
    try {
      def halfStep(x: Array[Double], reverse: Boolean): Array[Double] = {
        val (v, hit) = g.merge(g.spread(x, reverse))
        val total = v.sum
        Array.tabulate(g.n)(i => if (hit(i)) v(i) / total else 0.0)
      }
      var hub = Array.fill(g.n)(1.0)
      var auth = hub
      for (_ <- 1 to iters) {
        auth = halfStep(hub, reverse = false)
        hub = halfStep(auth, reverse = true)
      }
      g.frame("hub" -> hub, "auth" -> auth)
    } finally g.release()
  }

  /** Unrolled DuckDB oracle for [[hits]] over the supplier transition
    * graph — chained MATERIALIZED CTEs, two per round (auth then hub),
    * mirroring the Spark arithmetic exactly. Like [[hits]] it reads only
    * the edges between listed nodes (`listed`). */
  def hitsOracleSql(iters: Int = 8): String = {
    val base = s"""
      |WITH seq AS MATERIALIZED (
      |  SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
      |         lag(l.l_suppkey) OVER (PARTITION BY o.o_custkey
      |           ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber,
      |                    l.l_suppkey) AS prev
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT prev AS src, supp AS dst, count(*)::DOUBLE AS w
      |  FROM seq WHERE prev IS NOT NULL AND prev <> supp GROUP BY 1, 2),
      |nodes AS MATERIALIZED (SELECT s_suppkey AS node FROM supplier),
      |listed AS MATERIALIZED (
      |  SELECT * FROM edges
      |  WHERE src IN (SELECT node FROM nodes) AND dst IN (SELECT node FROM nodes)),
      |h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""",
         |ac$k AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(e.w * h.hub) AS v
         |  FROM listed e JOIN h${k - 1} h ON e.src = h.node GROUP BY 1),
         |a$k AS MATERIALIZED (
         |  SELECT n.node, COALESCE(c.v, 0) / (SELECT sum(v) FROM ac$k) AS auth
         |  FROM nodes n LEFT JOIN ac$k c ON n.node = c.node),
         |hc$k AS MATERIALIZED (
         |  SELECT e.src AS node, sum(e.w * a.auth) AS v
         |  FROM listed e JOIN a$k a ON e.dst = a.node GROUP BY 1),
         |h$k AS MATERIALIZED (
         |  SELECT n.node, COALESCE(c.v, 0) / (SELECT sum(v) FROM hc$k) AS hub
         |  FROM nodes n LEFT JOIN hc$k c ON n.node = c.node)""".stripMargin
    }.mkString
    base + steps +
      s"""
         |SELECT h.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
         |FROM h$iters h JOIN a$iters a ON h.node = a.node ORDER BY h.node""".stripMargin
  }

  /** Synchronous label propagation (Raghavan et al. 2007) made fully
    * deterministic: every node starts labeled with its own id; each round
    * it adopts the label with the greatest total incident edge weight
    * among its neighbors, ties broken by the SMALLEST label. A fixed
    * round count (not convergence) keeps the run — including any
    * bipartite oscillation — bit-reproducible, so the rounds unroll into
    * a DuckDB oracle exactly like pagerank's. Edge weights are integer
    * counts, so vote sums are exact in doubles and the tiebreak can never
    * diverge across engines.
    *
    * The label vector lives on the driver ([[EdgeBlocks]]) as node
    * indices (sorted ids, so the smallest label is the smallest index)
    * and each round is one job: each task sums its edges' votes per
    * (node, neighbour label) in both directions, and the driver merges
    * them and takes the argmax. Only edges between listed nodes vote; a
    * node with none keeps its own id. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, iters: Int = 6): DataFrame = {
    val g = new EdgeBlocks(nodes, edges)
    try {
      var label = Array.tabulate(g.n)(identity)
      for (_ <- 1 to iters) {
        val weight = scala.collection.mutable.LongMap.empty[Double]
        for (p <- g.votes(label); i <- p.keys.indices)
          weight(p.keys(i)) = weight.getOrElse(p.keys(i), 0.0) + p.v(i)
        // a node without votes has no edges: it keeps its own label
        val next = Array.tabulate(g.n)(identity)
        val best = Array.fill(g.n)(Double.NegativeInfinity)
        weight.foreach { case (k, w) =>
          val (v, l) = ((k >>> 32).toInt, k.toInt)
          if (w > best(v) || (w == best(v) && l < next(v))) {
            best(v) = w; next(v) = l
          }
        }
        label = next
      }
      g.frame("label" -> label.map(i => g.ids(i)))
    } finally g.release()
  }

  /** DuckDB oracle for [[labelPropagation]]: rounds unrolled into chained
    * MATERIALIZED CTEs; argmax via row_number (weight desc, label asc). */
  def labelPropagationOracleSql(edgesSql: String, nodesSql: String,
                                iters: Int = 6): String = {
    val base =
      s"""WITH edges AS MATERIALIZED ($edgesSql),
         |und AS MATERIALIZED (
         |  SELECT src, dst, sum(w)::DOUBLE AS w FROM (
         |    SELECT src, dst, w FROM edges
         |    UNION ALL SELECT dst, src, w FROM edges)
         |  GROUP BY 1, 2),
         |nodes AS MATERIALIZED ($nodesSql),
         |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |v$i AS (SELECT u.src AS nd, l.label, sum(u.w) AS wv
         |       FROM und u JOIN l${i - 1} l ON u.dst = l.node GROUP BY 1, 2),
         |w$i AS (SELECT nd, label FROM (
         |        SELECT nd, label,
         |               row_number() OVER (PARTITION BY nd
         |                 ORDER BY wv DESC, label ASC) AS rk
         |        FROM v$i) WHERE rk = 1),
         |l$i AS MATERIALIZED (
         |  SELECT n.node, coalesce(w.label, n.node) AS label
         |  FROM nodes n LEFT JOIN w$i w ON n.node = w.nd)""".stripMargin
    }.mkString
    base + steps +
      s"\nSELECT node, label AS community FROM l$iters ORDER BY node"
  }

  /** Whole-graph structure summary: node/edge counts, directed density,
    * reciprocity (fraction of directed edges whose reverse also exists —
    * do career flows run both ways between company pairs?), and degree
    * assortativity (Pearson correlation of endpoint degrees over the
    * symmetrized edge list — do big hubs connect to other hubs or to the
    * periphery?). One row out.
    *
    * Scale shape: degree is a node-sized dim (broadcast into both
    * endpoint joins), reciprocity is ONE self-equi-join on the reversed
    * key, and every output is an aggregate — nothing driver-side, no
    * all-pairs anything. Zero-variance degree sequences (regular graphs)
    * make the correlation undefined: both engines emit NULL (Spark's NaN
    * is mapped via nanvl, matching DuckDB's corr). */
  def summary(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
      .distinct().ckpt() // referenced 4x below (counts, recip x2, und)
    val nN = nodes.select(col("node")).agg(count(lit(1)).as("n_nodes"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    val recip = e.as("a").join(e.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .agg(count(lit(1)).as("recip_edges"))
    val und = e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    val sym = und.unionByName(und.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    // corr() under ANSI mode throws DIVIDE_BY_ZERO on a zero-variance
    // degree sequence (regular graphs); build Pearson from its guarded
    // parts instead — DuckDB's corr returns NULL there, and so do we
    val assort = sym
      .join(broadcast(deg.select(col("n").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("n").as("v"), col("deg").as("dv"))), "v")
      .agg(covar_samp(col("du").cast("double"), col("dv").cast("double")).as("c"),
        stddev_samp(col("du").cast("double")).as("s1"),
        stddev_samp(col("dv").cast("double")).as("s2"))
      .select(when(col("s1").isNull || col("s2").isNull ||
          col("s1") * col("s2") === 0, lit(null).cast("double"))
        .otherwise(col("c") / (col("s1") * col("s2"))).as("r"))
    // degenerate graphs (no edges / < 2 nodes) yield NULL ratios, not a
    // DIVIDE_BY_ZERO under ANSI mode
    nN.crossJoin(broadcast(nE)).crossJoin(broadcast(recip)).crossJoin(broadcast(assort))
      .select(col("n_nodes"), col("n_edges"),
        round(when(col("n_nodes") > 1, col("n_edges").cast("double") /
          (col("n_nodes") * (col("n_nodes") - 1))), 6).as("density"),
        round(when(col("n_edges") > 0,
          col("recip_edges").cast("double") / col("n_edges")), 6).as("reciprocity"),
        round(nanvl(col("r"), lit(null).cast("double")), 6).as("assortativity"))
  }

  /** DuckDB oracle for [[summary]] over the supplier transition graph. */
  def summaryOracleSql(): String =
    s"""WITH seq AS MATERIALIZED (
       |  SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
       |         lag(l.l_suppkey) OVER (PARTITION BY o.o_custkey
       |           ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber,
       |                    l.l_suppkey) AS prev
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT prev AS src, supp AS dst
       |  FROM seq WHERE prev IS NOT NULL AND prev <> supp),
       |nn AS (SELECT count(*)::BIGINT AS n_nodes FROM supplier),
       |ne AS (SELECT count(*)::BIGINT AS n_edges FROM e),
       |rc AS (SELECT count(*)::BIGINT AS recip_edges
       |       FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e),
       |sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT u AS n, count(*)::BIGINT AS deg FROM sym GROUP BY 1),
       |ar AS (SELECT corr(du.deg::DOUBLE, dv.deg::DOUBLE) AS r
       |       FROM sym s JOIN deg du ON s.u = du.n JOIN deg dv ON s.v = dv.n)
       |SELECT nn.n_nodes, ne.n_edges,
       |       round(ne.n_edges / (nn.n_nodes * (nn.n_nodes - 1.0)), 6) AS density,
       |       round(rc.recip_edges / ne.n_edges::DOUBLE, 6) AS reciprocity,
       |       round(ar.r, 6) AS assortativity
       |FROM nn, ne, rc, ar""".stripMargin

  /** Tie-strength backbone: each node keeps its `k` strongest outgoing
    * edges (weight desc, dst asc tiebreak — fully deterministic). The raw
    * transition graph densifies toward a clique as observation volume
    * grows (at sf0.1 the supplier graph is already 69% complete, and every
    * clustering coefficient degenerates toward 1), so structural measures
    * like triangles are computed on the backbone — the standard
    * backbone-extraction step. One window over edges partitioned by src:
    * a single shuffle, no driver involvement, k bounds every node's
    * out-degree so downstream wedge volume is ≤ n·k². */
  def backbone(edges: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("src").orderBy(desc("w"), asc("dst"))
    edges.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** k-core membership by iterative peeling: repeatedly delete nodes of
    * degree < k (with their edges) until fixpoint — the classic coreness
    * screen for "embedded in a dense mesh" vs "peripheral". The k-core is
    * UNIQUE (peel order never matters), so a fixed round count `rounds`
    * ≥ the peel depth reproduces it deterministically, and the rounds
    * unroll into a DuckDB oracle exactly like pagerank's.
    *
    * Per round: one degree aggregate + two semi-joins against the
    * surviving-node set (node-cardinality — broadcast), lineage truncated
    * per round. Edge volume only shrinks, so round cost is bounded by the
    * first round. */
  def kcore(nodes: DataFrame, edges: DataFrame, k: Int,
            rounds: Int = 8): DataFrame = {
    var und = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct().ckpt()
    // Early exit on convergence is oracle-safe: peeling is idempotent at
    // the fixpoint, so running the remaining unrolled oracle rounds on a
    // converged edge set changes nothing. The count is on the checkpointed
    // set — a cached-partition sum, not a recompute.
    var prev = und.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("n").ckpt()
      und = und
        .join(broadcast(keep).select(col("n").as("u")), Seq("u"), "left_semi")
        .join(broadcast(keep).select(col("n").as("v")), Seq("v"), "left_semi")
        .ckpt()
      val cur = und.count()
      converged = cur == prev
      prev = cur
    }
    val coreDeg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("core_degree"))
    nodes.join(broadcast(coreDeg), nodes("node") === coreDeg("n"), "left")
      .select(col("node"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        col("n").isNotNull.as("in_core"))
  }

  /** Unrolled DuckDB oracle for [[kcore]] over the top-`bk` backbone of
    * the supplier transition graph (the same fixed-round replay technique
    * as [[pagerankOracleSql]]). */
  def kcoreOracleSql(k: Int, rounds: Int = 8, bk: Int = 5): String = {
    val base = s"""
      |WITH seq AS MATERIALIZED (
      |  SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
      |         lag(l.l_suppkey) OVER (PARTITION BY o.o_custkey
      |           ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber,
      |                    l.l_suppkey) AS prev
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |edges0 AS MATERIALIZED (
      |  SELECT prev AS src, supp AS dst, count(*)::DOUBLE AS w
      |  FROM seq WHERE prev IS NOT NULL AND prev <> supp GROUP BY 1, 2),
      |bb AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT *, row_number() OVER (PARTITION BY src
      |             ORDER BY w DESC, dst) AS rk FROM edges0)
      |  WHERE rk <= $bk),
      |und0 AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM bb WHERE src <> dst)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
         |keep$r AS MATERIALIZED (
         |  SELECT n FROM (SELECT n, count(*) AS deg FROM (
         |      SELECT u AS n FROM und${r - 1} UNION ALL SELECT v FROM und${r - 1})
         |    GROUP BY 1) WHERE deg >= $k),
         |und$r AS MATERIALIZED (
         |  SELECT u, v FROM und${r - 1}
         |  WHERE u IN (SELECT n FROM keep$r) AND v IN (SELECT n FROM keep$r))""".stripMargin
    }.mkString
    base + steps + s""",
      |cd AS (SELECT n, count(*) AS core_degree FROM (
      |    SELECT u AS n FROM und$rounds UNION ALL SELECT v FROM und$rounds)
      |  GROUP BY 1)
      |SELECT s.s_suppkey AS node, coalesce(cd.core_degree, 0)::BIGINT AS core_degree,
      |       cd.n IS NOT NULL AS in_core
      |FROM supplier s LEFT JOIN cd ON s.s_suppkey = cd.n
      |ORDER BY node""".stripMargin
  }

  /** Per-node triangle counts + local clustering coefficient via
    * degree-ordered orientation (the compact-forward / Latapy 2008
    * scheme MapReduce triangle counting inherits): every undirected edge
    * is oriented from the lower to the higher endpoint in the total order
    * (degree, id), turning the graph into a DAG where each triangle
    * {x<y<z} appears as exactly one wedge (x→y, x→z) closed by (y→z).
    *
    * Scale shape: wedge generation self-joins the ORIENTED edge list on
    * its source, so a node generates outdeg² wedge candidates with
    * outdeg bounded by O(√m) under degree ordering — the hub that would
    * make naive wedge counting quadratic (a 10⁶-degree celebrity node)
    * points all its edges AT itself and generates none. Both the wedge
    * join and the closing-edge join are equi-joins on node keys; nothing
    * is ever all-pairs. The degree-table joins use explicit broadcast()
    * because deg is NODE-cardinality — company-scale (dim-sized) for this
    * tier's transition graphs; a billion-node deployment would drop those
    * hints and take shuffled equi-joins (the checkpoint-backed deg
    * carries no stats, so the planner must be told either way). */
  def triangles(edges: DataFrame): DataFrame = {
    // the edge list is referenced by degree counting, orientation, the
    // wedge self-join AND the closure join — pin it once (the GraphX
    // materialize-the-graph pattern; without this every reference
    // re-derives the whole upstream edge pipeline: observed 15
    // exchanges / 23 joins in the audited plan vs 7/5 pinned)
    val und = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct().ckpt()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg")).ckpt()
    // degree is a node-cardinality dim — broadcast both endpoint joins
    val keyed = und
      .join(broadcast(deg).select(col("n").as("u"), col("deg").as("du")), "u")
      .join(broadcast(deg).select(col("n").as("v"), col("deg").as("dv")), "v")
    val oriented = keyed.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("a"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("b"))
      .join(broadcast(deg).select(col("n").as("b"), col("deg").as("db")), "b")
      .ckpt() // feeds both wedge sides and the closure probe
    val e1 = oriented.select(col("a"), col("b").as("y"), col("db").as("dy"))
    val e2 = oriented.select(col("a"), col("b").as("z"), col("db").as("dz"))
    val tri = e1.join(e2, Seq("a"))
      .filter(struct(col("dy"), col("y")) < struct(col("dz"), col("z")))
      .join(oriented.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
      .select(col("a").as("x"), col("y"), col("z"))
    val perNode = tri.select(col("x").as("n"))
      .union(tri.select(col("y").as("n")))
      .union(tri.select(col("z").as("n")))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        col("deg").as("degree"),
        round(when(col("deg") > 1,
            coalesce(col("triangles"), lit(0L)) * lit(2.0)
              / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
  }
}
