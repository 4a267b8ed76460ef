package graft.graph

import graft.SparkSpecBase
import graft.llm.Dedup
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  // customer 1: s1 → s1 → s2 → s1 (collapse the repeat, two transitions)
  // customer 2: s2 → s3            (one transition)
  // customer 3: s1 only            (no transition)
  private lazy val lineitem = Seq(
    (101L, 1, 1L), (101L, 2, 1L), (102L, 1, 2L), (103L, 1, 1L),
    (201L, 1, 2L), (202L, 1, 3L),
    (301L, 1, 1L)
  ).toDF("l_orderkey", "l_linenumber", "l_suppkey")

  private lazy val orders = Seq(
    (101L, 1L, ts("2020-01-01")), (102L, 1L, ts("2020-02-01")), (103L, 1L, ts("2020-03-01")),
    (201L, 2L, ts("2020-01-05")), (202L, 2L, ts("2020-01-06")),
    (301L, 3L, ts("2020-01-01"))
  ).toDF("o_orderkey", "o_custkey", "o_orderdate")

  test("supplierTransitions: consecutive pairs per customer, same-supplier runs collapse") {
    val edges = Graph.supplierTransitions(lineitem, orders)
      .orderBy("src", "dst").as[(Long, Long, Double)].collect()
    assert(edges.toSeq == Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (2L, 3L, 1.0)))
  }

  test("supplierTransitions: duplicate (orderkey, linenumber) rows order by supplier") {
    // two identical sort keys with suppliers 5 and 4 → the 4 comes first
    val li = Seq((1L, 1, 5L), (1L, 1, 4L)).toDF("l_orderkey", "l_linenumber", "l_suppkey")
    val od = Seq((1L, 9L, ts("2020-01-01"))).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val edges = Graph.supplierTransitions(li, od).as[(Long, Long, Double)].collect()
    assert(edges.toSeq == Seq((4L, 5L, 1.0)))
  }

  test("transitionMatrix: P(dst|src) normalizes per src") {
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 2.0)).toDF("src", "dst", "w")
    val m = Graph.transitionMatrix(edges).orderBy("src", "dst")
      .select("src", "dst", "p").as[(Long, Long, Double)].collect()
    assert(m.toSeq == Seq((1L, 2L, 0.75), (1L, 3L, 0.25), (2L, 1L, 1.0)))
  }

  test("degrees: in/out degree and strength, sources/sinks keep rows") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val edges = Seq((1L, 2L, 2.0), (1L, 3L, 1.0), (2L, 3L, 4.0)).toDF("src", "dst", "w")
    val d = Graph.degrees(nodes, edges).orderBy("node")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(d.toSeq == Seq(
      (1L, 2L, 0L, 3.0, 0.0), (2L, 1L, 1L, 4.0, 2.0),
      (3L, 0L, 2L, 0.0, 5.0), (4L, 0L, 0L, 0.0, 0.0)))
  }

  /** Independent driver-side power iteration with the same semantics:
    * uniform teleport, or the seed's indicator with `teleportTo`. */
  private def pagerankLocal(nodes: Seq[Long], edges: Seq[(Long, Long, Double)],
                            iters: Int, d: Double,
                            teleportTo: Option[Long] = None): Map[Long, Double] = {
    val n = nodes.size.toDouble
    val t = nodes.map(v => v -> teleportTo.fold(1.0 / n)(s => if (v == s) 1.0 else 0.0)).toMap
    val wout = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = t
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(wout.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => r(s) * w / wout(s) }.sum).toMap
      r = nodes.map(v =>
        v -> ((1 - d) * t(v) + d * (contrib.getOrElse(v, 0.0) + dangling * t(v)))).toMap
    }
    r
  }

  /** Local HITS (Graph.hits arithmetic): only edges between listed nodes
    * count, each half-step L1-normalizes over the nodes it reaches, and a
    * node no edge reaches scores 0.0. Returns (hub, auth) per node. */
  private def hitsLocal(nodes: Seq[Long], edges: Seq[(Long, Long, Double)],
                        iters: Int): Map[Long, (Double, Double)] = {
    val es = edges.filter(e => nodes.contains(e._1) && nodes.contains(e._2))
    def halfStep(x: Map[Long, Double], key: ((Long, Long, Double)) => Long,
                 from: ((Long, Long, Double)) => Long): Map[Long, Double] = {
      val v = es.groupBy(key).map { case (k, g) => k -> g.map(e => e._3 * x(from(e))).sum }
      val total = v.values.sum
      nodes.map(n => n -> v.get(n).fold(0.0)(_ / total)).toMap
    }
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = hub
    for (_ <- 1 to iters) {
      auth = halfStep(hub, _._2, _._1)
      hub = halfStep(auth, _._1, _._2)
    }
    nodes.map(n => n -> ((hub(n), auth(n)))).toMap
  }

  /** Local synchronous label propagation: vote = summed incident weight
    * per neighbour label over the edges between listed nodes; max weight,
    * ties to the smallest label; a node without votes keeps its id. */
  private def lpLocal(nodes: Seq[Long], edges: Seq[(Long, Long, Double)],
                      iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => nodes.contains(e._1) && nodes.contains(e._2))
      .flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      val votes = und.groupBy(_._1).map { case (n, g) =>
        val byLabel = g.groupBy(e => lab(e._2)).map { case (l, gg) => (l, gg.map(_._3).sum) }
        n -> byLabel.toSeq.sortBy { case (l, wv) => (-wv, l) }.head._1
      }
      lab = nodes.map(n => n -> votes.getOrElse(n, n)).toMap
    }
    lab
  }

  private def hitsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Double, Double)] =
    df.as[(Long, Double, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap

  private def assertHits(got: Map[Long, (Double, Double)], ref: Map[Long, (Double, Double)],
                         what: String): Unit = {
    assert(got.keySet === ref.keySet, what)
    ref.foreach { case (k, (hb, au)) =>
      assert(math.abs(got(k)._1 - hb) < 1e-12 && math.abs(got(k)._2 - au) < 1e-12,
        s"$what node $k: ${got(k)} vs ${(hb, au)}") }
  }

  test("pagerank matches an independent local power iteration (incl. dangling)") {
    // 4 nodes; node 4 is dangling (no out-edges); weighted edges
    val nodesSeq = Seq(1L, 2L, 3L, 4L)
    val edgesSeq = Seq((1L, 2L, 2.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 4L, 5.0))
    val expected = pagerankLocal(nodesSeq, edgesSeq, iters = 15, d = 0.85)
    val got = Graph.pagerank(nodesSeq.toDF("node"), edgesSeq.toDF("src", "dst", "w"))
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 1e-12, s"node $k") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks sum to 1")
  }

  test("pagerank: personalized teleport matches the local power iteration (incl. dangling)") {
    // node 5 dangles and is reachable (4 → 5), so with teleportTo = 3 its
    // mass returns to node 3 only
    val nodesSeq = Seq(1L, 2L, 3L, 4L, 5L)
    val edgesSeq = Seq((1L, 2L, 2.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 4L, 5.0),
      (4L, 2L, 1.0), (4L, 5L, 1.0))
    for (tp <- Seq(None, Some(3L))) {
      val expected = pagerankLocal(nodesSeq, edgesSeq, iters = 15, d = 0.85, teleportTo = tp)
      val got = Graph.pagerank(nodesSeq.toDF("node"), edgesSeq.toDF("src", "dst", "w"),
        teleportTo = tp).as[(Long, Double)].collect().toMap
      assert(got.keySet == expected.keySet)
      expected.foreach { case (k, v) => assert(math.abs(v - got(k)) < 1e-12, s"node $k tp=$tp") }
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"ranks sum to 1, tp=$tp")
    }
  }

  test("pagerank: a teleport seed outside the node list is rejected by name") {
    // an unlisted seed would make the teleport vector all zeros and every
    // rank 0.0
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](Graph.pagerank(nodes, edges, teleportTo = Some(9L)))
    assert(e.getMessage.contains("seed 9"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted, "edge blocks released")
  }

  test("pagerank skew: planted 100×-median hot node — map-side partial agg absorbs the hot key") {
    // ring of 200 (every node in-degree 1, the median) + an edge from
    // every ring node into node 0: in-degree(0) = 200 = 200× median —
    // the dd8-style planted pathology for the per-round contrib fold,
    // where all of the hot node's mass keys to ONE dst
    val nodesSeq = (0L to 200L).toSeq
    val ring = (1L to 200L).map(i => (i, if (i == 200L) 1L else i + 1, 1.0))
    val spokes = (1L to 200L).map(i => (i, 0L, 1.0))
    val nodes = nodesSeq.toDF("node")
    val edges = (ring ++ spokes).toDF("src", "dst", "w")
    // correctness under skew: the local power iteration exactly (node 0 is
    // also dangling — no out-edges)
    val local = pagerankLocal(nodesSeq, ring ++ spokes, iters = 15, d = 0.85)
    val got = Graph.pagerank(nodes, edges).as[(Long, Double)].collect().toMap
    assert(got.keySet == local.keySet)
    local.foreach { case (k, v) => assert(math.abs(v - got(k)) < 1e-12, s"node $k") }
    // the contrib fold the rounds run hands the hot node over as ONE entry
    // per task (the edges are spread over 4 partitions, so 4 tasks see its
    // spokes): the driver merge never receives the raw in-degree
    val g = new EdgeBlocks(nodes, edges.repartition(4))
    try assertFoldAbsorbs(g.spread(Array.fill(g.n)(1.0 / g.n), reverse = false),
      g.index(0L), "pagerank contrib")
    finally g.release()
  }

  /** The skew pin: a fold's per-task partials hold each key at most once,
    * and the hot key's edges span several tasks, each of which still hands
    * it over as a single entry. */
  private def assertFoldAbsorbs(parts: Array[Partial], hot: Long, what: String): Unit = {
    parts.foreach(p => assert(p.keys.distinct.length === p.keys.length, s"$what: repeated key"))
    val perTask = parts.map(_.keys.count(_ == hot))
    assert(perTask.count(_ == 1) > 1 && perTask.forall(_ <= 1),
      s"$what: hot key entries per task ${perTask.mkString(",")}")
  }

  test("hits + labelPropagation skew: planted 200×-median hot node — partial agg absorbs, exact against the local references") {
    // same planted pathology as the pagerank skew pin: ring of 200
    // (median in-degree 1) + a spoke from every ring node into node 0
    val nodesSeq = (0L to 200L).toSeq
    val ring = (1L to 200L).map(i => (i, if (i == 200L) 1L else i + 1, 1.0))
    val spokes = (1L to 200L).map(i => (i, 0L, 1.0))
    val es = ring ++ spokes
    val nodes = nodesSeq.toDF("node")
    val edges = es.toDF("src", "dst", "w")
    assertHits(hitsOf(Graph.hits(nodes, edges, iters = 8)), hitsLocal(nodesSeq, es, 8), "hits")
    val l = Graph.labelPropagation(nodes, edges, iters = 6).as[(Long, Long)].collect().toMap
    assert(l === lpLocal(nodesSeq, es, 6), "labelPropagation")

    // the folds the rounds run. The authority half-step keys by dst (the
    // hot node); the hub half-step keys by src. The LP vote keys by
    // (node, label): with every neighbour on one label the hot node's 200
    // votes reach the merge as one entry per task.
    val g = new EdgeBlocks(nodes, edges.repartition(4))
    try {
      val hot = g.index(0L).toLong
      assertFoldAbsorbs(g.spread(Array.fill(g.n)(1.0), reverse = false), hot, "HITS auth")
      val hub = g.spread(Array.fill(g.n)(1.0), reverse = true)
      hub.foreach(p => assert(p.keys.distinct.length === p.keys.length, "HITS hub: repeated key"))
      assertFoldAbsorbs(g.votes(Array.fill(g.n)(1)), hot << 32 | 1, "LP vote")
    } finally g.release()
  }

  test("pagerank: symmetric cycle is uniform") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val r = Graph.pagerank(nodes, edges).as[(Long, Double)].collect()
    r.foreach { case (_, v) => assert(math.abs(v - 1.0 / 3) < 1e-12) }
  }

  test("coEmploymentSimilarity: Jaccard over shared people, minShared prunes") {
    val m = Seq(
      (1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (3L, "A"), (3L, "C"),
      (1L, "A") // duplicate membership row must not double-count
    ).toDF("person", "company")
    val r = Graph.coEmploymentSimilarity(m, "person", "company", minShared = 2)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(r.toSeq == Seq(("A", "B", 2L, 3L, 2L, 0.666667)))
    val all = Graph.coEmploymentSimilarity(m, "person", "company", minShared = 1)
      .orderBy("c", "c2")
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(all.map(x => (x._1, x._2, x._3)).toSeq ==
      Seq(("A", "B", 2L), ("A", "C", 1L)))
  }

  test("bfsHops: shortest hop counts, unreachable stays null") {
    // 1 → 2 → 3 → 4 and a shortcut 1 → 3; node 5 unreachable; 4 → 1 cycle
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 1L)).toDF("src", "dst")
    val d = Graph.bfsHops(nodes, edges, seed = 1L).orderBy("node")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1)))
    assert(d.toSeq == Seq(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> -1))
  }

  test("bfsHops: empty seed (seed not in nodes) leaves everything null") {
    val nodes = Seq(1L, 2L).toDF("node")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val d = Graph.bfsHops(nodes, edges, seed = 9L)
      .collect().map(r => r.isNullAt(1))
    assert(d.forall(identity))
  }

  test("strong-ties components fragment when weak edges are cut") {
    // two clusters {1,2} and {3,4} linked by a weak edge 2→3
    val edges = Seq((1L, 2L, 9.0), (2L, 1L, 9.0), (3L, 4L, 9.0), (4L, 3L, 9.0),
      (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val strong = Graph.transitionMatrix(edges).filter(col("p") >= 0.5).select("src", "dst")
    val comps = Dedup.labelComponents(Seq(1L, 2L, 3L, 4L).toDF("node"), "node", strong)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: per-node counts and clustering on K4 minus an edge") {
    // edges 1-2,1-3,2-3,2-4,3-4 → triangles {1,2,3} and {2,3,4}; fed with
    // reversed duplicates and a self loop to prove normalization
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 3L), (2L, 2L)).toDF("src", "dst")
    val r = Graph.triangles(edges).orderBy("node").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r === Array(
      (1L, 1L, 2L, 1.0), (2L, 2L, 3L, 0.666667),
      (3L, 2L, 3L, 0.666667), (4L, 1L, 2L, 1.0)))
  }

  test("triangles: triangle-free graph and isolated-pair degrees") {
    // a path 1-2-3 plus a detached edge 4-5: zero triangles everywhere
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val r = Graph.triangles(edges).orderBy("node").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r === Array(
      (1L, 0L, 1L, 0.0), (2L, 0L, 2L, 0.0), (3L, 0L, 1L, 0.0),
      (4L, 0L, 1L, 0.0), (5L, 0L, 1L, 0.0)))
  }

  test("kcore: peeling cascades through a tail, keeps the clique") {
    val s = spark; import s.implicits._
    // K4 {1,2,3,4} (the 3-core) + tail 4-5-6-7: 7 peels first, which
    // drops 6 below degree 1... each tail node has degree <3 so the whole
    // tail peels in round one EXCEPT the cascade check: give 5 two tail
    // neighbors so it only peels after they do
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L)).toDF("src", "dst")
    val nodes = (1L to 7L).toDF("node")
    val r = Graph.kcore(nodes, edges, k = 3).orderBy("node").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
    // {5,6,7} form a triangle but every member has degree <3 after 4-5 is
    // peeled... 5 has neighbors {4,6,7} = degree 3, 6/7 have degree 2 →
    // 6,7 peel round one, then 5 loses them and peels: only K4 survives
    assert(r === Array(
      (1L, 3L, true), (2L, 3L, true), (3L, 3L, true), (4L, 3L, true),
      (5L, 0L, false), (6L, 0L, false), (7L, 0L, false)))
    // fixpoint invariant: every surviving node meets the core threshold
    assert(r.filter(_._3).forall(_._2 >= 3))
  }

  test("labelPropagation: two cliques joined by a weak bridge separate") {
    val s = spark; import s.implicits._
    // triangles {1,2,3} and {4,5,6} with heavy internal edges, one
    // weight-1 bridge 3-4; isolated node 7 keeps its own label
    val edges = Seq(
      (1L, 2L, 5.0), (1L, 3L, 5.0), (2L, 3L, 5.0),
      (4L, 5L, 5.0), (4L, 6L, 5.0), (5L, 6L, 5.0),
      (3L, 4L, 1.0)).toDF("src", "dst", "w")
    val r = Graph.labelPropagation((1L to 7L).toDF("node"), edges, iters = 6)
      .orderBy("node").collect().map(x => (x.getLong(0), x.getLong(1)))
    val byNode = r.toMap
    assert(Set(byNode(1L), byNode(2L), byNode(3L)).size === 1)
    assert(Set(byNode(4L), byNode(5L), byNode(6L)).size === 1)
    assert(byNode(1L) !== byNode(4L))
    assert(byNode(7L) === 7L)
  }

  test("hits + labelPropagation: two cliques match the local references") {
    val s = spark; import s.implicits._
    val es = Seq(
      (1L, 2L, 5.0), (1L, 3L, 5.0), (2L, 3L, 5.0),
      (4L, 5L, 5.0), (4L, 6L, 5.0), (5L, 6L, 5.0),
      (3L, 4L, 1.0), (6L, 1L, 2.0))
    val nodesSeq = 1L to 7L
    val (nodes, edges) = (nodesSeq.toDF("node"), es.toDF("src", "dst", "w"))
    val lpa = Graph.labelPropagation(nodes, edges, iters = 6)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(lpa === lpLocal(nodesSeq, es, 6))
    assertHits(hitsOf(Graph.hits(nodes, edges, iters = 5)), hitsLocal(nodesSeq, es, 5), "hits")
  }

  test("hits: an edge with a null endpoint is dropped, never duplicating rows") {
    val s = spark; import s.implicits._
    // node 3 keeps a real out-edge, so its hub score (and the null
    // edge's contribution) stays non-zero in every round
    val clean = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 1.0), (3L, 1L, 1.0))
    val edges = (clean.map(e => (e._1, Option(e._2), e._3)) :+ ((3L, Option.empty[Long], 1.0)))
      .toDF("src", "dst", "w")
    val withNull = Graph.hits((1L to 3L).toDF("node"), edges, iters = 3)
    assert(withNull.count() === 3L)
    assertHits(hitsOf(withNull), hitsLocal(1L to 3L, clean, 3), "hits")
  }

  test("hits: an edge to or from an unlisted node is ignored") {
    val s = spark; import s.implicits._
    val fixture = Seq((1L, 2L, 2.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 4L, 5.0), (4L, 2L, 1.0))
    val withNine = (fixture ++ Seq((3L, 9L, 4.0), (9L, 1L, 3.0))).toDF("src", "dst", "w")
    assertHits(hitsOf(Graph.hits((1L to 5L).toDF("node"), withNine, iters = 3)),
      hitsLocal(1L to 5L, fixture, 3), "hits")
  }

  test("labelPropagation: tie votes pick the smallest label") {
    val s = spark; import s.implicits._
    // node 3 hears labels 1 and 2 with equal weight → adopts 1
    val edges = Seq((1L, 3L, 2.0), (2L, 3L, 2.0)).toDF("src", "dst", "w")
    val r = Graph.labelPropagation((1L to 3L).toDF("node"), edges, iters = 1)
      .orderBy("node").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r(2) === (3L, 1L))
  }

  test("hits: star sinks get the authority, spokes get the hubs") {
    val s = spark; import s.implicits._
    // 1,2,3 all point at 9 (equal weight) → 9 is the sole authority,
    // the three spokes share hub mass equally; both vectors L1 = 1
    val edges = Seq((1L, 9L, 1.0), (2L, 9L, 1.0), (3L, 9L, 1.0)).toDF("src", "dst", "w")
    val r = Graph.hits(Seq(1L, 2L, 3L, 9L).toDF("node"), edges, iters = 3)
      .orderBy("node").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
    val byNode = r.map(t => t._1 -> (t._2, t._3)).toMap
    assert(math.abs(byNode(9L)._2 - 1.0) < 1e-12) // all authority
    assert(math.abs(byNode(9L)._1) < 1e-12)       // no hub mass
    Seq(1L, 2L, 3L).foreach { n =>
      assert(math.abs(byNode(n)._1 - 1.0 / 3) < 1e-12)
      assert(math.abs(byNode(n)._2) < 1e-12)
    }
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-9)
    assert(math.abs(r.map(_._3).sum - 1.0) < 1e-9)
  }

  test("hits: weighted chain favors the heavier edge's endpoint") {
    val s = spark; import s.implicits._
    // 1→2 (w 3) and 1→3 (w 1): node 2 must out-rank node 3 in authority
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0)).toDF("src", "dst", "w")
    val r = Graph.hits(Seq(1L, 2L, 3L).toDF("node"), edges, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(2L) > r(3L) && r(3L) > 0.0)
  }

  test("summary: density, reciprocity, and assortativity on a known graph") {
    val s = spark; import s.implicits._
    // 1↔2 reciprocal, 1→3 one-way: 3 directed edges over 3 nodes.
    // density = 3/6; reciprocity = 2/3; undirected star degrees
    // (2,1,1) → assortativity = Pearson over {(2,1),(1,2),(2,1),(1,2)} = −1
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val r = Graph.summary((1L to 3L).toDF("node"), edges).head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 0.5)
    assert(r.getDouble(3) === 0.666667)
    assert(r.getDouble(4) === -1.0)
  }

  test("summary: regular graph leaves assortativity undefined (null)") {
    val s = spark; import s.implicits._
    // a 3-cycle: every degree 2 → zero variance → NULL, not NaN
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.summary((1L to 3L).toDF("node"), edges).head()
    assert(r.isNullAt(4))
    assert(r.getDouble(3) === 0.0) // no reciprocal directed edges
  }

  test("kcore: k=2 keeps any cycle, empty graph yields no core") {
    val s = spark; import s.implicits._
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.kcore((1L to 4L).toDF("node"), cyc, k = 2).orderBy("node")
      .collect().map(x => (x.getLong(0), x.getBoolean(2)))
    assert(r === Array((1L, true), (2L, true), (3L, true), (4L, false)))
    val none = Graph.kcore((1L to 3L).toDF("node"),
        Seq((1L, 2L)).toDF("src", "dst"), k = 2)
      .filter(col("in_core")).count()
    assert(none === 0L)
  }

  test("pagerank: a null dst loses its share like an unlisted dst") {
    val s = spark; import s.implicits._
    // the 3-cycle plus (1, null): node 1 keeps the null edge in its
    // out-weight, and the edge's share leaves the graph, as an edge to
    // an unlisted node 9 does
    val nodesSeq = Seq(1L, 2L, 3L)
    val cycle = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
    val nodes = nodesSeq.toDF("node")
    val withNull = (cycle.map(e => (e._1, Option(e._2), e._3)) :+ ((1L, Option.empty[Long], 1.0)))
      .toDF("src", "dst", "w")
    val expected = pagerankLocal(nodesSeq, cycle :+ ((1L, 9L, 1.0)), iters = 15, d = 0.85)
    assert(expected.values.sum < 0.5, "the lost share leaves mass outside the graph")
    val got = Graph.pagerank(nodes, withNull).as[(Long, Double)].collect().toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(math.abs(v - got(k)) < 1e-12, s"node $k got $got") }
    // label propagation and HITS ignore the null edge: the cycle's answer
    val lp = Graph.labelPropagation(nodes, withNull, iters = 3).as[(Long, Long)].collect().toMap
    assert(lp === lpLocal(nodesSeq, cycle, 3), "labelPropagation")
    assertHits(hitsOf(Graph.hits(nodes, withNull, iters = 3)), hitsLocal(nodesSeq, cycle, 3), "hits")
  }

  test("edge-free graphs: pagerank uniform, labels stay own ids, HITS zero; no nodes, no rows") {
    val s = spark; import s.implicits._
    val nodes = (1L to 4L).toDF("node")
    val none = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "w")
    // every node dangles, so the rank stays at the uniform teleport
    Graph.pagerank(nodes, none).as[(Long, Double)].collect()
      .foreach { case (k, v) => assert(math.abs(v - 0.25) < 1e-12, s"node $k") }
    assert(Graph.labelPropagation(nodes, none).as[(Long, Long)].collect().toMap ===
      (1L to 4L).map(n => n -> n).toMap)
    // no edge joins two listed nodes: the lone edge reaches unlisted 9
    for (e <- Seq(none, Seq((1L, 9L, 1.0)).toDF("src", "dst", "w")))
      assert(Graph.hits(nodes, e).as[(Long, Double, Double)].collect().sortBy(_._1) ===
        (1L to 4L).map(n => (n, 0.0, 0.0)).toArray)
    // an empty node set: zero rows, node columns keep the input's id type
    val noNodes = Seq.empty[Int].toDF("node")
    val intEdges = Seq((1, 2, 1.0)).toDF("src", "dst", "w")
    for ((name, out, types) <- Seq(
        ("pagerank", Graph.pagerank(noNodes, intEdges), Seq("integer", "double")),
        ("labelPropagation", Graph.labelPropagation(noNodes, intEdges), Seq("integer", "integer")),
        ("hits", Graph.hits(noNodes, intEdges), Seq("integer", "double", "double")))) {
      assert(out.count() === 0L, name)
      assert(out.schema.map(_.dataType.typeName) === types, name)
    }
  }

  test("broadcast-mode loops: one Spark job per round (HITS: one per half-step), no leftover persisted RDDs") {
    val s = spark; import s.implicits._
    val nodes = (1L to 5L).toDF("node")
    val edges = Seq((1L, 2L, 2.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 4L, 5.0),
      (4L, 2L, 1.0)).toDF("src", "dst", "w")
    val loops = Seq[(String, Int, Int => org.apache.spark.sql.DataFrame)](
      ("pagerank", 1, k => Graph.pagerank(nodes, edges, iters = k)),
      ("labelPropagation", 1, k => Graph.labelPropagation(nodes, edges, iters = k)),
      ("hits", 2, k => Graph.hits(nodes, edges, iters = k)))
    for ((name, perRound, run) <- loops) {
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val Seq(jk, jk1) = Seq(2, 3).map(k => jobsOf(run(k).collect()))
      assert(jk1 - jk === perRound, s"$name: $jk jobs at 2 rounds, $jk1 at 3")
      assert(spark.sparkContext.getPersistentRDDs.keySet === persisted, name)
    }
  }

  test("broadcast-mode loops keep the input's integral node id type") {
    val s = spark; import s.implicits._
    val es = Seq((1, 2, 2.0), (1, 3, 1.0), (2, 3, 1.0), (3, 1, 5.0))
    val nodes = (1 to 4).toDF("node")
    val lp = Graph.labelPropagation(nodes, es.toDF("src", "dst", "w"), iters = 2)
    assert(lp.schema.map(_.dataType.typeName) === Seq("integer", "integer"))
    assert(lp.as[(Int, Int)].collect().map { case (n, l) => n.toLong -> l.toLong }.toMap ===
      lpLocal(1L to 4L, es.map(e => (e._1.toLong, e._2.toLong, e._3)), 2))
    val pr = Graph.pagerank(nodes, es.toDF("src", "dst", "w"))
    assert(pr.schema.map(_.dataType.typeName) === Seq("integer", "double"))
  }
}
