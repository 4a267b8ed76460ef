package graft.llm

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpecBase {

  /** Corpus with planted structure: 0/1 exact dups, 2 a near-dup of 0,
    * 3/4 unrelated. */
  private lazy val docs = {
    val s = spark; import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill"
    Seq(
      (0L, base),
      (1L, base),                                             // exact dup of 0
      (2L, base.replace("lazy", "sleepy")),                   // near dup of 0
      (3L, "completely different content about spark query optimization and shuffle planning"),
      (4L, "unrelated text mentioning neither foxes nor dogs just parquet files and row groups")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps lowest id") {
    val e = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(e === Array((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
    val survivors = Dedup.exactSurvivors(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors === Array(0L, 2L, 3L, 4L))
  }

  test("gatedSurvivors: the quality gate after exact dedup keeps the rows of exact dedup after the gate") {
    val s = spark; import s.implicits._
    // 72 words that pass every gopher rule; `w` makes the texts distinct
    def clean(w: String) = Array.fill(4)(
      s"the quick brown $w jumps over a lazy dog and then sleeps in the warm sun of june"
    ).mkString(" ")
    val input = Seq(
      (7L, clean("fox")), (3L, clean("fox")), (9L, clean("fox")), // passes; min id 3 not first
      (5L, "### short junk"), (2L, "### short junk"),             // a duplicate group the gate drops
      (4L, clean("cat")), (8L, "### other junk"), (1L, clean("owl")))
      .toDF("doc_id", "text")
    def gate(df: org.apache.spark.sql.DataFrame) = TextAnalysis.gopherRules(df, "text")
      .filter(col("gopher_pass")).select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val gateFirst = rows(Dedup.exactSurvivors(gate(input), "doc_id", "text"))
    assert(gateFirst.map(_._1) === Seq(1L, 3L, 4L))
    assert(rows(Dedup.exactSurvivors(input, "doc_id", "text")).map(_._1) === Seq(1L, 2L, 3L, 4L, 8L))
    assert(rows(gate(Dedup.exactSurvivors(input, "doc_id", "text"))) === gateFirst)
    val gated = Dedup.gatedSurvivors(input, "doc_id", "text")
    assert(rows(gated) === gateFirst)
    assert(gated.rdd.getNumPartitions === spark.sessionState.conf.numShufflePartitions)
  }

  test("minhash LSH finds the planted near-dup pair without an all-pairs join") {
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup always collides
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup found
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L)) // unrelated never ≥0.5
  }

  test("minhash jaccard approximates true shingle jaccard") {
    val withJ = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.0)
      .filter(col("id1") === 0L && col("id2") === 1L).head
    assert(withJ.getDouble(2) === 1.0) // identical docs → jaccard 1
  }

  test("simhash: identical docs distance 0; near dups close; unrelated far") {
    val fp = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) === fp(1L))
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(dist(0L, 2L) <= 12)
    assert(dist(0L, 3L) > 12)
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)))
  }

  test("ngram jaccard on candidate pairs") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", 3, pairs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 1L)) === 1.0)
    j.get((0L, 2L)).foreach(v => assert(v > 0.5 && v < 1.0))
  }

  test("gram checkpoints run one task per shuffle partition on a one-partition input") {
    val s = spark; import s.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    assert(n > 1)
    val one = docs.coalesce(1)
    def ckptTasks(body: => Unit) =
      tasksOf(body).collect { case (name, t) if name.startsWith("localCheckpoint") => t }
    assert(ckptTasks(Dedup.estimateSigTable(one, "doc_id", "text")) === Seq(n))
    val pairs = Seq((0L, 2L), (3L, 4L)).toDF("id1", "id2").coalesce(1)
    // the candidate-pair checkpoint, then the gram table's
    assert(ckptTasks(Dedup.ngramJaccard(one, "doc_id", "text", 3, pairs, hashGrams = false))
      === Seq(1, n))
  }

  test("brute-force topK: self is rank 1 with sim 1; ranks are dense per query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 5)
    val rows = top.collect()
    assert(rows.length === 15)
    val self = rows.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.length === 3)
    assert(self.forall(r => r.getInt(3) === 1 && math.abs(r.getDouble(2) - 1.0) < 1e-9))
  }

  test("LSH ANN recall vs exact topK is usable on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k,
        nPlanes = 8, nTables = 6, dim = 64, seed = 42L)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
    // every query at least finds itself
    assert((0L until 5L).forall(i => approx.contains((i, i))))
  }

  test("near-dup params: buckets grow with n, tables grow as threshold widens") {
    // constant expected bucket size → nPlanes tracks log2(n)
    val (b1, _) = Similarity.nearDupParams(1000L, 0.9, 8, 0.9, 16)
    val (b2, _) = Similarity.nearDupParams(1000000L, 0.9, 8, 0.9, 16)
    assert(b2 - b1 === 10, s"1000x corpus must add log2(1000)≈10 planes ($b1 -> $b2)")
    // tighter angle (higher threshold) needs fewer OR-tables at equal recall
    val (_, tTight) = Similarity.nearDupParams(10000L, 0.95, 8, 0.9, 64)
    val (_, tWide) = Similarity.nearDupParams(10000L, 0.5, 8, 0.9, 64)
    assert(tTight < tWide, s"tables at 0.95 ($tTight) must be < at 0.5 ($tWide)")
    // wide angles hit the cap instead of exploding
    val (_, tCap) = Similarity.nearDupParams(10000L, 0.3, 8, 0.9, 16)
    assert(tCap === 16)
  }

  test("cosine near-dup pairs: planted high-cosine pairs found, auto-sized") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val base = Array.fill(40)(unit(Array.fill(16)(rnd.nextGaussian())))
    // docs 100+i are tiny perturbations of docs i < 3 → cosine ≈ 0.999
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 3).map { i =>
        (100L + i, unit(base(i).map(_ + 0.01 * rnd.nextGaussian())))
      }
    val emb = rows.toSeq.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 3).forall(i => pairs.contains((i.toLong, 100L + i))),
      s"planted pairs missing from $pairs")
    // random unit vectors in 16-d essentially never reach cosine 0.95
    assert(pairs.size === 3, s"unexpected extra pairs: $pairs")
  }

  test("IVF ANN: self always found; recall vs exact is usable at nProbes/nLists") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = Ivf.build(emb, "vec_id", "embedding", nLists = 16)
    val approx = Ivf.topK(idx, "vec_id", "embedding", q, "qid", "qvec", k, nProbes = 4)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).forall(i => approx.contains((i, i))), "query must find itself")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall too low")
    idx.release() // frees the cached cell assignments
  }

  test("portable IVF quantizer: deterministic across partitionings, balanced, usable recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val k = 8
    val (_, assigned) = Ivf.portableQuantizer(emb, "vec_id", "embedding", k, rounds = 4)
    val a1 = assigned.select("pid", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // partition-independence: the exact same assignment from a reshuffled
    // input (the property the 6dp centroid rounding exists to guarantee)
    val (_, assigned2) = Ivf.portableQuantizer(
      emb.repartition(7, col("vec_id")), "vec_id", "embedding", k, rounds = 4)
    val a2 = assigned2.select("pid", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === a2, "assignments must not depend on input partitioning")
    // Lloyd's actually clustered: every cell non-empty and no cell owns
    // the whole corpus
    val sizes = a1.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size === k, s"expected $k non-empty cells, got ${sizes.size}")
    assert(sizes.values.max < a1.size, "degenerate single-cell clustering")
    // probing 2/8 cells finds the query itself and a usable share of the
    // true neighbors (the quantizer is a real quantizer, not a hash)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "qid", "qvec", 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ivf.portableTopK(emb, "vec_id", "embedding", k, rounds = 4,
        nQueries = 5, nProbes = 2, kTop = 5)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).forall(i => approx.contains((i, i))), "query must find itself")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"portable IVF recall $recall too low")
  }

  test("portable PQ: self found, usable recall vs exact through the ADC shortlist") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Pq.portableTopK(emb, "vec_id", "embedding",
        m = 4, k = 16, rounds = 3, dim = 64, nQueries = 3, rerank = 50, kTop = 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 3L).forall(i => approx.contains((i, i))), "query must find itself")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"portable PQ recall $recall too low")
  }

  test("PQ ANN: ADC shortlist + exact rerank recovers most exact neighbors; self found") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = Pq.build(emb, "vec_id", "embedding", m = 4, k = 16)
    val approx = Pq.topK(idx, emb, "vec_id", "embedding", q, "qid", "qvec",
        kTop = k, rerank = 50)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).forall(i => approx.contains((i, i))), "query must find itself")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall $recall too low")
    // compression actually happened: m small ints per doc, codes in [0, k)
    val codeStats = idx.codes.select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c")).head
    assert(codeStats.getInt(0) >= 0 && codeStats.getInt(1) < 16)
    idx.release()
  }

  test("portable IVFADC: partition-independent, self found, usable recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(corpus: org.apache.spark.sql.DataFrame) =
      Ivfadc.portableTopK(corpus, "vec_id", "embedding",
        train = lit(true), query = col("vec_id") < 3,
        kCoarse = 8, coarseRounds = 3, m = 4, k = 16, pqRounds = 3, dim = 64,
        nProbes = 3, rerank = 50, kTop = 5)
    val out = run(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val approx = out.map(t => (t._1, t._2)).toSet
    // residual quantization on top of a 3/8-cell probe: query still finds
    // itself (it lives in its own best cell and its own code reconstructs
    // nearest) and the shortlist recovers a usable share of exact. Bar is
    // the house IVF bar (0.4): this corpus is near-random in 64-d (max
    // pairwise cosine ~0.51), so cosine neighborhoods do not cluster and
    // IVF-family recall ≈ probed fraction — a data property, pinned as
    // such in the sim5/sim5b tests too.
    assert((0L until 3L).forall(i => approx.contains((i, i))), "query must find itself")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"portable IVFADC recall $recall too low")
    // the hash-green guarantee: BOTH Lloyd's tiers and the residual
    // arithmetic are partition-independent, so a reshuffled input yields
    // the identical ranked rows (the 6dp-rounding property, composed)
    val out2 = run(emb.repartition(7, col("vec_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out === out2, "IVFADC output must not depend on input partitioning")
  }

  test("IVFADC ANN (sample-trained): self found, recall usable through residual ADC") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(corpus: org.apache.spark.sql.DataFrame) =
      Ivfadc.topK(corpus, "vec_id", "embedding", q, "qid", "qvec",
        nLists = 8, m = 4, k = 16, dim = 64, kTop = k, rerank = 50, nProbes = 2)
    val rows = run(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val approx = rows.map(t => (t._1, t._2)).toSet
    assert((0L until 5L).forall(i => approx.contains((i, i))), "query must find itself")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVFADC recall $recall too low")
    // the id-sorted driver-side training sample makes the whole index a
    // pure function of the corpus (sample under trainCap): a reshuffled
    // input yields identical ranked rows
    val rows2 = run(emb.repartition(7, col("vec_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows === rows2, "sample-trained IVFADC must not depend on input partitioning")
  }

  test("IVFADC trainCap overflow auto-escalates the hash mod — loud, partition-independent") {
    // corpus larger than trainCap at trainHashMod=1: pre-guard this
    // silently trained on a partition-order limit(); now the mod
    // escalates until the hash-filtered sample fits, so the index stays
    // a pure function of the corpus at EVERY size
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def run(corpus: org.apache.spark.sql.DataFrame) =
      Ivfadc.topK(corpus, "vec_id", "embedding", q, "qid", "qvec",
        nLists = 8, m = 4, k = 16, dim = 64, kTop = 3, rerank = 30, nProbes = 2,
        trainCap = 50) // corpus is ~hundreds of rows -> cap crossed
    val a = run(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // the escalated sample is hash-determined: reshuffled and re-sliced
    // inputs give the identical ranked output (limit() could not)
    val b = run(emb.repartition(13, col("vec_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(a === b, "over-cap training must stay partition-independent")
    val c = run(emb.repartition(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(a === c, "over-cap training must survive round-robin repartition")
    assert((0L until 3L).forall(i => a.exists(t => t._1 == i && t._2 == i)),
      "query must still find itself on the escalated-sample index")
  }

  test("localLloyd: seeded determinism, k centroids, fixed-point on separated clusters") {
    // three tight clusters far apart in 4-d: Lloyd's must land one
    // centroid on each cluster mean regardless of the seeded init, and
    // the result must be bit-identical across calls (pure function of
    // (points, k, iters, seed) — what makes sim8 deterministic)
    val rnd = new scala.util.Random(7)
    val centers = Seq(Array(0.0, 0, 0, 0), Array(100.0, 100, 0, 0), Array(0.0, 0, 100, 100))
    val pts = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 40).map { _ => Array.tabulate(4)(j => c(j) + rnd.nextGaussian() * 0.5) }
    }.toArray
    val a = Ivfadc.localLloyd(pts, k = 3, iters = 10, seed = 42L)
    val b = Ivfadc.localLloyd(pts, k = 3, iters = 10, seed = 42L)
    assert(a.map(_.toSeq) === b.map(_.toSeq), "same inputs must give identical centroids")
    assert(a.length === 3)
    // every true center has a learned centroid within 0.5 of it
    centers.foreach { c =>
      val d = a.map(cc => math.sqrt(cc.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)).min
      assert(d < 0.5, s"no centroid near ${c.toSeq}: min distance $d")
    }
    // fixed point: each centroid is the mean of the points it owns
    val own = pts.groupBy(p => a.indices.minBy(ci =>
      p.zip(a(ci)).map { case (x, y) => (x - y) * (x - y) }.sum))
    own.foreach { case (ci, ps) =>
      val mean = Array.tabulate(4)(j => ps.map(_(j)).sum / ps.length)
      val drift = math.sqrt(mean.zip(a(ci)).map { case (x, y) => (x - y) * (x - y) }.sum)
      assert(drift < 1e-9, s"centroid $ci not the mean of its points (drift $drift)")
    }
  }

  test("incremental IVFADC: frozen quantizers encode the new batch — exact twin found, partition-independent") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // new batch = exact copies of corpus docs 0..2 under fresh ids: the
    // add-after-train contract means each new doc must land in its
    // twin's coarse cell and codes, so the search finds the twin at
    // rank 1 (cosine 1.0, smaller id wins the tie) and itself at rank 2
    val newDocs = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val df = emb.unionByName(newDocs)
    def run(input: org.apache.spark.sql.DataFrame) =
      Ivfadc.portableTopK(input, "vec_id", "embedding",
        train = col("vec_id") < 1000, query = col("vec_id") >= 1000,
        kCoarse = 8, coarseRounds = 3, m = 4, k = 16, pqRounds = 3, dim = 64,
        nProbes = 3, rerank = 50, kTop = 5)
    val out = run(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    for (i <- 0L until 3L) {
      val rows = out.filter(_._1 == 1000 + i).sortBy(_._3)
      assert(rows(0)._2 === i, s"query ${1000 + i}: exact twin not at rank 1: ${rows.toSeq}")
      assert(rows(0)._4 === 1.0)
      assert(rows(1)._2 === 1000 + i, s"query ${1000 + i}: self not at rank 2")
    }
    // the composed frozen-assign path stays partition-independent
    val out2 = run(df.repartition(7, col("vec_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out === out2, "incremental IVFADC must not depend on input partitioning")
  }

  test("language ID scores stopword evidence and falls back to unknown") {
    // NOTE: the synthetic documents table uses one shared vocabulary for all
    // lang labels (verified empirically — no token is lang-specific), so
    // label accuracy is not measurable there; the operator is tested on
    // constructed input instead.
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "the cat and the dog sat in a house that it liked"),
      (2L, "der hund und die katze ist nicht mit einem haus auf zu"),
      (3L, "le chat et la maison est une pour les dans que des"),
      (4L, "el gato y la casa es una para los en que por"),
      (5L, "zxcv qwer asdf")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "de")
    assert(out(3L) === "fr")
    assert(out(4L) === "es")
    assert(out(5L) === "unknown")
  }

  test("langId kernel equals the Column-chain reference on real + hostile text") {
    // r16 pin: the fused LangIdExpr must agree with the let-bound Column
    // algebra it replaced on every document of the real corpus AND on
    // constructed edge cases (ties, zero evidence, shared stopwords
    // between languages, empty/whitespace text, repeated stopwords that
    // must count once, mixed case, CJK tokens, null text → "unknown")
    val s = spark; import s.implicits._
    val real = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val hostile = Seq(
      (9001L, ""), (9002L, "   "), (9003L, "\tthe\n\nthe THE the "),
      (9004L, "la la la"),            // fr+es shared stopword → tie → unknown
      (9005L, "le la et est"),        // fr-heavy with shared words
      (9006L, "的 是 在 了"),          // zh
      (9007L, "the und le el 的"),    // five-way tie
      (9008L, "The AND Of tO a In"), // case-normalized en
      (9009L, null)
    ).toDF("doc_id", "text")
    val both = real.unionByName(hostile)
    val got = both.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("k"),
        TextAnalysis.langIdReference(col("text")).as("r"))
      .collect()
    val diff = got.filter(r => r.getString(1) != r.getString(2))
    assert(diff.isEmpty,
      s"kernel != reference on ${diff.take(5).mkString(";")}")
    assert(got.find(_.getLong(0) == 9009L).map(_.getString(1)) === Some("unknown"))
  }

  test("token counts and quality features are consistent") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "hello world, this is text!"), (2L, "one")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFeatures(df, "text")
      .select("doc_id", "n_words", "quality_score").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out(1L) === 5)
    assert(out(2L) === 1)
    val toks = df.select(TextAnalysis.tokenEstimate(col("text"))).collect().map(_.getInt(0))
    assert(toks === Array(7, 1)) // hello,world,',',this,is,text,'!'
  }

  test("chunking covers the document with the configured overlap") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "abcdefghij"), (2L, "xy"), (3L, "")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(df, "doc_id", "text", size = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(t => (t._1, t._2))
    // stride 3: "abcd","defg","ghij","j"; "xy"; empty doc → nothing
    assert(chunks === Array(
      (1L, 0, "abcd"), (1L, 1, "defg"), (1L, 2, "ghij"), (1L, 3, "j"),
      (2L, 0, "xy")))
  }

  test("PII scrub redacts emails and long digit runs, keeps short numbers") {
    val s = spark; import s.implicits._
    val out = Seq("mail me at a.b+c@foo-bar.org or 12345678 but keep 123 ok")
      .toDF("t").select(TextAnalysis.scrubPii(col("t"))).head.getString(0)
    assert(out === "mail me at <EMAIL> or <NUM> but keep 123 ok")
  }

  test("deterministic sample is stable and uses the hash prefix") {
    val s = spark; import s.implicits._
    val df = (1L to 200L).toDF("doc_id")
    val a = TextAnalysis.deterministicSample(df, "doc_id", Seq("0", "1"))
      .collect().map(_.getLong(0)).sorted
    val b = TextAnalysis.deterministicSample(df, "doc_id", Seq("0", "1"))
      .collect().map(_.getLong(0)).sorted
    assert(a === b)
    assert(a.nonEmpty && a.length < 200) // strict subset, non-empty
  }

  test("token packing: cumulative budget bucketing is monotone and bounded") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "one two three"), (2L, "four five"), (3L, "six"), (4L, "seven eight nine ten"))
      .toDF("doc_id", "text")
    val packed = TextAnalysis.packByTokenBudget(df, "doc_id", "text", budget = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    // tokens: 3,2,1,4; cum: 3,5,6,10 → pack floor((cum-n)/5): 0,0,1,1
    assert(packed === Array((1L, 3, 0L), (2L, 2, 0L), (3L, 1, 1L), (4L, 4, 1L)))
  }

  test("token packing is bit-identical across shard counts (two-level = global)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(shards: Int) =
      TextAnalysis.packByTokenBudget(docs, "doc_id", "text", budget = 256, nShards = shards)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val one = run(1) // degenerate = the plain global cumsum
    assert(run(7) === one, "7 shards must match the global order")
    assert(run(32) === one, "32 shards must match the global order")
  }

  test("token packing falls back to one shard for non-numeric ids") {
    val s = spark; import s.implicits._
    // lexicographic order ("10" < "9") diverges from numeric cast order, so
    // range-sharding by cast(id as double) would mis-assign; the fallback
    // must still produce the global-order cumsum over the NATIVE ordering.
    val df = Seq(("10", "one two three"), ("9", "four five"), ("a", "six"))
      .toDF("doc_id", "text")
    val packed = TextAnalysis.packByTokenBudget(df, "doc_id", "text", budget = 4, nShards = 32)
      .orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // order "10" < "9" < "a"; tokens 3,2,1; cum 3,5,6 → packs 0,0,1
    assert(packed === Array(("10", 3, 3L, 0L), ("9", 2, 5L, 0L), ("a", 1, 6L, 1L)))
  }

  test("incremental dedup: corpus hits and in-batch dups both drop") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "already ingested text"), (2L, "other old text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "already ingested text"),  // dup of corpus doc 1 -> dropped
      (11L, "brand new text"),         // survives
      (12L, "brand new text"),         // in-batch dup of 11 -> dropped
      (13L, "another new one")         // survives
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(batch, corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(11L, 13L))
  }

  test("lexical diversity: degenerate repetition vs fully distinct text") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),            // one type -> entropy 0, ttr 1/4
      (2L, "four fully distinct words here")  // uniform -> entropy ln(5), ttr 1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out(0) === ((1L, 4L, 1L, 0.25, 0.0)))
    assert(out(1)._4 === 1.0)
    assert(math.abs(out(1)._5 - math.log(5.0)) < 1e-4)
  }

  test("stratified split: pure function of the id, sane per-stratum fractions") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = TextAnalysis.stratifiedSplit(docsDf, "doc_id", valFrac = 0.1, testFrac = 0.1)
    val byDoc = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // stability: membership survives any reshuffle/filter of the input
    val again = TextAnalysis.stratifiedSplit(
        docsDf.filter(col("doc_id") % 2 === 0).repartition(7), "doc_id", 0.1, 0.1)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(again.forall { case (id, sp) => byDoc(id) == sp })
    // each stratum splits roughly 80/10/10 (hash-uniform; wide tolerance)
    val perSource = split.groupBy("source", "split").count().collect()
      .groupBy(_.getString(0))
    perSource.values.foreach { rows =>
      val m = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      val total = m.values.sum.toDouble
      assert(m.getOrElse("train", 0L) / total > 0.6, s"train share off: $m")
    }
  }

  test("ngram-jaccard sketch prefilter ≡ no prefilter on the real LSH candidate set") {
    // dd5's two-stage verify (VERDICT r9 item 7): pruning pairs by the
    // 32-hash estimate before the exact gram intersect must return
    // EXACTLY the pairs the unfiltered verify finds at/above the
    // threshold — on the deterministic sf0.001 corpus and its real
    // banding candidates, so the margin's adequacy is machine-checked,
    // not assumed
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6)))
    // both driver scales: the prune is probabilistic by design (~7% miss
    // for a pair EXACTLY at the threshold), so the equivalence is pinned
    // on the actual corpora the correctness gate runs, not assumed
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = graft.model.Tables.documents(spark, s"/root/testdata/$sf")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", k = 5, bands = 8, rows = 4)
      val pre = rows(Dedup.ngramJaccard(docs, "doc_id", "text", 3, pairs, minJaccard = 0.5))
      val brute = rows(Dedup.ngramJaccard(docs, "doc_id", "text", 3, pairs)
        .filter(col("jaccard") >= 0.5))
      assert(pre.nonEmpty, s"$sf: threshold 0.5 must keep the planted near-dups")
      assert(pre === brute, s"$sf: prefilter dropped/added pairs: ${pre.length} vs ${brute.length}")
    }
  }

  test("scalar quantization: int8 codes in range, error within the half-step band, constant dims code 0") {
    val s = spark; import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.scalarQuantize(emb, "vec_id", "embedding").collect()
    assert(out.length === emb.count().toInt)
    // per-dim spans bound the reconstruction error: |x - x̂| <= span/510
    // (half an int8 step) + float noise
    val spans = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg((max(col("x").cast("double")) - min(col("x").cast("double"))).as("s"))
      .collect().map(_.getDouble(1))
    val bound = spans.max / 510.0 + 1e-9
    out.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.forall(c => c >= 0 && c <= 255))
      assert(r.getDouble(3) <= bound, s"err ${r.getDouble(3)} > half-step $bound")
    }
    // a constant dimension codes to 0 everywhere and reconstructs exactly
    val const = Seq((1L, Seq(1.5f, 7.0f)), (2L, Seq(1.5f, 3.0f))).toDF("vec_id", "embedding")
    val c = Similarity.scalarQuantize(const, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    assert(c(0).getSeq[Int](1).head === 0 && c(1).getSeq[Int](1).head === 0)
    assert(c(0).getSeq[Int](1)(1) === 255 && c(1).getSeq[Int](1)(1) === 0)
  }

  test("SQ8 ANN: ADC-scored top-k matches brute force, rerank sims exact") {
    val s = spark; import s.implicits._
    val emb = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val sq = Similarity.sqTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        kTop = 10, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .map { case (qid, id, sim) => (qid, id) -> sim }.toMap
    assert(sq.length === 30)
    // corpus-member query: itself at rank 1 with cosine exactly 1-ish
    sq.filter(_._3 == 1).foreach { case (qid, id, _, sim) =>
      assert(id === qid); assert(sim > 0.999999)
    }
    // with a 50-candidate rerank over a 50-row corpus the recall is
    // structurally 1.0: every (qid,id) must appear in brute's top-10 and
    // the rerank sim must BIT-match the exact cosine (the rerank path
    // reads original floats, not dequantized values)
    sq.foreach { case (qid, id, _, sim) =>
      assert(brute.contains((qid, id)), s"($qid,$id) missing from exact top-10")
      assert(java.lang.Double.doubleToLongBits(sim) ===
             java.lang.Double.doubleToLongBits(brute((qid, id))))
    }
  }

  test("containment: catches the wrapped-superset copy jaccard misses; df cap guards boilerplate") {
    val s = spark; import s.implicits._
    val core = (1 to 20).map(i => s"tok$i").mkString(" ")       // the embedded page
    val wrapper = core + " " + (1 to 80).map(i => s"pad$i").mkString(" ")
    val other = (100 to 130).map(i => s"body$i").mkString(" ")
    val docs = Seq((1L, core), (2L, wrapper), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).collect()
    // hashed production path ≡ string oracle-green path (set compare:
    // containmentPairs has no terminal orderBy, so row order is free)
    val str = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20, hashGrams = false).collect()
    assert(out.map(_.toSeq).toSet === str.map(_.toSeq).toSet)
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    // every core gram appears in the wrapper: c(core→wrapper) = 1.0,
    // while jaccard = 18/98 ≈ 0.18 — the case this operator exists for
    assert(r.getDouble(5) === 1.0)
    assert(r.getDouble(6) < 0.25)
    assert(r.getInt(4) === r.getInt(2)) // shared == |core grams|

    // a gram present in MORE than maxDf docs generates no candidates on
    // its own (boilerplate guard): 25 docs sharing only one hot line
    val boiler = "same same same boilerplate line"
    val many = (1L to 25L).map(i => (i, s"$boiler unique${i}a unique${i}b unique${i}c"))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPairs(many, "doc_id", "text",
      n = 3, minContainment = 0.1, maxDf = 20).count() === 0L)
    // ...but under the cap the same sharing pairs normally
    val few = (1L to 5L).map(i => (i, s"$boiler unique${i}a unique${i}b unique${i}c"))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPairs(few, "doc_id", "text",
      n = 3, minContainment = 0.1, maxDf = 20).count() === 10L)

    // duplicate-id input violates the operator's precondition but must
    // degrade (df over-count), never crash: a row-count df >= 2 with ONE
    // distinct doc would otherwise drive the pair generator's
    // sequence(0, -1) into illegal element_at(ds, 0) calls
    val dup = Seq((7L, core), (7L, core), (9L, other)).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(dup, "doc_id", "text",
      n = 3, minContainment = 0.1, maxDf = 20).count() === 0L)
  }

  test("incremental containment: ingest gate flags wrapped/trimmed re-fetches only") {
    val s = spark; import s.implicits._
    val core = (1 to 20).map(i => s"tok$i").mkString(" ")
    val wrapper = core + " " + (1 to 80).map(i => s"pad$i").mkString(" ")
    val fresh = (50 to 90).map(i => s"new$i").mkString(" ")
    // corpus holds the wrapper (id 2); the batch re-fetches its core
    // (id 7, a TRIMMED copy) and one genuinely new doc (id 8)
    val docs = Seq((2L, wrapper), (4L, (200 to 240).map(i => s"old$i").mkString(" ")),
      (7L, core), (8L, fresh)).toDF("doc_id", "text")
    val out = Dedup.containmentIncremental(docs, "doc_id", "text",
      col("doc_id") >= 7, n = 3, minContainment = 0.5, maxDf = 20).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === (7L, 2L))
    assert(r.getDouble(5) === 1.0)  // core fully contained in the wrapper
    assert(r.getInt(4) === r.getInt(2))
    // hashed ≡ string (set compare; no terminal orderBy on the operator)
    val str = Dedup.containmentIncremental(docs, "doc_id", "text",
      col("doc_id") >= 7, n = 3, minContainment = 0.5, maxDf = 20,
      hashGrams = false).collect()
    assert(out.map(_.toSeq).toSet === str.map(_.toSeq).toSet)
    // batch docs never pair with each other (in-batch pairing is dd19's
    // job): two identical NEW docs over an unrelated corpus emit nothing
    val twoNew = Seq((1L, (300 to 330).map(i => s"c$i").mkString(" ")),
      (7L, core), (8L, core)).toDF("doc_id", "text")
    assert(Dedup.containmentIncremental(twoNew, "doc_id", "text",
      col("doc_id") >= 7, n = 3, minContainment = 0.5, maxDf = 20).count() === 0L)
    // a df=1 corpus gram still pairs (the cap floor is 1, unlike dd19's 2)
    val single = Seq((2L, wrapper), (7L, core)).toDF("doc_id", "text")
    assert(Dedup.containmentIncremental(single, "doc_id", "text",
      col("doc_id") === 7, n = 3, minContainment = 0.5, maxDf = 20).count() === 1L)
    // same-id re-fetch: the verify reads the SPLIT sides, so id 2's NEW
    // text (the trimmed core) compares against id 2's HELD text (the
    // wrapper) — one row, new-side sizes from the batch copy
    val refetch = Seq((2L, wrapper), (2L, core)).toDF("doc_id", "text")
    val rf = Dedup.containmentIncremental(refetch, "doc_id", "text",
      col("text") === core, n = 3, minContainment = 0.5, maxDf = 20).collect()
    assert(rf.length === 1)
    assert((rf.head.getLong(0), rf.head.getLong(1)) === (2L, 2L))
    assert(rf.head.getInt(2) === 18 && rf.head.getDouble(5) === 1.0)
  }

  test("containment estimate (LSH-Ensemble tier) finds the above-cap pair " +
       "the df-capped index structurally misses") {
    val s = spark; import s.implicits._
    // a passage replicated across 27 docs: every word 3-gram of the core
    // has df = 27 > maxDf = 20, so dd19's inverted index drops ALL of the
    // wrapped pair's shared grams before pairing — its documented recall
    // guard, and exactly the regime Zhu et al.'s estimation tier exists
    // for. The junction/pad grams are unique per doc (df = 1, unpairable),
    // so the capped index has NOTHING to pair on.
    val core = (1 to 40).map(i => s"tok$i").mkString(" ")
    val wrapper = core + " " + (1 to 80).map(i => s"pad$i").mkString(" ")
    val others = (3L to 27L).map(i =>
      (i, core + " " + (100 to 120).map(j => s"x${i}y$j").mkString(" ")))
    val docs = ((1L, core) +: (2L, wrapper) +: others).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).count() === 0L,
      "df-capped tier should be blind to every pair in this corpus")
    val est = Dedup.containmentEstimatePairs(docs, "doc_id", "text",
      n = 3, numHashes = 32, minContainment = 0.5,
      maxSizeRatio = 8.0, maxBucket = 100).collect()
    val byPair = est.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(byPair.contains((1L, 2L)),
      s"sketch tier missed the planted wrapped pair; found ${byPair.keySet}")
    val r = byPair((1L, 2L))
    // c1 (core side): every word 3-gram of the core appears verbatim in
    // the wrapper (same gram space as dd19, so the verdicts align)
    assert(r.getDouble(5) === 1.0)
    // the sketch's own estimate must land in the neighborhood of the
    // truth it is audited against (deterministic given the md5 family)
    assert(r.getDouble(7) > 0.3)

    // below-cap agreement: on the plain wrapped-superset corpus (no
    // replication) the estimate tier finds the same pair the inverted
    // tier reports, with the same exact containment verdict
    val plain = Seq((1L, core), (2L, wrapper),
      (3L, (100 to 130).map(i => s"body$i").mkString(" "))).toDF("doc_id", "text")
    val inv = Dedup.containmentPairs(plain, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).collect()
    val estPlain = Dedup.containmentEstimatePairs(plain, "doc_id", "text",
      n = 3, numHashes = 32, minContainment = 0.5,
      maxSizeRatio = 8.0, maxBucket = 100).collect()
    assert(inv.map(x => (x.getLong(0), x.getLong(1))).toSet ===
           estPlain.map(x => (x.getLong(0), x.getLong(1))).toSet)
  }

  test("containmentDiagnostics: funnel counts agree with the operator and " +
       "the saturation flag matches the warning contract") {
    val s = spark; import s.implicits._
    val core = (1 to 40).map(i => s"tok$i").mkString(" ")
    val wrapper = core + " " + (1 to 80).map(i => s"pad$i").mkString(" ")
    val healthy = Seq((1L, core), (2L, wrapper),
      (3L, (100 to 130).map(i => s"body$i").mkString(" "))).toDF("doc_id", "text")
    val d = Dedup.containmentDiagnostics(healthy, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).first()
    // verified_pairs must equal what containmentPairs itself returns
    assert(d.getAs[Long]("verified_pairs") ===
      Dedup.containmentPairs(healthy, "doc_id", "text",
        n = 3, minContainment = 0.5, maxDf = 20).count())
    assert(d.getAs[Long]("verified_pairs") === 1L)
    assert(!d.getAs[Boolean]("saturated"))
    // the funnel can only narrow: candidates >= pruned >= verified
    assert(d.getAs[Long]("candidate_pairs") >= d.getAs[Long]("pruned_candidate_pairs"))
    assert(d.getAs[Long]("pruned_candidate_pairs") >= d.getAs[Long]("verified_pairs"))
    // gram partition is exhaustive: pairable + above-cap + df=1 = total
    assert(d.getAs[Long]("grams_pairable") + d.getAs[Long]("grams_above_cap")
      <= d.getAs[Long]("grams_total"))
    // saturated regime (every core gram df = 27 > cap): flag set, zero pairs
    val others = (3L to 27L).map(i =>
      (i, core + " " + (100 to 120).map(j => s"x${i}y$j").mkString(" ")))
    val sat = ((1L, core) +: (2L, wrapper) +: others).toDF("doc_id", "text")
    val ds = Dedup.containmentDiagnostics(sat, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).first()
    assert(ds.getAs[Boolean]("saturated"))
    assert(ds.getAs[Long]("grams_pairable") === 0L)
    assert(ds.getAs[Long]("candidate_pairs") === 0L)
    assert(ds.getAs[Long]("grams_above_cap") > 0L)
  }

  test("containmentDiagnostics builds the gram index once: at most one more " +
       "materialized frame than containmentPairs") {
    val s = spark; import s.implicits._
    val core = (1 to 40).map(i => s"tok$i").mkString(" ")
    val wrapper = core + " " + (1 to 80).map(i => s"pad$i").mkString(" ")
    val healthy = Seq((1L, core), (2L, wrapper),
      (3L, (100 to 130).map(i => s"body$i").mkString(" "))).toDF("doc_id", "text")
    def newFrames(run: => Unit): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    val pairs = newFrames(Dedup.containmentPairs(healthy, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).count())
    val diag = newFrames(Dedup.containmentDiagnostics(healthy, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).first())
    assert(pairs > 0)
    // the one extra frame is the counted-candidate table
    assert(diag <= pairs + 1, s"containmentDiagnostics materialized $diag frames, " +
      s"containmentPairs $pairs")
  }

  test("df-cap saturation is LOUD: the exact tier warns when zero grams are " +
       "pairable, and stays quiet on a healthy corpus") {
    val s = spark; import s.implicits._
    // the sf1-scale finding made a unit test: every core gram df = 27 >
    // maxDf = 20, every junction gram df = 1 — the pairable set is EMPTY
    // and containmentPairs is structurally blind. The run must say so.
    val core = (1 to 40).map(i => s"tok$i").mkString(" ")
    val wrapper = core + " " + (1 to 80).map(i => s"pad$i").mkString(" ")
    val others = (3L to 27L).map(i =>
      (i, core + " " + (100 to 120).map(j => s"x${i}y$j").mkString(" ")))
    val saturated = ((1L, core) +: (2L, wrapper) +: others).toDF("doc_id", "text")

    // capture graft.llm.Dedup WARNs through a dedicated log4j2 logger
    // config (the suite runs with root at ERROR)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val app = new AbstractAppender("dedup-warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig("graft.llm.Dedup", Level.WARN, true)
    lc.addAppender(app, Level.WARN, null)
    cfg.addLogger("graft.llm.Dedup", lc)
    ctx.updateLoggers()
    try {
      assert(Dedup.containmentPairs(saturated, "doc_id", "text",
        n = 3, minContainment = 0.5, maxDf = 20).count() === 0L)
      assert(captured.toArray.exists(_.toString.contains(
        "containmentPairs: df-capped gram index is SATURATED")),
        s"expected a saturation warning, got: ${captured.toArray.mkString("; ")}")
      captured.clear()
      // the ingest gate warns too (its pairable predicate admits df = 1,
      // so saturate it with replicas only — no unique junction grams)
      val replicas = (10L to 34L).map(i => (i, core))
      val ingest = ((2L, wrapper) +: replicas).toDF("doc_id", "text")
      Dedup.containmentIncremental(ingest, "doc_id", "text",
        col("doc_id") === 2L, n = 3, minContainment = 0.5, maxDf = 20).count()
      assert(captured.toArray.exists(_.toString.contains(
        "containmentIncremental: df-capped gram index is SATURATED")),
        s"expected an ingest saturation warning, got: ${captured.toArray.mkString("; ")}")
      captured.clear()
      // healthy corpus: the wrapped-superset pair is pairable → no warning
      val plain = Seq((1L, core), (2L, wrapper),
        (3L, (100 to 130).map(i => s"body$i").mkString(" "))).toDF("doc_id", "text")
      assert(Dedup.containmentPairs(plain, "doc_id", "text",
        n = 3, minContainment = 0.5, maxDf = 20).count() === 1L)
      assert(!captured.toArray.exists(_.toString.contains("SATURATED")),
        s"no warning expected on the healthy corpus, got: ${captured.toArray.mkString("; ")}")
      captured.clear()
      // duplicate-free corpus: every gram df = 1 — ZERO pairable grams but
      // also zero grams above the cap; no cap is involved and raising
      // maxDf changes nothing, so the warning must stay quiet (ADVICE
      // r13: the old total-saturation check claimed "SATURATED at maxDf"
      // here and advised a useless knob turn)
      val unique = (1L to 5L).map(i =>
        (i, (1 to 30).map(j => s"u${i}w$j").mkString(" "))).toDF("doc_id", "text")
      assert(Dedup.containmentPairs(unique, "doc_id", "text",
        n = 3, minContainment = 0.5, maxDf = 20).count() === 0L)
      assert(!captured.toArray.exists(_.toString.contains("SATURATED")),
        "no warning expected on a duplicate-free (all df=1) corpus, got: " +
          captured.toArray.mkString("; "))
    } finally {
      cfg.removeLogger("graft.llm.Dedup")
      ctx.updateLoggers()
      app.stop()
    }
  }

  test("incremental containment estimate: catches the above-cap re-fetch " +
       "the df-capped ingest gate misses") {
    val s = spark; import s.implicits._
    val core = (1 to 40).map(i => s"tok$i").mkString(" ")
    val wrapper = core + " " + (1 to 80).map(i => s"pad$i").mkString(" ")
    // corpus: the wrapper plus 25 replicas of the core passage → every
    // core gram has corpus df = 26 > maxDf = 20, so dd20's capped index
    // drops all of them; the batch re-fetches the trimmed core (id 7)
    val replicas = (10L to 34L).map(i =>
      (i, core + " " + (100 to 120).map(j => s"x${i}y$j").mkString(" ")))
    val docs = ((2L, wrapper) +: (7L, core) +: replicas).toDF("doc_id", "text")
    val isNew = col("doc_id") === 7
    assert(Dedup.containmentIncremental(docs, "doc_id", "text", isNew,
      n = 3, minContainment = 0.5, maxDf = 20).count() === 0L,
      "df-capped ingest gate should be blind to this corpus")
    val est = Dedup.containmentEstimateIncremental(docs, "doc_id", "text",
      isNew, n = 3, numHashes = 32, minContainment = 0.5,
      maxSizeRatio = 8.0, maxBucket = 100).collect()
    val pairs = est.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 2L)), s"missed the wrapped re-fetch: $pairs")
    // only batch→corpus rows exist (in-batch pairing is dd21's job)
    assert(est.forall(_.getLong(0) == 7L))
    val r = est.find(x => x.getLong(1) == 2L).get
    assert(r.getDouble(5) === 1.0) // c_new: the core is fully held already

    // same-id re-fetch reads SPLIT sides: id 2's NEW trimmed text
    // compares against id 2's HELD wrapper (dd20's semantics)
    val refetch = Seq((2L, wrapper), (2L, core)).toDF("doc_id", "text")
    val rf = Dedup.containmentEstimateIncremental(refetch, "doc_id", "text",
      col("text") === core, n = 3, numHashes = 32, minContainment = 0.5,
      maxSizeRatio = 8.0, maxBucket = 100).collect()
    assert(rf.length === 1)
    assert((rf.head.getLong(0), rf.head.getLong(1)) === (2L, 2L))
    assert(rf.head.getInt(2) === 38 && rf.head.getDouble(5) === 1.0)
  }

  test("containment estimate ≡ brute force on seeded random corpora " +
       "(full rule replica, cap-drop path exercised)") {
    val s = spark; import s.implicits._
    val n = 3; val nh = 32; val minC = 0.5; val maxRatio = 8.0
    // maxBucket deliberately TINY so the hot-bucket drop path (the
    // documented recall guard) is part of what the replica must match
    val maxBucket = 5
    // the EXACT operator rules in plain Scala: same tokenize/grams (the
    // dd19 replica's), md5-28 gram hash, LCG signature family, r=1
    // banding with the cap, per-pair J* sketch filter at 2.5σ, exact
    // verify, floor-rounding
    val P = 268435399L
    def coef(i: Int) = ((2L * i + 3) * 12582917L % P, (i + 1) * 15485863L % P)
    def md5_28(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
    }
    def gramsOf(text: String): Set[Long] = {
      val tk = text.toLowerCase.split("\\s+", -1).toSeq
      val upper = math.max(tk.length - (n - 1), 1)
      (1 to upper).map(i => tk.slice(i - 1, i - 1 + n).mkString(" "))
        .toSet.map(md5_28)
    }
    def sigOf(hs: Set[Long]): IndexedSeq[Long] =
      (0 until nh).map { i =>
        val (a, b) = coef(i); hs.map(h => (h * a + b) % P).min
      }
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
    // the shared filter+verify tail: size ratio, J* − 2.5σ sketch
    // filter, exact intersect, threshold, rounding — identical algebra
    // and operation ORDER to estimateFilter/verifyContainment
    def tail(a: Long, b: Long, g: Map[Long, Set[Long]],
             sig: Map[Long, IndexedSeq[Long]]):
        Option[(Long, Long, Int, Int, Int, Double, Double, Double)] = {
      val n1 = g(a).size; val n2 = g(b).size
      if (math.max(n1, n2).toDouble / math.min(n1, n2) > maxRatio) return None
      val agree = (0 until nh).count(i => sig(a)(i) == sig(b)(i))
      val jHat = agree.toDouble / nh
      val minN = math.min(n1, n2).toDouble
      val jStar = minC * minN / ((n1 + n2) - minC * minN)
      val sigma = math.sqrt(jStar * (1.0 - jStar) / nh)
      if (jHat < jStar - 2.5 * sigma) return None
      val cEst = jHat * (n1 + n2) / ((1.0 + jHat) * minN)
      val shared = (g(a) & g(b)).size
      val c1 = shared.toDouble / n1; val c2 = shared.toDouble / n2
      if (math.max(c1, c2) < minC) None
      else Some((a, b, n1, n2, shared, r4(c1), r4(c2), r4(cEst)))
    }
    def brute(docs: Seq[(Long, String)]):
        Set[(Long, Long, Int, Int, Int, Double, Double, Double)] = {
      val g = docs.map { case (id, t) => id -> gramsOf(t) }.toMap
      val sig = g.map { case (id, hs) => id -> sigOf(hs) }
      val buckets = (for { (id, sg) <- sig.toSeq; i <- 0 until nh }
        yield ((i, sg(i)), id)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val cands = buckets.values
        .filter(ds => ds.size >= 2 && ds.size <= maxBucket)
        .flatMap(_.toSeq.sorted.combinations(2).map { case Seq(a, b) => (a, b) })
        .toSet
      cands.flatMap { case (a, b) => tail(a, b, g, sig) }
    }
    def bruteInc(docs: Seq[(Long, String)], isNew: Long => Boolean):
        Set[(Long, Long, Int, Int, Int, Double, Double, Double)] = {
      val g = docs.map { case (id, t) => id -> gramsOf(t) }.toMap
      val sig = g.map { case (id, hs) => id -> sigOf(hs) }
      val corpus = docs.map(_._1).filterNot(isNew)
      val batch = docs.map(_._1).filter(isNew)
      // corpus bucket index, floor 1 (a single-doc bucket still pairs)
      val cBuckets = (for { c <- corpus; i <- 0 until nh }
        yield ((i, sig(c)(i)), c)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
        .filter(_._2.size <= maxBucket)
      val cands = (for {
        b <- batch; i <- 0 until nh
        c <- cBuckets.getOrElse((i, sig(b)(i)), Set.empty)
      } yield (b, c)).toSet
      cands.flatMap { case (b, c) => tail(b, c, g, sig) }
    }
    val rnd = new scala.util.Random(47)
    val vocab = (0 until 25).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val bases = (0L until 12L).map { id =>
        id -> Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // planted supersets exercise the containment-specific path; the
      // small vocab makes shared mins (and capped buckets) common
      val docs = bases ++ Seq(
        20L -> (bases(0)._2 + " " + Seq.fill(15)(vocab(rnd.nextInt(vocab.size))).mkString(" ")),
        21L -> bases(1)._2)
      val got = Dedup.containmentEstimatePairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", n, nh, minC, maxRatio, maxBucket).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSet
      assert(got === brute(docs), s"trial $trial diverged from the brute rule")
      val isNew = (id: Long) => id >= 20L
      val gotInc = Dedup.containmentEstimateIncremental(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          col("doc_id") >= 20L, n, nh, minC, maxRatio, maxBucket).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSet
      assert(gotInc === bruteInc(docs, isNew),
        s"trial $trial (incremental) diverged from the brute rule")
    }
  }

  test("containment ≡ brute force on seeded random corpora (full rule replica)") {
    val s = spark; import s.implicits._
    val n = 3; val maxDf = 6; val minC = 0.3
    // the EXACT operator rules in plain Scala: same tokenize (split keeps
    // trailing empties like Spark's split), same short-tail gram (slice
    // past the end truncates), same df-capped candidate gen, same
    // floor-rounding
    def gramsOf(text: String): Set[String] = {
      val tk = text.toLowerCase.split("\\s+", -1).toSeq
      val upper = math.max(tk.length - (n - 1), 1)
      (1 to upper).map(i => tk.slice(i - 1, i - 1 + n).mkString(" ")).toSet
    }
    def brute(docs: Seq[(Long, String)]): Set[(Long, Long, Int, Int, Int, Double, Double)] = {
      val g = docs.map { case (id, t) => id -> gramsOf(t) }.toMap
      val df = g.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
      val pairable = df.collect { case (k, c) if c >= 2 && c <= maxDf => k }.toSet
      def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
      (for {
        Seq(a, b) <- docs.map(_._1).sorted.combinations(2).toSeq
        if (g(a) & g(b)).exists(pairable.contains)
        shared = (g(a) & g(b)).size
        c1 = shared.toDouble / g(a).size; c2 = shared.toDouble / g(b).size
        if math.max(c1, c2) >= minC
      } yield (a, b, g(a).size, g(b).size, shared, r4(c1), r4(c2))).toSet
    }
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 25).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val bases = (0L until 10L).map { id =>
        id -> Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // plant two supersets so the containment-specific path is exercised
      val docs = bases ++ Seq(
        20L -> (bases(0)._2 + " " + Seq.fill(15)(vocab(rnd.nextInt(vocab.size))).mkString(" ")),
        21L -> bases(1)._2)
      val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", n, minC, maxDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getDouble(5), r.getDouble(6))).toSet
      assert(got === brute(docs), s"trial $trial diverged from the brute-force rule")
    }
  }

  test("span coverage: minDf raises the sharing bar") {
    val s = spark; import s.implicits._
    val common = "alpha bravo charlie delta echo foxtrot golf hotel"
    val df = Seq((1L, common), (2L, common), (3L, common)).toDF("doc_id", "text")
    def shared(minDf: Int) =
      Dedup.spanCoverage(df, "doc_id", "text", l = 8, minDf = minDf)
        .agg(sum("n_shared")).collect()(0).getLong(0)
    assert(shared(2) === 3L)   // gram in all 3 docs counts everywhere
    assert(shared(3) === 3L)   // still >= 3 docs
    assert(shared(4) === 0L)   // bar above corpus-wide frequency
  }

  test("span family is skew-safe: a gram in EVERY doc never buffers a per-gram occurrence list") {
    val s = spark; import s.implicits._
    // worst-case skew: one boilerplate 8-gram present in all 200 docs.
    // The scale contract (VERDICT r9 item 1): no Aggregate keyed by the
    // gram may hold a collect_list — per-gram state must be constant
    // (min / count), with occurrences delivered back via a JOIN, so a
    // gram in 10^8 docs costs task time, never unbounded task memory.
    val common = "alpha bravo charlie delta echo foxtrot golf hotel"
    val df = (0L until 200L).map(i => (i, s"$common uniq$i")).toDF("doc_id", "text")

    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def gramKeyedListAggs(q: org.apache.spark.sql.DataFrame): Seq[Aggregate] =
      q.queryExecution.optimizedPlan.collect {
        case a: Aggregate
          if a.aggregateExpressions.exists(_.toString.contains("collect_list")) &&
             !a.groupingExpressions.forall(_.toString.contains("doc_id")) => a
      }

    val cov = Dedup.spanCoverage(df, "doc_id", "text", l = 8)
    assert(gramKeyedListAggs(cov).isEmpty,
      "spanCoverage must not collect per-gram occurrence lists")
    // every doc: 2 gram positions (common prefix + unique tail), exactly
    // the prefix position shared -> run 1 -> span 8 tokens
    val covRows = cov.orderBy("doc_id").collect()
    assert(covRows.length === 200)
    assert(covRows.forall(r => r.getLong(1) === 2L && r.getLong(2) === 1L
      && r.getLong(4) === 8L))

    val rem = Dedup.spanRemoval(df, "doc_id", "text", l = 8)
    assert(gramKeyedListAggs(rem).isEmpty,
      "spanRemoval's only collect_list must be the per-doc reassembly")
    // doc 0 keeps all 9 tokens; every later doc loses the 8-token prefix
    val remRows = rem.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(remRows(0) === ((0L, 9L, s"$common uniq0")))
    assert(remRows.drop(1).zipWithIndex.forall { case ((i, k, t), j) =>
      i === j + 1L && k === 1L && t === s"uniq${j + 1}" })
  }

  test("span removal's shuffled-join fallback is AQE-skew-splittable (the 100x contract)") {
    // the skew-safe rewrite's fallback story: when the remover set
    // outgrows a broadcast, positions join it SHUFFLED on the gram key,
    // and a hot gram must be split by AQE's skew-join handling — a JOIN
    // can be split, the old per-gram collect_list aggregate could not.
    // Pin that OptimizeSkewedJoin actually fires on this shape: one key
    // carrying 200k rows against flat keys, thresholds lowered so the
    // tiny corpus triggers the optimizer, broadcast disabled to force
    // the shuffled join (exactly the fallback regime).
    val s = spark; import s.implicits._
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100000",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50000",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = conf.map { case (k, _) => k -> s.conf.getOption(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // checkpoints mirror spanRemoval's production shape (positions and
      // the remover set are both materialized) — AND they are what makes
      // the split possible: OptimizeSkewedJoin only matches a join whose
      // children are bare shuffle stages, so an aggregate fused into the
      // join stage would block it (verified: without the checkpoint the
      // rule bails and the hot partition runs unsplit)
      val positions = (0L until 220000L).map { i =>
        (if (i < 200000L) "hot" else s"g${i % 997}", i)
      }.toDF("gram", "id").localCheckpoint()
      val firstDoc = positions.groupBy("gram").agg(min(col("id")).as("fd"))
        .localCheckpoint()
      val joined = positions.join(firstDoc, Seq("gram")).filter(col("id") > col("fd"))
      // collect THIS frame (count() would execute a different
      // QueryExecution and leave this one's adaptive plan unfinalized)
      assert(joined.collect().length === 219002) // all but one row per gram (998 grams)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"AQE did not split the hot gram:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  test("incremental dedup is idempotent against the grown corpus") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "old text a"), (2L, "old text b")).toDF("doc_id", "text")
    val batch = Seq((10L, "fresh one"), (11L, "fresh two")).toDF("doc_id", "text")
    val first = Dedup.incrementalExact(batch, corpus, "doc_id", "text")
    // replaying the same batch against corpus ∪ survivors keeps nothing
    val replay = Dedup.incrementalExact(batch, corpus.union(first), "doc_id", "text")
    assert(first.count() === 2L)
    assert(replay.count() === 0L)
  }

  test("corpus shuffle: two-level rank equals the global permutation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(shards: Int) =
      TextAnalysis.corpusShuffle(docs, "doc_id", nShards = shards)
        .select("doc_id", "shuffle_pos").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val single = run(1) // degenerate = one global sort
    assert(run(32) === single, "32 shards must reproduce the global rank")
    // a permutation: every position 1..n exactly once
    assert(single.map(_._2).sorted === (1L to single.length).toArray)
  }

  test("span coverage: shared verbatim spans are found and measured") {
    val s = spark; import s.implicits._
    // a 10-token block shared verbatim between docs 1 and 2
    val common = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val df = Seq(
      (1L, s"one two three $common x1 y1 z1"),
      (2L, s"$common p2 q2 r2 s2 t2"),
      (3L, "totally unrelated words only here nothing shared at all today")
    ).toDF("doc_id", "text")
    def run(hashed: Boolean) =
      Dedup.spanCoverage(df, "doc_id", "text", l = 8, hashGrams = hashed)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val byString = run(false)
    // doc 1: 16 tokens -> 9 gram positions; the 8-grams lying fully inside
    // the common block start at positions 4..6 -> run of 3 -> span 3+7=10
    // tokens (exactly the planted block). doc 3: nothing shared.
    assert(byString === Array((1L, 9L, 3L, 10L), (2L, 8L, 3L, 10L), (3L, 3L, 0L, 0L)))
    assert(run(true) === byString, "hashed grams must reproduce the string-gram signal")
  }

  test("per-group cap: salted two-level top-k equals the single-window form") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(salts: Int) =
      TextAnalysis.capPerGroup(docs, "source", "doc_id", k = 10, nSalts = salts)
        .select("doc_id", "source", "cap_rank").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val single = run(1) // degenerate = one plain window per group
    assert(run(4) === single, "4 salts must match the single-window cap")
    assert(run(16) === single, "16 salts must match the single-window cap")
    // the cap bites: 20 sources x 25 docs -> exactly 10 survivors each
    assert(single.length === 200)
    assert(single.groupBy(_._2).forall(_._2.map(_._3).sorted.toSeq == (1 to 10)))
  }

  test("repetition features: duplicate grams and top-word coverage") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),          // all 3-grams identical
      (2L, "every word here is fully distinct now"))  // no repeats
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(df, "text")
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "dup_gram_ratio", "top_word_ratio")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    // doc 1: 4 grams, 1 distinct → dup ratio 3/4; "spam" covers 6/6 words
    assert(out(0) === ((1L, 4, 0.75, 1.0)))
    // doc 2: 5 grams all distinct; every word covers 1/7
    assert(out(1)._2 === 5 && out(1)._3 === 0.0)
    assert(math.abs(out(1)._4 - 1.0 / 7) < 1e-6)
  }

  test("fused repetition kernel is bit-equal to the Column composition on real docs") {
    val s = spark; import s.implicits._
    // hostile extras: empty, whitespace-edges, single token, all-same
    val extras = Seq((9001L, ""), (9002L, "  padded  edges  "), (9003L, "one"),
      (9004L, "x x x x x x x x")).toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(extras)
    def run(fused: Boolean) =
      TextAnalysis.repetitionFeatures(docs, "text", fused = fused)
        .select("doc_id", "n_grams", "dup_gram_ratio", "top_word_ratio")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(run(true) === run(false))
  }

  test("decontamination drops exactly the docs sharing a benchmark n-gram") {
    val s = spark; import s.implicits._
    val bench = Seq((100L, "the secret eval question about purple elephants in winter storms"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "training text containing the secret eval question about purple elephants in winter storms verbatim"),
      (2L, "clean text about gardens and rivers with nothing borrowed at all here"),
      (3L, "purple elephants appear but the full eight gram window never matches this"))
      .toDF("doc_id", "text")
    val surv = Dedup.decontaminate(docs, "doc_id", "text", bench, "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(surv === Array(2L, 3L))
    // hashed and string gram paths agree
    val survStr = Dedup.decontaminate(docs, "doc_id", "text", bench, "text",
        hashGrams = false)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survStr === surv)
  }

  /** Runs `body` on each of connectedComponents' paths for an input of
    * `k` distinct oriented edges: the driver finish (the default budget),
    * the rounds only (budget -1), and rounds until the edge set fits a
    * budget one edge short of the input, then the driver finish (a forest
    * never shrinks, so there the rounds run to the end). */
  private def onEachCcPath(k: Long)(body: String => Unit): Unit =
    Seq("driver finish" -> None, "rounds" -> Some("-1"),
        "rounds, then driver finish" -> Some((16 * (k - 1)).toString)).foreach {
      case (path, budget) => withBudget(budget)(body(path))
    }

  /** Runs `body` under the given broadcast budget, or the default one. */
  private def withBudget[A](budget: Option[String])(body: => A): A =
    budget.fold(body)(b => withConf("spark.sql.autoBroadcastJoinThreshold" -> b)(body))

  private def orientedEdges(es: Seq[(Long, Long)]): Long =
    es.filter(e => e._1 != e._2).map(e => (e._1 max e._2, e._1 min e._2)).distinct.size.toLong

  test("connected components: chain, star, forest, singletons") {
    val s = spark; import s.implicits._
    // chain 1-2-3-...-8 (worst case for label propagation: diameter 7)
    val chainEdges = (1L to 7L).map(i => (i, i + 1))
    val chain = chainEdges.toDF("id1", "id2")
    onEachCcPath(orientedEdges(chainEdges)) { path =>
      val cc1 = Dedup.connectedComponents(chain).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(cc1 === (1L to 8L).map(_ -> 1L).toMap, s"$path: chain collapses to min")
    }
    // two components + reversed/duplicated/self-loop edges
    val messyEdges = Seq((5L, 3L), (3L, 5L), (4L, 4L), (3L, 4L), (10L, 11L), (11L, 10L))
    val messy = messyEdges.toDF("a", "b")
    val nodes = (1L to 12L).toDF("id")
    onEachCcPath(orientedEdges(messyEdges)) { path =>
      val cc2 = Dedup.connectedComponents(messy).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(cc2 === Map(3L -> 3L, 4L -> 3L, 5L -> 3L, 10L -> 10L, 11L -> 10L), path)
      // labelComponents: nodes absent from edges are singletons of themselves
      val labeled = Dedup.labelComponents(nodes, "id", messy).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(labeled(4L) == 3L && labeled(11L) == 10L, path)
      assert(Seq(1L, 2L, 6L, 7L, 8L, 9L, 12L).forall(i => labeled(i) == i), path)
    }
  }

  test("connected components match union-find on randomized graphs") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    // driver-side union-find as the independent reference
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // path-compress to the minimum root
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(36)
      val m = rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val expected = unionFind(n, edges)
      val nodes = (0L until n.toLong).toDF("id")
      onEachCcPath(orientedEdges(edges)) { path =>
        val got = Dedup.labelComponents(nodes,
            "id", edges.toDF("id1", "id2")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got === expected, s"$path, trial $trial: n=$n edges=$edges")
      }
    }
  }

  test("connected components: within the budget the job count does not grow with the graph, and nothing stays persisted") {
    val s = spark; import s.implicits._
    def chain(n: Long) = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    // the rounds would need more of themselves for the longer chain
    val Seq(j8, j64) = Seq(8L, 64L).map(n => jobsOf(Dedup.connectedComponents(chain(n)).collect()))
    assert(j8 === j64, s"$j8 jobs on the 8-node chain, $j64 on the 64-node chain")
    // the driver finish pays no rounds set-up: the distinct, its checkpoint
    // and the signature aggregate once took 5 jobs here before the collect
    assert(j8 < 5, s"$j8 jobs on the 8-node chain")
    assert(sc.getPersistentRDDs.keySet === persisted)
    // K6: 15 edges become a 5-edge star in one round, so a 14-edge budget
    // runs exactly one round before the driver finish, and -1 runs two
    val k6 = (for (a <- 1L to 6L; b <- a + 1 to 6L) yield (a, b)).toDF("id1", "id2")
    val Seq(driver, oneRound, rounds) = Seq(None, Some("224"), Some("-1")).map { t =>
      jobsOf(withBudget(t) {
        val cc = Dedup.connectedComponents(k6).as[(Long, Long)].collect().toMap
        assert(cc === (1L to 6L).map(_ -> 1L).toMap, s"budget $t")
      })
    }
    assert(driver < oneRound && oneRound < rounds, s"jobs: $driver, $oneRound, $rounds")
  }

  test("connected components on hostile input: integer ids stay integer, null endpoints and self-loop-only nodes are dropped, on both paths") {
    val s = spark; import s.implicits._
    val edges = Seq((Some(1), Some(2)), (Some(3), Some(2)), (None, Some(4)), (Some(5), None),
      (Some(6), Some(6)), (Some(7), Some(7)), (Some(8), Some(7)), (None, None)).toDF("a", "b")
    for (t <- Seq(None, Some("-1"))) withBudget(t) {
      val cc = Dedup.connectedComponents(edges)
      assert(cc.schema.map(_.dataType.typeName) === Seq("integer", "integer"), s"budget $t")
      assert(cc.as[(Int, Int)].collect().toMap ===
        Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7), s"budget $t")
    }
  }

  test("neardup survivors keep one doc per transitive cluster") {
    val s = spark; import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then it sleeps in the sun"
    // 0 ~ 1 and 1 ~ 2 by construction; 0 ~ 2 may fall below threshold —
    // pairwise dedup could keep {0, 2}, clustering must keep exactly {0, 5}
    val docs = Seq(
      (0L, base),
      (1L, base.replace("lazy", "sleepy")),
      (2L, base.replace("lazy", "sleepy").replace("quick", "rapid")),
      (5L, "completely different words about ships and harbors at dawn tide"))
      .toDF("doc_id", "text")
    val surv = Dedup.neardupSurvivors(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(surv === Array(0L, 5L))
    val comps = Dedup.neardupComponents(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps(0L) == 0L && comps(1L) == 0L && comps(2L) == 0L && comps(5L) == 5L)
  }

  test("dd6c fast components: labels == union-find closure of its own " +
       "verified pairs on the real corpus, and are id-relabel-equivariant") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val args = (5, 8, 4, 0.5) // k, bands, rows, threshold — dd6c's exact call
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text",
        args._1, args._2, args._3, args._4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = Dedup.neardupComponents(docs, "doc_id", "text",
        args._1, args._2, args._3, args._4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: driver-side union-find over the SAME verified pair set,
    // min-id label per class — the semantics large-star/small-star must
    // converge to regardless of hash family or iteration order
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val want = ids.map(i => i -> find(i)).toMap
    assert(got === want)
    assert(got.values.toSet.size < ids.length, "corpus has real near-dup clusters")
    // id-relabel equivariance: edges depend on text only and f(x)=2x+11 is
    // monotone, so labels (class minima) must map through f exactly
    val relabeled = docs.select((col("doc_id") * 2 + 11).as("doc_id"), col("text"))
    val got2 = Dedup.neardupComponents(relabeled, "doc_id", "text",
        args._1, args._2, args._3, args._4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 === got.map { case (k, v) => (2 * k + 11, 2 * v + 11) })
  }

  test("bloom-pruned decontamination ≡ broadcast decontamination on the " +
       "production hashed grams (the Bloom only prunes)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 17 =!= 0)
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val exact = Dedup.decontaminate(train, "doc_id", "text", bench, "text",
        n = 8, hashGrams = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Dedup.decontaminateBloom(train, "doc_id", "text", bench, "text",
        n = 8, hashGrams = true, fpp = 0.05) // high fpp: the exact verify must absorb it
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom === exact)
    assert(exact.size < train.count(), "the screen actually drops contaminated docs")
  }

  test("charShingles signatures equal byte signatures on ASCII, diverge on CJK") {
    val s = spark; import s.implicits._
    val ascii = Seq((1L, "the quick brown fox jumps"), (2L, "pack my box with five dozen"))
      .toDF("doc_id", "text")
    val byteSig = Dedup.signatures(ascii, "doc_id", "text", k = 5, numHashes = 16)
      .orderBy("doc").collect().map(_.getSeq[Long](1))
    val charSig = Dedup.signatures(ascii, "doc_id", "text", k = 5, numHashes = 16,
        charShingles = true)
      .orderBy("doc").collect().map(_.getSeq[Long](1))
    assert(byteSig === charSig, "byte windows == char windows for ASCII")
    val cjk = Seq((1L, "春眠不覚暁処処聞啼鳥夜来風雨声花落知多少"))
      .toDF("doc_id", "text")
    val b = Dedup.signatures(cjk, "doc_id", "text", k = 5, numHashes = 16)
      .collect().head.getSeq[Long](1)
    val c = Dedup.signatures(cjk, "doc_id", "text", k = 5, numHashes = 16,
        charShingles = true)
      .collect().head.getSeq[Long](1)
    assert(b !== c, "multi-byte text shingles differently by bytes vs chars")
  }

  test("curation pipeline: quality gate, lang gate, exact then near dedup") {
    val s = spark; import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then it sleeps in the sun"
    val docs2 = Seq(
      (0L, base),                                   // kept
      (1L, base),                                   // exact dup → dropped
      (2L, base.replace("lazy", "sleepy")),         // near dup of 0 → dropped
      (3L, "der hund und die katze ist nicht mit"), // lang != en → dropped
      (4L, "!!! ??? ;;; ### 123 456 789 000 111"),  // low quality → dropped
      (5L, "a completely different english document that the filter keeps because it is clean")
    ).toDF("doc_id", "text")
    val kept = Curation.curated(docs2, "doc_id", "text",
        Curation.Config(minQuality = 0.3, keepLangs = Seq("en"), nearDupThreshold = 0.6))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(0L, 5L))
  }

  test("multimodal: media table schema, deterministic stub features, frame counts") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "x" * 300), (2L, "y" * 10)).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(df, "doc_id", "text")
    assert(media.columns.toSeq === Seq("media_id", "content", "meta"))
    val nb = media.select(col("meta.n_bytes")).collect().map(_.getLong(0)).sorted
    assert(nb === Array(10L, 300L))
    val f1 = Multimodal.extractFeatures(media, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f2 = Multimodal.extractFeatures(media, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1 === f2) // stub is deterministic
    assert(f1(1L).length === 4)
    // frames: 300 bytes → ceil(300/64)=5 chunks → stride 4 → idx 0,4 → 2 frames
    val frames = Multimodal.sampleFrames(media, chunk = 64, stride = 4)
      .groupBy("media_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frames(1L) === 2L)
    assert(frames(2L) === 1L)
  }

  test("multimodal real codec: PNG round-trip is lossless vs the formula, " +
       "resize + aHash replay, pattern-sharing images collide") {
    val s = spark; import s.implicits._
    // 32 ids = 16 patterns × 2 brightness offsets (ids i and i+16 share a
    // pattern, differ by a flat +1 luma offset)
    val ids = (0L until 32L).toDF("doc_id")
    val media = Multimodal.imageTable(ids, "doc_id")
    // the PNG payloads really are PNGs (magic bytes) and byte-distinct
    val payloads = media.select("media_id", "content").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(payloads.values.forall(b =>
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'))
    assert(payloads.values.map(_.toSeq).toSet.size === 32)
    // decode round-trip: every decoded pixel equals the generator formula
    val px = Multimodal.decodePixels(payloads(7L))
    assert(px.length === 32 * 32)
    for (y <- 0 until 32; x <- 0 until 32) {
      val (r, g, b) = Multimodal.synthRgb(7L, x, y)
      assert(px(y * 32 + x) === ((r << 16) | (g << 8) | b))
    }
    // real NN resize rewrites content to a decodable 8×8 PNG whose pixels
    // are the stride-4 samples of the source
    val rs = Multimodal.imageResizeNN(media, 8, 8)
      .filter(col("media_id") === 7L).head()
    val rpx = Multimodal.decodePixels(rs.getAs[Array[Byte]]("content"))
    assert(rpx.length === 64)
    for (dy <- 0 until 8; dx <- 0 until 8)
      assert(rpx(dy * 8 + dx) === px(dy * 4 * 32 + dx * 4))
    // aHash: ids sharing a pattern (i, i+16) collide; distinct patterns
    // get distinct fingerprints → exactly 16 groups of 2, min-id survivor
    val groups = Multimodal.imagePerceptualDedup(media).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)), r.getBoolean(3)))
    val byHash = groups.groupBy(_._2)
    assert(byHash.size === 16)
    assert(byHash.values.forall(g => g.length == 2 &&
      g.map(_._1).toSet == Set(g.map(_._1).min, g.map(_._1).min + 16)))
    assert(groups.forall { case (id, _, surv) => surv == (id < 16) })
  }

  test("multimodal lossy codec: JPEG round trip stays inside the tolerance band " +
       "and the perceptual-dedup partition survives") {
    val s = spark; import s.implicits._
    // the mm6-mm9 corpus shape: 64 ids = 16 patterns x 4 brightness
    // offsets — the planted near-dup groups the lossy gate must preserve
    val media = Multimodal.imageTable((0L until 64L).toDF("doc_id"), "doc_id")
    val rows = Multimodal.jpegStability(media, quality = 0.85f).collect()
    assert(rows.length === 64)
    val maxDelta = rows.map(_.getDouble(1)).max
    val meanDelta = rows.map(_.getDouble(2)).max
    val hams = rows.map(_.getInt(3))
    val stable = rows.count(_.getBoolean(6))
    info(f"q=0.85: max block delta $maxDelta%.3f, worst mean $meanDelta%.3f, " +
      f"max hamming ${hams.max}, stable $stable/64")
    // the q=0.85 band (observed: delta ~0.58, hamming <= 5, 51/64 stable).
    // NOTE: JPEG output is implementation-defined — the TIGHT bounds
    // below encode the pinned JDK 17 ImageIO writer (with headroom), so
    // they gate only when the runtime matches the pin; on any other
    // JDK/ImageIO plugin the suite keeps loose any-sane-codec bounds and
    // the structural claims (tolerant groups stable, q=0.95 partition
    // identical) which are the PIPELINE's actual contract, not codec bytes
    val pinnedJdk = System.getProperty("java.specification.version") == "17"
    if (pinnedJdk) {
      assert(maxDelta <= 2.0, s"block-mean luma drifted $maxDelta levels under JPEG")
      assert(meanDelta <= 1.0, s"mean block drift $meanDelta under JPEG")
      assert(hams.max <= 8, s"aHash flipped ${hams.max} bits under q=0.85 JPEG")
      assert(stable >= 48, s"only $stable/64 exact-collision groups survived q=0.85")
    } else {
      info(s"JDK ${System.getProperty("java.specification.version")} != pinned 17: " +
        "tight JPEG bounds skipped, loose bounds + structural claims still gate")
    }
    // any-codec sanity: a remotely standards-conforming JPEG writer at
    // q=0.85 cannot drift a 4x4-block mean by 16 luma levels or flip a
    // third of the fingerprint — this catches broken plumbing everywhere
    assert(maxDelta <= 16.0, s"block-mean luma drifted $maxDelta levels under JPEG")
    assert(hams.max <= 24, s"aHash flipped ${hams.max} bits under q=0.85 JPEG")
    // at archival quality the EXACT partition must be identical: rep_orig
    // == rep_jpeg pointwise <=> the aHash dedup groups coincide
    val hi = Multimodal.jpegStability(media, quality = 0.95f).collect()
    assert(hi.forall(_.getBoolean(6)), "aHash dedup partition changed under q=0.95 JPEG")
    assert(hi.map(_.getInt(3)).max <= (if (pinnedJdk) 2 else 8))
    // the Hamming-TOLERANT index (mm12) IS codec-stable where the exact
    // one is not: distance-3 groups over the q=0.85 corpus equal the
    // groups over the lossless originals (probe: JPEG pattern-mates sit
    // <= 2 bits apart, unrelated patterns >= 6 — comfortable margins on
    // the deterministic corpus)
    def tolerantGroups(m: org.apache.spark.sql.DataFrame) =
      Multimodal.imageHammingDedup(m, maxDist = 3)
        .select("media_id", "min_neighbor", "survivor").orderBy("media_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
          r.getBoolean(2))).toSeq
    val gPng = tolerantGroups(media)
    assert(gPng === tolerantGroups(Multimodal.jpegRecode(media, quality = 0.85f)),
      "distance-3 dedup groups must survive the q=0.85 JPEG round trip")
    // and on the lossless corpus the tolerant index reproduces mm9's 16
    // pattern groups exactly (mates collide at distance 0)
    assert(gPng.count(_._3) === 16)
    assert(gPng.forall { case (id, nb, surv) =>
      if (id < 16) surv && nb == -1L else !surv && nb == id % 16 })

    // the recoded payloads really are JPEGs (SOI marker) and still decode
    val jp = Multimodal.jpegRecode(media, quality = 0.85f)
      .filter(col("media_id") === 3L).head()
    val bytes = jp.getAs[Array[Byte]]("content")
    assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
    assert(jp.getStruct(2).getString(0) === "image/jpeg")
    assert(Multimodal.decodePixels(bytes).length === 32 * 32)
  }

  test("multimodal real audio: WAV round-trip is lossless vs the formula, " +
       "frame features replay") {
    val s = spark; import s.implicits._
    val ids = (0L until 8L).toDF("doc_id")
    val audio = Multimodal.audioTable(ids, "doc_id", n = 1024)
    val payloads = audio.select("media_id", "content").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // payloads are real RIFF/WAVE containers
    assert(payloads.values.forall(b =>
      new String(b, 0, 4, "US-ASCII") == "RIFF" &&
        new String(b, 8, 4, "US-ASCII") == "WAVE"))
    // decode round-trip through the real parser: every sample == formula
    val smp = Multimodal.decodeSamples(payloads(5L))
    assert(smp.length === 1024)
    for (i <- 0 until 1024) assert(smp(i) === Multimodal.synthSample(5L, i))
    // frame features vs a direct recomputation from the formula
    val feats = Multimodal.audioFrameFeatures(audio, frame = 256)
      .filter(col("media_id") === 5L).orderBy("frame_idx")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(feats.length === 4)
    for ((fi, energy, zc, peak) <- feats) {
      val w = (fi * 256 until (fi + 1) * 256).map(Multimodal.synthSample(5L, _))
      assert(energy === w.map(v => v.toLong * v).sum)
      assert(zc === w.sliding(2).count(p => (p(1) < 0) != (p(0) < 0)))
      assert(peak === w.map(math.abs).max)
    }
  }

  test("gopherRules: each rule trips on its designed pathology") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on a mat with food and water today"),  // clean
      (2L, "- one\n- two\n- three"),                           // bullets
      (3L, "## hash ## heavy ## tags ## here ## now"),         // symbols
      (4L, "Waiting for more... and more... still the end..."),// ellipsis
      (5L, "tiny doc here")                                    // too short
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs, "text", minWords = 5)
      .select("doc_id", "r_words", "r_mean_wl", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop", "gopher_pass")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), (1 to 8).map(x.getBoolean)))
    assert(r(0) === ((1L, Seq(true, true, true, true, true, true, true, true))))
    assert(!r(1)._2(3) && !r(1)._2(5) && !r(1)._2.last) // bullets + low alpha
    assert(!r(2)._2(2) && !r(2)._2.last)                // symbol ratio
    assert(!r(3)._2(4) && !r(3)._2.last)                // ellipsis line
    assert(!r(4)._2(0) && !r(4)._2.last)                // word count
  }

  test("weightedSample: deterministic, exact-k, and weight-biased (A-ES)") {
    val s = spark; import s.implicits._
    // ids 1..100 carry weight 1e9, ids 101..200 weight 1: with A-ES keys
    // -ln(u)/w a light item wins only if its u > 1 - ~1e-9 — never on a
    // fixed md5 draw — so every selected id must be heavy.
    val df = (1L to 200L).toDF("doc_id")
      .withColumn("w", when(col("doc_id") <= 100, 1e9).otherwise(1.0))
    val a = TextAnalysis.weightedSample(df, "doc_id", col("w"), k = 50)
      .collect().map(_.getLong(0)).sorted
    val b = TextAnalysis.weightedSample(df, "doc_id", col("w"), k = 50)
      .collect().map(_.getLong(0)).sorted
    assert(a === b)                   // reproducible: no RNG state
    assert(a.length === 50)           // exactly k, without replacement
    assert(a.forall(_ <= 100L))       // all from the heavy stratum
    // equal weights degenerate to rank-by-md5: sample = k largest uniforms
    val eq = (1L to 200L).toDF("doc_id")
    val got = TextAnalysis.weightedSample(eq, "doc_id", lit(1.0), k = 20)
      .collect().map(_.getLong(0)).toSet
    val expect = eq.withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"))
      .orderBy(col("u").desc).limit(20).collect().map(_.getLong(0)).toSet
    assert(got === expect)
  }

  test("line dedup drops cross-doc boilerplate, keeps order, survives empty docs") {
    val s = spark; import s.implicits._
    val df = Seq(
      (0L, "COOKIE BANNER\nunique alpha\nfooter text"),
      (1L, "cookie banner\nunique beta\nfooter text"),   // banner matches case-insensitively
      (2L, "  cookie banner \nunique gamma\nfooter text"), // and after trim
      (3L, "cookie banner\nfooter text"),                // all lines boilerplate
      (4L, "standalone doc\n\nwith an empty line")       // empty lines never boilerplate
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(df, "doc_id", "text", minDf = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((0L, 3L, 1L, "unique alpha")))
    assert(out(1) === ((1L, 3L, 1L, "unique beta")))
    assert(out(2) === ((2L, 3L, 1L, "unique gamma")))
    assert(out(3) === ((3L, 2L, 0L, "")))                // fully-boilerplate doc kept
    // doc 4: nothing recurs 3x; empty line kept; original order preserved
    assert(out(4) === ((4L, 3L, 3L, "standalone doc\n\nwith an empty line")))
  }

  test("dedup normalization folds case, digits, punctuation, whitespace") {
    val s = spark; import s.implicits._
    val out = Seq(
      ("Page 17: Hello,   World!"),
      ("page 42 hello world"),
      ("different content entirely")
    ).toDF("t").select(TextAnalysis.normalizeForDedup(col("t")).as("n"))
      .collect().map(_.getString(0))
    assert(out(0) === "page 00 hello world")
    assert(out(0) === out(1)) // punctuation/number/case twins share the key
    assert(out(2) === "different content entirely")
  }

  test("span removal cuts later occurrences only, case-insensitively") {
    val s = spark; import s.implicits._
    val df = Seq(
      (0L, "a b c d e f"),                 // first occurrence — untouched
      (1L, "x a b c d y"),                 // grams "a b c","b c d" seen in 0
      (2L, "A B C q r s"),                 // case-insensitive match on "a b c"
      (3L, "unique words only here now")   // nothing shared
    ).toDF("doc_id", "text")
    val out = Dedup.spanRemoval(df, "doc_id", "text", l = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((0L, 6L, 6L, "a b c d e f")))
    // covered token range in doc 1: positions 2,3 cover tokens 2..5
    assert(out(1) === ((1L, 6L, 2L, "x y")))
    // original case survives around the cut; matching ignored case
    assert(out(2) === ((2L, 6L, 3L, "q r s")))
    assert(out(3) === ((3L, 5L, 5L, "unique words only here now")))
    // the hashed-gram production path computes the identical corpus
    val hashed = Dedup.spanRemoval(df, "doc_id", "text", l = 3, hashGrams = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(hashed === out)
  }

  test("bloom semi-join is exact: equals the plain semi-join, fp or not") {
    val s = spark; import s.implicits._
    val fact = (1L to 2000L).map(k => (k, k % 97)).toDF("id", "key")
    val keys = (0L to 96L by 3).toDF("k")
    val got = graft.operators.Bloom.semiJoin(fact, keys, "key", "k",
        expected = 100L, fpp = 0.2) // high fpp: false positives certain
      .select("id").collect().map(_.getLong(0)).sorted
    val expect = fact.join(keys.withColumnRenamed("k", "key"), Seq("key"), "left_semi")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("readability: known sentence scores match the hand computation") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"), // 6 words, 2 sentences, 6 syllables
      (2L, "!!! 123 ...")                 // no alphabetic word → NULL scores
    ).toDF("doc_id", "text")
    val r = TextAnalysis.readability(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) === ((6L, 2L, 6L)))
    // 206.835 − 1.015·3 − 84.6·1 = 119.19
    assert(r(0).getDouble(4) === 119.19)
    // 0.39·3 + 11.8·1 − 15.59 = −2.62
    assert(r(0).getDouble(5) === -2.62)
    assert(r(1).isNullAt(4) && r(1).isNullAt(5))
  }

  test("quotaAllocate: hits the budget exactly, stays within 1 of proportional") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "b", 50L),
      (4L, "c", 30L), (5L, "c", 25L), (6L, "d", 10L)
    ).toDF("doc_id", "source", "n_chars")
    val rows = graft.llm.Curation.quotaAllocate(docs, "doc_id", "source",
        col("n_chars"), budget = 10)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    val q = rows.view.mapValues(_._1).toMap
    // weights 200/55/55/10 of 315 → exact 6.349/1.746/1.746/0.317,
    // floors 6/1/1/0 (Σ 8), two leftover seats → the two largest
    // remainders .746/.746 (tie broken by name: b then c)
    assert(q.values.sum === 10L)
    assert(q === Map("a" -> 6L, "b" -> 2L, "c" -> 2L, "d" -> 0L))
    // source a only HAS 2 docs: picked clamps to availability (the
    // shortfall is reported, not silently redistributed)
    assert(rows("a")._2 === 2L)
    assert(rows("b")._2 === 1L) // b has 1 doc, quota 2 → picked 1
  }

  test("quotaAllocate: uniform weights with remainder ties resolve by name") {
    val s = spark; import s.implicits._
    val docs = (1L to 8L).map(i => (i, s"s${i % 4}", 10L))
      .toDF("doc_id", "source", "n_chars")
    val q = graft.llm.Curation.quotaAllocate(docs, "doc_id", "source",
        col("n_chars"), budget = 6)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // 4 sources × exact 1.5 → floors 1 (Σ 4), 2 seats → s0, s1 by name
    assert(q === Map("s0" -> 2L, "s1" -> 2L, "s2" -> 1L, "s3" -> 1L))
  }

  test("corpusOverlap: identical corpora score 1, disjoint score 0, sketch tracks exact") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "alpha", "the quick brown fox jumps over the lazy dog"),
      (2L, "beta",  "the quick brown fox jumps over the lazy dog"),
      (3L, "gamma", "zzzzz yyyyy xxxxx wwwww vvvvv uuuuu qqqqq")
    ).toDF("doc_id", "source", "text")
    val r = Dedup.corpusOverlap(docs, "source", "text", k = 5, numHashes = 32)
      .collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getDouble(5), x.getDouble(6))).toMap
    // alpha ≡ beta: exact jaccard 1 and every sketch component equal
    assert(r(("alpha", "beta")) === ((1.0, 1.0)))
    // gamma shares no 5-shingle with either: both measures 0
    assert(r(("alpha", "gamma"))._1 === 0.0)
    assert(r(("beta", "gamma"))._1 === 0.0)
    assert(r(("alpha", "gamma"))._2 === 0.0)
  }
  test("pqCodeFrozen: folded (large-codebook) form is bit-identical to the inline form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val subDim = 16
    val sliced = emb.select(col("vec_id").cast("long").as("pid"),
      transform(slice(col("embedding"), 1, subDim), _.cast("double")).as("sv"))
    val cents = Ivf.portableCentroids(sliced, "pid", "sv", k = 16, rounds = 2)
    // routing: the registry codebook (16x16 = 256 literals) stays inline;
    // a FAISS-typical 256x17 (4352 > budget) must take the folded path
    assert(16L * subDim <= Ivf.pqInlineLiteralBudget)
    assert(256L * 17 > Ivf.pqInlineLiteralBudget)
    val both = sliced.select(col("pid"),
        Ivf.pqCodeInline(col("sv"), cents).as("ci"),
        Ivf.pqCodeFolded(col("sv"), cents).as("cf"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(1) === r.getInt(2),
      s"pid ${r.getLong(0)}: inline ${r.getInt(1)} != folded ${r.getInt(2)}"))
  }
  test("pairTopKPerDoc: bounded heap equals window-rank over the full listing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cands = Dedup.simhashCandidatesPortable(docs, "doc_id", "text", maxDist = 10)
      .localCheckpoint()
    val k = 3
    val bounded = Dedup.pairTopKPerDoc(cands, "id1", "id2",
        ord = col("dist").cast("double"), k = k)
      .select(col("doc"), col("n_candidates"), col("rank"), col("partner"),
        col("ord").cast("int").as("dist"))
    // reference: symmetrize + window rank over the FULL pair listing
    val sym = cands.select(col("id1").as("doc"), col("id2").as("partner"), col("dist"))
      .unionByName(cands.select(col("id2").as("doc"), col("id1").as("partner"), col("dist")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("dist"), col("partner"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("doc")
    val reference = sym
      .withColumn("rank", row_number().over(w))
      .withColumn("n_candidates", count(lit(1)).over(wc))
      .filter(col("rank") <= k)
      .select(col("doc"), col("n_candidates"), col("rank"), col("partner"), col("dist"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(rows(bounded) === rows(reference))
    // the bound must be a partial+final object-hash aggregate (per-
    // partition heap), not a window over the materialized pair set
    val plan = bounded.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected bounded-heap aggregate plan:\n$plan")
  }

  test("simhashCandidatesPortable finds planted near-dups with distances") {
    val s = spark; import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat watches"
    val docs = Seq(
      (0L, base), (1L, base),                       // exact dup: dist 0
      (2L, base.replace("lazy", "sleepy")),         // near dup: small dist
      (3L, "completely unrelated content about shuffle partitions and codegen budgets")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashCandidatesPortable(docs, "doc_id", "text", maxDist = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got((0L, 1L)) === 0)
    assert(got.contains((0L, 2L)) && got((0L, 2L)) > 0)
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashDiagnostics: counts match a Scala recount of simhashPortable's 15-bit chunks") {
    val fp = Dedup.simhashPortable(docs, "doc_id", "text").collect().map(_.getLong(1))
    val buckets = fp.toSeq.flatMap(h => (0 until 4).map(c => (c, (h >> (c * 15)) & 32767L)))
      .groupBy(identity).values.map(_.size.toLong).toSeq
    val r = Dedup.simhashDiagnostics(docs, "doc_id", "text").head()
    assert(r.getAs[Long]("n_docs") === fp.length.toLong)
    assert(r.getAs[Long]("n_distinct_fp") === fp.distinct.length.toLong)
    val pairs = buckets.map(n => n * (n - 1) / 2).sum
    assert(pairs >= 4, "docs 0 and 1 are identical, so they share all four chunks")
    assert(r.getAs[Long]("bucket_pairs") === pairs)
    assert(r.getAs[Long]("max_bucket") === buckets.max)
  }
}
