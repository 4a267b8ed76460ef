package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC approximate nearest neighbor — IVF coarse quantization composed
  * with product quantization of the RESIDUALS (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 §IV — the exact
  * layout FAISS ships as IndexIVFPQ and the standard billion-scale ANN
  * index). IVF alone (Ivf.scala) bounds how much of the corpus a query
  * scans but pays full vectors inside each cell; PQ alone (Pq.scala)
  * compresses every vector but still scans the whole corpus. IVFADC does
  * both: a query probes `nProbes` cells and ADC-scores only those cells'
  * m-byte codes. Quantizing residuals rather than raw vectors is the
  * paper's key accuracy move — after subtracting the coarse centroid the
  * energy left for PQ to encode is far smaller, so the same code budget
  * quantizes finer.
  *
  * Spark-first composition: the coarse quantizer and the m per-subspace
  * codebooks are k-means fits; residuals are one `zip_with` projection;
  * the codes table is the persisted index (coarse cell + m small codes per
  * id — the inverted file IS `repartition(cell)`); probing is an equi-join
  * on cell id with everything query-sided broadcast (per-query residual
  * LUTs are m·k doubles). Per-query cost ≈ (nProbes/nLists)·corpus rows ×
  * m lookups — the two knobs a 100 TB deployment turns independently.
  *
  * Two forms: [[topK]] is the production path (both quantizer tiers
  * trained by a driver-local seeded Lloyd's over one bounded id-sorted
  * hash sample — the FAISS train posture; deterministic for a fixed
  * corpus but model-shaped, so rows-only with recall +
  * partition-independence pins in LlmSpec); [[portableTopK]] fixes both
  * tiers to the md5-seeded fixed-round Lloyd's of
  * [[Ivf.portableQuantizer]], trained on the rows a `train` predicate
  * selects, so every stage — coarse rounds, frozen assignment,
  * residuals, subspace rounds, probe, ADC, rerank — replays bit-for-bit
  * in DuckDB ([[portableOracleSql]]). A batch search is the ingest
  * search whose every row is trained (sim8b); training on the held
  * corpus only and querying the new batch is FAISS add-after-train
  * (sim9).
  */
object Ivfadc {

  /** `v` minus the centroid of its `cell`, looked up in the driver-held
    * centroid list — a plain IEEE subtraction, bit-identical across
    * engines. */
  private def residual(v: Column, cell: Column, cents: Seq[(Int, Seq[Double])]): Column =
    zip_with(v, element_at(typedLit(cents.map(_._2)), cell + 1), (x, c) => x - c)

  /** Portable IVFADC (sim8b, sim9): coarse portable quantizer (kCoarse
    * cells, coarseRounds Lloyd's) and residual PQ (m subspaces × k codes,
    * pqRounds each, concurrent seeded fits — bit-identical regardless of
    * interleaving), both trained ONLY on the `train` rows; every row is
    * then encoded against the frozen codebooks — cell, residual and m
    * codes, exactly as FAISS `add()` does after `train()` — and the
    * `query` rows search the whole index: cosine probe of nProbes cells
    * (the search metric), squared-L2 residual-ADC shortlist of `rerank`,
    * exact cosine rerank to kTop. Residuals are plain IEEE subtractions
    * of (raw parquet doubles − 6dp-rounded centroids), so the downstream
    * Lloyd's chains stay engine-exact, and retraining on ingest would
    * shift centroids and fail the oracle.
    *
    * `train` and `query` are evaluated against the CALLER's columns, so
    * pass predicates over the `id`/`vec` names you passed in — never
    * over the internal `pid`. */
  def portableTopK(corpus: DataFrame, id: String, vec: String,
                   train: Column, query: Column,
                   kCoarse: Int, coarseRounds: Int,
                   m: Int, k: Int, pqRounds: Int, dim: Int,
                   nProbes: Int, rerank: Int, kTop: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val coarse = Ivf.portableCentroids(corpus.filter(train), id, vec, kCoarse, coarseRounds)
    // checkpointed: read by the m subspace fits, the codes and the rerank;
    // the train/query flags ride on the rows
    val res = Ivf.portableRows(corpus, id, vec, train.as("train"), query.as("query"))
      .withColumn("cell", Ivf.pqCodeFrozen(col("pv"), coarse))
      .withColumn("rv", residual(col("pv"), col("cell"), coarse))
      .ckpt()
    val (books, codes) =
      Pq.portableCodes(res, "rv", col("train"), Seq("pid", "cell"), m, k, pqRounds, subDim)
    val q = res.filter(col("query")).select(col("pid").as("qid"), col("pv").as("qv"))
    // the query residual is taken per probed cell; the in-cell shortlist
    // is the L2 residual ADC over the inverted-file equi-join on cell
    val probed = Ivf.probeCells(q, coarse, nProbes)
      .select(col("qid"), col("cell"), zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    Pq.adcTopK(codes.join(broadcast(probed), "cell"), col("qr"), books, subDim, rerank, res, q, kTop)
  }

  /** DuckDB twin of [[portableTopK]]: the coarse Lloyd's chain over the
    * `trainSql` rows ([[Ivf.lloydCtesSql]], prefix `g`), the frozen
    * nearest-cell assignment of every row, residuals, the subspace codes
    * ([[Pq.codesSql]]), the cosine probe of the `querySql` rows, and the
    * ADC shortlist + cosine rerank ([[Pq.adcTopKSql]]) — the whole
    * IVFADC search as one CTE pipeline. Both predicates are over `pid`. */
  def portableOracleSql(table: String, id: String, vec: String,
                        trainSql: String, querySql: String,
                        kCoarse: Int, coarseRounds: Int,
                        m: Int, k: Int, pqRounds: Int, dim: Int,
                        nProbes: Int, rerank: Int, kTop: Int): String = {
    val subDim = dim / m
    val gc = s"gc$coarseRounds"
    def resid(a: String, b: String) = s"[$a[i] - $b[i] FOR i IN generate_series(1, $dim)]"
    s"""WITH ${Ivf.baseSql(table, id, vec)},
       |train AS MATERIALIZED (SELECT * FROM base WHERE ($trainSql)),
       |${Ivf.lloydCtesSql("train", "g", kCoarse, coarseRounds, dim)},
       |fin AS MATERIALIZED (${Ivf.nearestCellSql("base", gc, dim)}),
       |res AS MATERIALIZED (
       |  SELECT f.pid, f.pv, f.cell, ${resid("f.pv", "c.cv")} AS rv
       |  FROM fin f JOIN $gc c USING (cell)),
       |${Pq.codesSql("res", "rv", trainSql, m, k, pqRounds, subDim)},
       |q AS MATERIALIZED (SELECT pid AS qid, pv AS qv FROM base WHERE ($querySql)),
       |probe AS MATERIALIZED (
       |  SELECT qid, cell, ${Pq.slicesSql("qr", m, subDim)} FROM (
       |    SELECT qid, cell, ${resid("qv", "cv")} AS qr
       |    FROM (${Ivf.probeSql("q", gc, dim, nProbes)}))),
       |${Pq.adcTopKSql("codes c JOIN probe p ON c.cell = p.cell", m, pqRounds, subDim, rerank, dim, kTop)}""".stripMargin
  }

  /** Squared-L2 argmin over driver-held centroids, first minimum wins
    * (ties → smaller cell, as [[Ivf.pqCodeFrozen]]). */
  private def nearest(pt: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var j = 0
      val cv = cents(c)
      while (j < pt.length) { val x = pt(j) - cv(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Driver-local seeded Lloyd's over a bounded in-memory sample — the
    * training half of the FAISS posture (IndexIVFPQ.train runs on a
    * sample in one process; only assignment/encoding/search touch the
    * full corpus). Deterministic for a fixed (sample, k, iters, seed):
    * seeded index init, first-min argmin ties, empty cluster keeps its
    * previous centroid. A few hundred points per centroid is all k-means
    * needs — at 100 TB you could not Lloyd the corpus anyway, and at
    * bench scale this replaces ~1 s of per-fit MLlib scheduler latency
    * (9 fits for IVFADC) with microseconds of arithmetic. */
  private[llm] def localLloyd(points: Array[Array[Double]], k: Int,
                              iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.length >= k, s"sample ${points.length} smaller than k $k")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    // seeded distinct-index init (Fisher-Yates prefix)
    val idx = Array.tabulate(points.length)(identity)
    var i = 0
    while (i < k) {
      val j = i + rnd.nextInt(points.length - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i += 1
    }
    var cents = Array.tabulate(k)(c => points(idx(c)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var p = 0
      while (p < points.length) {
        val pt = points(p)
        val best = nearest(pt, cents)
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += pt(j); j += 1 }
        counts(best) += 1
        p += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else { val s = sums(c); val n = counts(c); Array.tabulate(dim)(j => s(j) / n) }
      }
      it += 1
    }
    cents
  }

  /** Production IVFADC: both quantizer tiers trained by [[localLloyd]] on
    * one bounded driver-side sample (hash-filtered when `trainHashMod` >
    * 1, capped at `trainCap` rows — model-fitting state, the FAISS train
    * posture); everything corpus-sized stays distributed and
    * codegen-friendly: cell assignment + residual + m residual codes are
    * ONE projection pass over the corpus (broadcast centroid literals,
    * SqDist argmin — no MLlib transform UDFs, no assignment join, no
    * shuffle), per-(query, probed-cell) residual LUTs broadcast against
    * the compact codes table, exact cosine rerank of the ADC shortlist.
    * The codes scan touches (id, cell, codes) only — never the original
    * vectors — and each query pays ≈ nProbes/nLists of the corpus. */
  def topK(corpus: DataFrame, id: String, vec: String,
           queries: DataFrame, qid: String, qvec: String,
           nLists: Int, m: Int, k: Int, dim: Int,
           kTop: Int, rerank: Int, nProbes: Int, seed: Long = 42L,
           trainHashMod: Int = 1, trainCap: Int = 65536): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val base = corpus.select(col(id).cast("long").as("id"),
      transform(col(vec), _.cast("double")).as("pv"))
    // ---- train (driver-local, bounded sample) ----
    // The sample is fully determined by the id hash: if the hash-filtered
    // sample would exceed trainCap, the mod AUTO-ESCALATES (first jump to
    // ceil(cnt/trainCap)·mod, then doubling) until it fits, with a
    // warning — never a silent partition-order limit(). The trained index
    // is therefore independent of input partitioning at EVERY corpus
    // size (pinned in LlmSpec both under and over the cap); crossing the
    // cap changes WHICH deterministic sample trains, which is the FAISS
    // posture (train on a bounded sample) made loud.
    def filtered(mod: Int): DataFrame =
      if (mod <= 1) base
      else base.filter(pmod(xxhash64(col("id")), lit(mod)) === 0)
    var mod = math.max(trainHashMod, 1)
    var cnt = filtered(mod).count()
    if (cnt > trainCap) {
      val first = mod.toLong * ((cnt + trainCap - 1) / trainCap)
      mod = math.min(first, Int.MaxValue.toLong).toInt
      cnt = filtered(mod).count()
      while (cnt > trainCap && mod < Int.MaxValue / 2) {
        mod *= 2; cnt = filtered(mod).count()
      }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Ivfadc.topK: hash-filtered train sample exceeded trainCap=$trainCap " +
          s"at trainHashMod=$trainHashMod; auto-escalated to mod=$mod " +
          s"($cnt rows) to keep the sample partition-independent. " +
          s"Pass trainHashMod >= $mod to silence this.")
    }
    // id-sorted on the driver: the local Lloyd's folds its sums in sample
    // order, so a canonical order makes the whole index — and therefore
    // the search output — independent of input partitioning.
    val sample = filtered(mod)
      .select("id", "pv").collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val coarseCents = localLloyd(sample, nLists, iters = 10, seed)
    // sample residuals computed locally (no second corpus pass)
    val sampleRes = sample.map { pt =>
      val cv = coarseCents(nearest(pt, coarseCents))
      Array.tabulate(dim)(j => pt(j) - cv(j))
    }
    val pqCents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      localLloyd(sampleRes.map(r => java.util.Arrays.copyOfRange(r, s * subDim, (s + 1) * subDim)),
        k, iters = 10, seed + 1 + s)
    }
    def cells(cs: Array[Array[Double]]) = cs.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val coarse = cells(coarseCents)
    // ---- index (one distributed projection: cell + residual + m codes) ----
    val codes = base
      .withColumn("cell", Ivf.pqCodeFrozen(col("pv"), coarse))
      .withColumn("rv", residual(col("pv"), col("cell"), coarse))
      .select(col("id"), col("cell"),
        array((0 until m).map(s =>
          Ivf.pqCodeFrozen(slice(col("rv"), s * subDim + 1, subDim), cells(pqCents(s)))): _*)
          .as("codes"))
    val codebook = (for {
      s <- 0 until m
      (cent, code) <- pqCents(s).zipWithIndex
    } yield (s, code, cent.toSeq)).toDF("s", "code", "cent")
    // probe nProbes cells per query; the query residual is per probed cell
    val q = queries.select(col(qid).cast("long").as("qid"), col(qvec).cast("array<double>").as("qv"))
    val probed = Ivf.probeCells(q, coarse, nProbes)
      .select(col("qid").as("query_id"), col("cell"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    // per-(query, cell) LUT: m·k partial squared distances — tiny,
    // broadcast; the big side touches only the codes
    val luts = probed.crossJoin(broadcast(codebook))
      .withColumn("pd", graft.functions.SqDist(
        slice(col("qr"), col("s") * subDim + 1, lit(subDim)), col("cent")))
      .groupBy("query_id", "cell")
      .agg(map_from_entries(collect_list(struct(
        (col("s") * k + col("code")).cast("int").as("key"),
        col("pd").as("value")))).as("lut"))
    val adc = codes.join(broadcast(luts), "cell")
      .withColumn("adc",
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (code, s) => element_at(col("lut"), (s * k + code).cast("int"))),
          lit(0.0), (acc, v) => acc + v))
    val short = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc"), col("id"))))
      .filter(col("rn") <= rerank)
      .select(col("query_id"), col("id"))
    short
      .join(corpus.select(col(id).cast("long").as("id"), col(vec).as("__cv")), "id")
      .join(broadcast(queries.select(col(qid).cast("long").as("query_id"),
        col(qvec).as("__qv"))), "query_id")
      .select(col("query_id"), col("id"),
        Similarity.cosine(col("__cv"), col("__qv")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), asc("id"))))
      .filter(col("rank") <= kTop)
      .orderBy("query_id", "rank")
  }
}
