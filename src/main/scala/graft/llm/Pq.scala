package graft.llm

import graft.Ckpt._

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbor — the memory
  * side of the 100 TB ANN story (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011). IVF (Ivf.scala) bounds how much
  * of the corpus a query SCANS; PQ bounds how many BYTES each scanned
  * vector costs: the 64-float embedding (256 B) compresses to `m` small
  * codes (m bytes at k<=256), and query-time scoring is `m` table lookups
  * instead of `dim` multiplies (ADC — asymmetric distance computation).
  *
  * Spark-first composition: per-subspace MLlib KMeans trains the
  * codebooks (index-build time, m small distributed fits); encoding is m
  * model.transform passes producing one array<int> codes column; ADC
  * scoring joins the compact codes table against a BROADCAST per-query
  * lookup table (map of subspace-code -> partial dot), so the scan side
  * never touches the original vectors. Exact rerank of the top `rerank`
  * candidates restores true cosines — the standard two-stage PQ search.
  */
object Pq {

  /** Run the m independent per-subspace fits concurrently — an index
    * build is dozens of tiny scheduler-latency-bound jobs per fit, so
    * the sequential chain costs m× the wall of one. Shared by the MLlib
    * and portable paths so a concurrency tweak lands once. Each fit is a
    * pure function of its slice + seed: interleaving never changes the
    * models.
    *
    * Each fit runs on its OWN short-lived thread (m is 4-8, a fit blocks
    * for seconds on Spark jobs): a fit parked on the shared fork-join
    * pool would starve every other global-EC user for its whole
    * duration, and Spark's thread-local job properties (job group /
    * scheduler pool, what setJobGroup-based cancellation keys on) are
    * inherited at THREAD CREATION, so fits must not ride pre-existing
    * pool threads — a dedicated thread created here inherits the
    * caller's InheritableThreadLocal properties and a job-group cancel
    * covers the concurrent fits too. */
  private[llm] def fitConcurrently[T](m: Int)(fit: Int => T): IndexedSeq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(m))
    try Await.result(
      Future.sequence((0 until m).map(s => Future(fit(s)))), Duration.Inf)
    finally ec.shutdown()
  }

  /** Per-subspace codebooks + the encoded corpus (id, codes array<int>).
    * `codes` is persisted: it is an index, built once and probed many
    * times. Call release() when done. */
  final case class Index(m: Int, k: Int, subDim: Int,
                         codebooks: Array[Array[(Int, Array[Double])]],
                         codes: DataFrame) {
    def release(): Unit = { codes.unpersist(); () }
  }

  /** Train per-subspace quantizers and encode the corpus. `dim` must be
    * divisible by `m`; `k` codes per subspace (k=16 → codes fit in a
    * nibble; 256 would fill a byte, the classic PQ layout). */
  def build(corpus: DataFrame, id: String, vec: String,
            m: Int = 4, k: Int = 16, dim: Int = 64, seed: Long = 42L,
            maxIter: Int = 10): Index = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val base = corpus.select(col(id).cast("long").as("id"), col(vec).as("__vec"))
    def subCol(s: Int): Column =
      array_to_vector(slice(col("__vec"), s * subDim + 1, subDim).cast("array<double>"))
    val models = fitConcurrently(m) { s =>
      new KMeans().setK(k).setSeed(seed + s).setMaxIter(maxIter)
        .setFeaturesCol("__sub").setPredictionCol(s"__c$s")
        .fit(base.withColumn("__sub", subCol(s)))
    }
    // encoding: stack the m transforms lazily over one corpus pass
    val df = (0 until m).foldLeft(base) { (d, s) =>
      models(s).transform(d.withColumn("__sub", subCol(s))).drop("__sub")
    }
    val books = models.map(_.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toArray).toArray
    val codes = df
      .select(col("id"), array((0 until m).map(s => col(s"__c$s")): _*).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Index(m, k, subDim, books, codes)
  }

  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Approximate top-k by ADC over the codes table, then exact cosine
    * rerank of the top `rerank` candidates against the original vectors.
    *
    * The per-query lookup table (m·k partial dots) is computed as a plain
    * aggregation — queries × codebook (both tiny, codebook broadcast) —
    * and ships as one broadcast map column; the big side of the join
    * touches only (id, codes), never the original vectors. */
  def topK(index: Index, corpus: DataFrame, id: String, vec: String,
           queries: DataFrame, qid: String, qvec: String,
           kTop: Int, rerank: Int = 50): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val codebook = (for {
      s <- 0 until index.m
      (code, cent) <- index.codebooks(s)
    } yield (s, code, cent.toSeq)).toDF("s", "code", "cent")
    val luts = queries
      .select(col(qid).cast("long").as("query_id"), col(qvec).as("__qv"))
      .crossJoin(broadcast(codebook))
      .withColumn("pd", dotCol(
        slice(col("__qv"), col("s") * index.subDim + 1, lit(index.subDim))
          .cast("array<double>"),
        col("cent")))
      .groupBy("query_id")
      .agg(map_from_entries(collect_list(struct(
        (col("s") * index.k + col("code")).cast("int").as("key"),
        col("pd").as("value")))).as("lut"))
    // ADC scan: broadcast the per-query tables against the compact codes
    val adc = index.codes.crossJoin(broadcast(luts))
      .withColumn("approx",
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(index.m - 1)),
            (code, s) => element_at(col("lut"), (s * index.k + code).cast("int"))),
          lit(0.0), (acc, v) => acc + v))
    val topkAgg = udaf(new TopKAgg(rerank))
    val cands = adc.groupBy("query_id")
      .agg(topkAgg(col("approx"), col("id")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("c"))
      .select(col("query_id"), col("c.id").as("id"))
    // exact rerank of the shortlist only
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("id"))
    cands
      .join(corpus.select(col(id).cast("long").as("id"), col(vec).as("__cv")), "id")
      .join(broadcast(queries.select(col(qid).cast("long").as("query_id"),
        col(qvec).as("__qv"))), "query_id")
      .select(col("query_id"), col("id"),
        Similarity.cosine(col("__cv"), col("__qv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kTop)
  }

  /** Portable PQ twin (sim6b): per-subspace md5-seeded fixed-round
    * Lloyd's codebooks ([[portableCodes]]), squared-L2 ADC shortlist and
    * exact cosine rerank ([[adcTopK]]) for the queries pid < nQueries.
    * Every stage replays in DuckDB ([[portableOracleSql]]). MLlib
    * [[build]]/[[topK]] stay the production path. */
  def portableTopK(corpus: DataFrame, id: String, vec: String,
                   m: Int, k: Int, rounds: Int, dim: Int,
                   nQueries: Int, rerank: Int, kTop: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val rows = Ivf.portableRows(corpus, id, vec).ckpt()
    val (books, codes) = portableCodes(rows, "pv", lit(true), Seq("pid"), m, k, rounds, dim / m)
    val q = rows.filter(col("pid") < nQueries).select(col("pid").as("qid"), col("pv").as("qv"))
    adcTopK(codes.crossJoin(broadcast(q)), col("qv"), books, dim / m, rerank, rows, q, kTop)
  }

  /** The subspace stage of both portable PQ searches: one md5-seeded
    * fixed-round Lloyd's codebook per subspace of `vec`, fit concurrently
    * on the `train` rows ([[Ivf.portableCentroids]]), then the WIDE codes
    * c0..c{m-1} of every row as m literal-centroid argmin projections
    * ([[Ivf.pqCodeFrozen]]) next to its `keep` columns. Returns (the
    * driver-held codebooks in subspace order, the coded rows). DuckDB
    * twin: [[codesSql]]. */
  private[llm] def portableCodes(rows: DataFrame, vec: String, train: Column,
                                 keep: Seq[String], m: Int, k: Int, rounds: Int,
                                 subDim: Int): (IndexedSeq[IndexedSeq[(Int, Seq[Double])]], DataFrame) = {
    def sub(s: Int): Column = slice(col(vec), s * subDim + 1, subDim)
    val books = fitConcurrently(m) { s =>
      Ivf.portableCentroids(rows.filter(train).select(col("pid"), sub(s).as("sv")),
        "pid", "sv", k, rounds)
    }
    // checkpointed: the argmin projection must evaluate ONCE PER ROW —
    // left lazy, the optimizer can float it above the query join and
    // recompute the m x k SqDist argmin per (row x query) match
    val codes = rows.select(keep.map(col) ++
      (0 until m).map(s => Ivf.pqCodeFrozen(sub(s), books(s)).as(s"c$s")): _*).ckpt()
    (books, codes)
  }

  /** ADC shortlist + exact cosine rerank over (query, coded row) `pairs`:
    * the ADC distance of `qVec` is an explicit left-to-right `+` chain of
    * per-subspace SqDist terms against each code's centroid, looked up in
    * the codebook literal (no aggregation whose fold order could differ
    * between engines, no codebook join); the `rerank` smallest per query
    * (ties → smaller pid) are reranked by exact cosine of their `rows`
    * vectors against the queries `q` (qid, qv) ([[Ivf.cosineTopK]]).
    * DuckDB twin: [[adcTopKSql]]. */
  private[llm] def adcTopK(pairs: DataFrame, qVec: Column,
                           books: IndexedSeq[IndexedSeq[(Int, Seq[Double])]], subDim: Int,
                           rerank: Int, rows: DataFrame, q: DataFrame, kTop: Int): DataFrame = {
    val adc = books.indices.map { s =>
      graft.functions.SqDist(slice(qVec, s * subDim + 1, subDim),
        element_at(typedLit(books(s).map(_._2)), col(s"c$s") + 1))
    }.reduce(_ + _)
    val short = pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(adc, col("pid"))))
      .filter(col("rn") <= rerank)
      .select(col("qid"), col("pid"))
    Ivf.cosineTopK(short.join(rows.select("pid", "pv"), "pid").join(broadcast(q), "qid"), kTop)
  }

  /** DuckDB twin of [[portableTopK]]: [[codesSql]] over the base rows,
    * the query slices, and [[adcTopKSql]] over every (code row, query)
    * pair — the whole PQ search replayed as one CTE pipeline. */
  def portableOracleSql(table: String, id: String, vec: String,
                        m: Int, k: Int, rounds: Int, dim: Int,
                        nQueries: Int, rerank: Int, kTop: Int): String = {
    val subDim = dim / m
    s"""WITH ${Ivf.baseSql(table, id, vec)},
       |${codesSql("base", "pv", "true", m, k, rounds, subDim)},
       |q AS MATERIALIZED (
       |  SELECT pid AS qid, pv AS qv, ${slicesSql("pv", m, subDim)} FROM base WHERE pid < $nQueries),
       |${adcTopKSql("codes c CROSS JOIN q p", m, rounds, subDim, rerank, dim, kTop)}""".stripMargin
  }

  /** `v`'s m subspace slices as columns qs0..qs{m-1}. */
  private[llm] def slicesSql(v: String, m: Int, subDim: Int): String =
    (0 until m).map(s => s"$v[${s * subDim + 1}:${(s + 1) * subDim}] AS qs$s").mkString(", ")

  /** [[portableCodes]]'s twin over a CTE `rows`(pid, `vec`, ...): per
    * subspace s the slices `sub$s` of every row, the unrolled Lloyd's
    * chain ([[Ivf.lloydCtesSql]], prefix `s$s`) over the rows passing
    * `trainSql` (a predicate over pid), and their nearest cells; then
    * `codes` = the rows plus c0..c{m-1}. */
  private[llm] def codesSql(rows: String, vec: String, trainSql: String,
                            m: Int, k: Int, rounds: Int, subDim: Int): String = {
    val subCtes = (0 until m).map { s =>
      s"""sub$s AS MATERIALIZED (
         |  SELECT pid, $vec[${s * subDim + 1}:${(s + 1) * subDim}] AS pv FROM $rows),
         |trn$s AS MATERIALIZED (SELECT pid, pv FROM sub$s WHERE ($trainSql)),
         |${Ivf.lloydCtesSql(s"trn$s", s"s$s", k, rounds, subDim)},
         |fin$s AS MATERIALIZED (${Ivf.nearestCellSql(s"sub$s", s"s${s}c$rounds", subDim)})""".stripMargin
    }
    val codeCols = (0 until m).map(s => s"f$s.cell AS c$s").mkString(", ")
    val joins = (0 until m).map(s => s"JOIN fin$s f$s USING (pid)").mkString(" ")
    (subCtes :+ s"codes AS MATERIALIZED (\n  SELECT r.*, $codeCols FROM $rows r $joins)")
      .mkString(",\n")
  }

  /** [[adcTopK]]'s twin: over `pairs`, a FROM clause that yields code
    * rows `c` and queries `p` carrying slices qs0..qs{m-1}, the explicit
    * left-associative ADC chain against the `s{s}c$rounds` codebooks, the
    * (adc, pid) shortlist, and [[Ivf.cosineTopKSql]] over the `base` and
    * `q` CTEs. */
  private[llm] def adcTopKSql(pairs: String, m: Int, rounds: Int, subDim: Int,
                              rerank: Int, dim: Int, kTop: Int): String = {
    val cbJoins = (0 until m)
      .map(s => s"JOIN s${s}c$rounds cb$s ON c.c$s = cb$s.cell").mkString("\n  ")
    val adc = (0 until m).map(s => Ivf.d2Sql(subDim)(s"p.qs$s", s"cb$s.cv")).mkString(" + ")
    s"""scored AS MATERIALIZED (
       |  SELECT p.qid, c.pid, ($adc) AS adc
       |  FROM $pairs
       |  $cbJoins),
       |short AS MATERIALIZED (
       |  SELECT qid, pid FROM (
       |    SELECT qid, pid,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, pid) AS rn
       |    FROM scored) WHERE rn <= $rerank)
       |${Ivf.cosineTopKSql("short s JOIN base a ON s.pid = a.pid JOIN q p ON s.qid = p.qid", dim, kTop)}""".stripMargin
  }
}
