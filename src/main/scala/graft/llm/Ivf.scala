package graft.llm

import graft.Ckpt._

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the classic scale
  * path next to sign-LSH: a k-means coarse quantizer partitions the corpus
  * into `nLists` cells; a query probes only its `nProbes` nearest cells and
  * reranks exactly inside them.
  *
  * Spark-first composition: MLlib KMeans trains the quantizer (itself a
  * distributed job), cell assignment is one model.transform pass, the cell
  * table is partitioned by cell id, and probing is an equi-join on cell id
  * with centroids broadcast. Corpus cost per query ≈ nProbes/nLists of a
  * full scan — the knob a 100 TB deployment turns.
  */
object Ivf {

  final case class Index(centroids: Array[(Int, Array[Double])], assigned: DataFrame) {
    /** Frees the cached cell assignments. Call when done probing — repeated
      * build() calls in one session (bench loops, parameter sweeps) would
      * otherwise accumulate cached partitions until storage eviction. */
    def release(): Unit = { assigned.unpersist(); () }
  }

  /** Train the quantizer and assign every vector to its cell. */
  def build(corpus: DataFrame, id: String, vec: String,
            nLists: Int, seed: Long = 42L): Index = {
    val withVec = corpus.withColumn("__v", array_to_vector(col(vec).cast("array<double>")))
    val model = new KMeans().setK(nLists).setSeed(seed)
      .setFeaturesCol("__v").setPredictionCol("cell")
      .fit(withVec)
    // co-locate cells at full cluster width: repartition(col) alone caps
    // populated partitions at nLists; passing numPartitions keeps every
    // core busy at large nLists. The assigned table is an INDEX — built
    // once, probed many times — so persist it.
    val assigned = model.transform(withVec).drop("__v")
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism, col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }
    Index(centroids, assigned)
  }

  /** Deterministic, cross-engine-replayable IVF coarse quantizer — the
    * portable twin of [[build]] (the sim4b/cur9 determinism pattern
    * lifted to k-means): initial centroids are the `k` vectors with the
    * smallest md5(id) (engine-shared pseudo-random pick), then `rounds`
    * FIXED Lloyd's iterations. Each update rounds centroid coordinates
    * through the engine-identical floor(x·10⁶+0.5)/10⁶ fold, so
    * distributed summation order cannot leak into the next round's
    * assignments — distances computed FROM rounded centroids are then
    * bit-identical on both engines and the argmin (ties → smaller cell)
    * replays exactly in DuckDB's unrolled round CTEs
    * ([[portableOracleSql]]). An empty cell keeps its previous centroid.
    *
    * Scale shape: per round one literal-centroid argmin projection over
    * the checkpointed corpus scan (n×k SqDist evaluations inside one
    * expression — no crossJoin rows, no per-id shuffle) + one
    * (cell, dim)-sized mean aggregate — linear in the corpus, the same
    * cost class as MLlib's own Lloyd's pass. Each round collects its
    * k×dim means to the driver and re-injects them as literals, so no
    * round carries lineage from the last. MLlib [[build]] stays the
    * production path (sampling init, early convergence); this twin exists
    * so the quantizer itself is oracle-checkable end-to-end.
    *
    * Returns (driver-held centroids (cell, cv) in cell order, checkpointed
    * assignments (pid, pv, cell)). */
  def portableQuantizer(corpus: DataFrame, id: String, vec: String,
                        k: Int, rounds: Int): (IndexedSeq[(Int, Seq[Double])], DataFrame) = {
    val base = portableRows(corpus, id, vec).ckpt()
    val cents = lloyd(base, k, rounds)
    // checkpointed: callers reference the assignment table at least twice
    // (query slice + candidate cells)
    (cents, base.withColumn("cell", pqCodeFrozen(col("pv"), cents)).ckpt())
  }

  /** [[portableQuantizer]]'s centroids WITHOUT the final assignment
    * job — for callers that assign rows themselves via [[pqCodeFrozen]]
    * (the PQ subspace fits, IVFADC's frozen coarse tier). Same training
    * rounds, same centroids, bit for bit. */
  def portableCentroids(corpus: DataFrame, id: String, vec: String,
                        k: Int, rounds: Int): IndexedSeq[(Int, Seq[Double])] =
    lloyd(portableRows(corpus, id, vec).ckpt(), k, rounds)

  /** The row shape every portable stage reads: (pid long, pv
    * array<double>), plus any `extra` columns (evaluated against the
    * caller's columns). */
  private[llm] def portableRows(corpus: DataFrame, id: String, vec: String,
                               extra: Column*): DataFrame =
    corpus.select(Seq(col(id).cast("long").as("pid"),
      transform(col(vec), _.cast("double")).as("pv")) ++ extra: _*)

  /** The md5 seeding and fixed Lloyd's rounds over checkpointed (pid, pv)
    * rows. Centroids are MODEL state (k×dim doubles — the Bpe-merge
    * pattern), so each round's assignment is a literal-centroid argmin
    * PROJECTION ([[pqCodeFrozen]]: zero joins, zero shuffles) and one
    * distributed job computes the per-dim means. */
  private def lloyd(base: DataFrame, k: Int, rounds: Int): IndexedSeq[(Int, Seq[Double])] = {
    var cent: IndexedSeq[(Int, Seq[Double])] = base
      .withColumn("h", md5(col("pid").cast("string")))
      .orderBy("h", "pid").limit(k)
      .select("pv").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }.toIndexedSeq
    // order-canonical mean: fold the cell's values SORTED, so the double
    // sum is bit-identical across partitionings AND engines (DuckDB twin:
    // list_sum(list_sort(list(x))), the same L2R fold) — without this the
    // 6dp floor below could flip on a sum landing within ulps of a
    // boundary under a different partition order
    val sortedSum = graft.functions.FoldSum(array_sort(collect_list(col("x"))))
    for (_ <- 1 to rounds) {
      val means = base.withColumn("cell", pqCodeFrozen(col("pv"), cent))
        .select(col("cell"), posexplode(col("pv")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg((floor(sortedSum / count(lit(1)) * 1000000 + 0.5) / 1000000.0).as("mean"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
      cent = cent.map { case (cell, cv) =>
        // empty-cell carry ≡ the SQL twin's coalesce(nv, cv)
        means.get(cell).fold((cell, cv))(ms => (cell, ms.sortBy(_._2).map(_._3).toSeq))
      }
    }
    cent
  }

  /** Frozen-codebook cell assignment as ONE Column: argmin cell of the
    * row's vector (or slice) against the (model-sized, driver-resident)
    * centroid list by squared L2, ties to the smaller cell. Every
    * portable assignment in the ANN family is this column: each Lloyd's
    * round, IVFADC's frozen coarse tier, the PQ subspace codes. m codes
    * are m projections over one scan — zero joins, zero shuffles.
    * DuckDB twin: [[nearestCellSql]]. */
  def pqCodeFrozen(sv: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    require(sorted.zipWithIndex.forall { case ((c, _), i) => c == i },
      "pqCodeFrozen expects contiguous cells 0..k-1")
    if (sorted.size.toLong * sorted.head._2.size <= pqInlineLiteralBudget)
      pqCodeInline(sv, sorted)
    else pqCodeFolded(sv, sorted)
  }

  /** Inline budget for [[pqCodeFrozen]]'s unrolled form. The unrolled
    * projection embeds k SqDist structs, each with a subDim-double
    * literal array, and callers stack m of these columns in ONE select —
    * past a few thousand literal doubles per column the generated method
    * for the projection approaches the JVM's 64KB bytecode limit and
    * Spark quietly drops the stage out of whole-stage codegen, losing
    * exactly the perf the join-free rewrite bought. The registry's
    * codebooks (k=16 × subDim=16 = 256) sit far inside the budget; a
    * FAISS-typical k=256 × subDim=16 = 4096 lands on the boundary and
    * larger codebooks take the folded path. */
  private[llm] val pqInlineLiteralBudget = 4096L

  /** k unrolled literal-centroid SqDist structs — maximally
    * codegen-friendly for small codebooks. */
  private[llm] def pqCodeInline(sv: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = cents.map { case (cell, cv) =>
      struct(graft.functions.SqDist(sv, array(cv.map(lit): _*)).as("d2"),
        lit(cell).as("cell"))
    }
    array_min(array(scored: _*)).getField("cell")
  }

  /** Large-codebook form: the whole codebook as ONE array<array<double>>
    * Literal (a data value, not k×subDim expression nodes) folded with
    * `aggregate` — an O(k) loop in constant generated-code size instead
    * of k unrolled branches. Same SqDist arithmetic on the same doubles;
    * strict `<` on ascending cells keeps ties at the smaller cell, so
    * codes are bit-identical to the inline form (pinned in LlmSpec). */
  private[llm] def pqCodeFolded(sv: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val carr = typedLit(cents.map(_._2))
    val zero = struct(lit(Double.MaxValue).as("d2"), lit(Int.MaxValue).as("cell"))
    aggregate(
      sequence(lit(0), lit(cents.size - 1)),
      zero,
      (acc, i) => {
        val cand = struct(
          graft.functions.SqDist(sv, element_at(carr, (i + 1).cast("int"))).as("d2"),
          i.cast("int").as("cell"))
        when(cand < acc, cand).otherwise(acc)
      }
    ).getField("cell")
  }

  /** The `nProbes` cells whose centroids are nearest by COSINE to each
    * query, ties → smaller cell: queries (qid, qv) × the broadcast k-row
    * centroid table → (qid, qv, cell, cv). Cosine because it is the
    * search metric: an L2 probe on unnormalized vectors picks cells the
    * cosine top-k does not live in. DuckDB twin: [[probeSql]]. */
  private[llm] def probeCells(q: DataFrame, cents: Seq[(Int, Seq[Double])],
                              nProbes: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    q.crossJoin(broadcast(cents.toDF("cell", "cv")))
      .withColumn("__rn", row_number().over(Window.partitionBy("qid")
        .orderBy(Similarity.cosine(col("qv"), col("cv")).desc, col("cell"))))
      .filter(col("__rn") <= nProbes).drop("__rn")
  }

  /** Exact cosine rank of candidate (qid, pid, pv, qv) pairs: the kTop
    * best per query (ties → smaller pid), sims 4dp-rounded by the
    * engine-identical floor fold → (query_id, id, rank, sim). DuckDB
    * twin: [[cosineTopKSql]]. */
  private[llm] def cosineTopK(pairs: DataFrame, kTop: Int): DataFrame =
    pairs.withColumn("sc", Similarity.cosine(col("pv"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sc"), asc("pid"))))
      .filter(col("rank") <= kTop)
      .select(col("qid").as("query_id"), col("pid").as("id"), col("rank"),
        (floor(col("sc") * 10000 + 0.5) / 10000.0).as("sim"))
      .orderBy("query_id", "rank")

  /** Portable IVF search (sim5b): [[portableQuantizer]], the cosine probe
    * of `nProbes` cells for the queries pid < nQueries, and the exact
    * in-cell cosine rank — every stage replayed by [[portableOracleSql]]. */
  def portableTopK(corpus: DataFrame, id: String, vec: String, k: Int, rounds: Int,
                   nQueries: Int, nProbes: Int, kTop: Int): DataFrame = {
    val (cents, assigned) = portableQuantizer(corpus, id, vec, k, rounds)
    val q = assigned.filter(col("pid") < nQueries)
      .select(col("pid").as("qid"), col("pv").as("qv"))
    val probed = probeCells(q, cents, nProbes).drop("cv")
    cosineTopK(assigned.join(broadcast(probed), "cell"), kTop)
  }

  /** SQL fragments shared by the portable oracles (IVF, PQ, IVFADC,
    * SemDeDup): left-to-right list folds ≡ Spark's aggregate fold. */
  private[llm] def d2Sql(dim: Int)(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
  private[llm] def dotSql(dim: Int)(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]))"
  private[llm] def cosSql(dim: Int)(a: String, b: String): String =
    s"(${dotSql(dim)(a, b)} / (sqrt(${dotSql(dim)(a, a)}) * sqrt(${dotSql(dim)(b, b)})))"
  private[llm] def baseSql(table: String, id: String, vec: String): String =
    s"base AS MATERIALIZED (\n  SELECT $id::BIGINT AS pid, $vec::DOUBLE[] AS pv FROM $table)"

  /** [[pqCodeFrozen]]'s twin: `rows`(pid, pv, ...) × `cents`(cell, cv),
    * squared-L2 argmin per pid, ties → smaller cell → (pid, pv, cell). */
  private[llm] def nearestCellSql(rows: String, cents: String, dim: Int): String =
    s"""SELECT pid, pv, cell FROM (
       |    SELECT b.pid, b.pv, c.cell,
       |           row_number() OVER (PARTITION BY b.pid
       |             ORDER BY ${d2Sql(dim)("b.pv", "c.cv")}, c.cell) AS rn
       |    FROM $rows b CROSS JOIN $cents c) WHERE rn = 1""".stripMargin

  /** [[probeCells]]'s twin over a queries CTE `q`(qid, qv). */
  private[llm] def probeSql(q: String, cents: String, dim: Int, nProbes: Int): String =
    s"""SELECT qid, qv, cell, cv FROM (
       |    SELECT q.qid, q.qv, c.cell, c.cv,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY ${cosSql(dim)("q.qv", "c.cv")} DESC, c.cell) AS rn
       |    FROM $q q CROSS JOIN $cents c) WHERE rn <= $nProbes""".stripMargin

  /** [[cosineTopK]]'s twin: the final SELECT over `pairs`, a FROM clause
    * that joins candidate rows `a`(pid, pv) to queries `p`(qid, qv). */
  private[llm] def cosineTopKSql(pairs: String, dim: Int, kTop: Int): String =
    s"""SELECT query_id, id,
       |       row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, id) AS rank,
       |       floor(sc * 10000 + 0.5) / 10000.0 AS sim
       |FROM (SELECT p.qid AS query_id, a.pid AS id, ${cosSql(dim)("a.pv", "p.qv")} AS sc
       |      FROM $pairs)
       |QUALIFY rank <= $kTop
       |ORDER BY query_id, rank""".stripMargin

  /** The unrolled Lloyd's CTE chain over a base CTE `$base`(pid, pv):
    * seeds `${p}c0` (k smallest md5(pid)), then per round an assign CTE
    * `${p}aN` and a centroid CTE `${p}cN` with the engine-identical 6dp
    * floor-rounded means and empty-cell carry — the exact arithmetic of
    * [[portableQuantizer]]. Returns the chain; the final centroids live
    * in `${p}c$rounds`. */
  private[llm] def lloydCtesSql(base: String, p: String, k: Int, rounds: Int,
                                dim: Int): String = {
    val seed =
      s"""${p}c0 AS MATERIALIZED (
         |  SELECT cell, cv FROM (
         |    SELECT (row_number() OVER (ORDER BY md5(pid::VARCHAR), pid) - 1)::INT AS cell,
         |           pv AS cv
         |    FROM $base) WHERE cell < $k)""".stripMargin
    val roundCtes = (1 to rounds).map { rd =>
      val prev = s"${p}c${rd - 1}"
      s"""${p}a$rd AS MATERIALIZED (${nearestCellSql(base, prev, dim)}),
         |${p}c$rd AS MATERIALIZED (
         |  SELECT p.cell, coalesce(m.nv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN (
         |    SELECT cell, list(mean ORDER BY i) AS nv FROM (
         |      SELECT cell, dims.i,
         |             floor(list_sum(list_sort(list(pv[dims.i]))) / count(*) * 1000000 + 0.5) / 1000000.0 AS mean
         |      FROM ${p}a$rd CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) dims
         |      GROUP BY cell, dims.i)
         |    GROUP BY cell) m ON p.cell = m.cell)""".stripMargin
    }.mkString(",\n")
    seed + ",\n" + roundCtes
  }

  /** DuckDB twin of [[portableTopK]]: seeds, every Lloyd's round, the
    * final assignment, the nProbes cell probe and the in-cell cosine rank
    * unrolled as MATERIALIZED CTEs — the pagerank/BPE oracle pattern.
    * All dot/distance folds are left-to-right list_sum chains ≡ Spark's
    * aggregate fold, so sims are bit-identical and (sim DESC, id)
    * ranking cannot flip. `querySql` is a predicate over `pid`. */
  def portableOracleSql(table: String, id: String, vec: String,
                        k: Int, rounds: Int, dim: Int,
                        querySql: String, nProbes: Int, kTop: Int): String =
    s"""WITH ${baseSql(table, id, vec)},
       |${lloydCtesSql("base", "", k, rounds, dim)},
       |fin AS MATERIALIZED (${nearestCellSql("base", s"c$rounds", dim)}),
       |q AS MATERIALIZED (SELECT pid AS qid, pv AS qv FROM fin WHERE $querySql),
       |probe AS MATERIALIZED (${probeSql("q", s"c$rounds", dim, nProbes)})
       |${cosineTopKSql("fin a JOIN probe p ON a.cell = p.cell", dim, kTop)}""".stripMargin

  /** Approximate top-k: probe the nProbes cells whose centroids are nearest
    * (by cosine) to each query, rerank exactly within them. */
  def topK(index: Index, id: String, vec: String,
           queries: DataFrame, qid: String, qvec: String,
           k: Int, nProbes: Int): DataFrame = {
    val q = queries.select(col(qid).as("qid"), col(qvec).as("qv"))
    val cents = index.centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
    // equi-join on cell id: each query only touches its probed cells
    val topk = udaf(new TopKAgg(k))
    index.assigned.join(broadcast(probeCells(q, cents, nProbes).drop("cv")), "cell")
      .select(col("qid").as("query_id"), col(id).cast("long").as("id"),
              Similarity.cosine(col(vec), col("qv")).as("sim"))
      .groupBy("query_id")
      .agg(topk(col("sim"), col("id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("id"), col("col.sim").as("sim"),
              (col("pos") + 1).cast("int").as("rank"))
  }
}
