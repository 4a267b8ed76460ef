package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A composed training-data curation pipeline — the shape a 100 TB corpus
  * pass actually takes: cheap scan-level scoring first (one pass, all
  * Column combinators), exact dedup second (hash agg on fingerprints, only
  * ids + 32-byte hashes shuffle), near-dup LSH last over the survivors
  * (candidate-bounded). Each stage shrinks the data the next one touches.
  */
object Curation {

  final case class Config(
      minQuality: Double = 0.3,
      keepLangs: Seq[String] = Seq("en"),
      nearDupThreshold: Double = 0.85,
      shingleK: Int = 5)

  /** Stage 1+2: score, language-gate, exact-dedup (first doc per normalized
    * fingerprint wins). Adds lang_pred / quality_score / fp columns.
    *
    * The gated scan is locally checkpointed: the regex-heavy scoring runs
    * ONCE, not once per downstream consumer (the exact-dedup semi-join
    * reads it twice and the near-dup stage three more times — uncached,
    * the whole gate chain re-executes five times across the DAG). */
  def exactCurated(docs: DataFrame, id: String, text: String, cfg: Config): DataFrame =
    exactFromGated(gatedScan(docs, id, text, cfg), id)

  /** The gated scan alone (stage 1): score + quality/language filters,
    * checkpointed once for all downstream consumers. */
  def gatedScan(docs: DataFrame, id: String, text: String, cfg: Config): DataFrame = {
    val scored = TextAnalysis.qualityFeatures(docs, text)
      .withColumn("lang_pred", TextAnalysis.langId(col(text)))
      .withColumn("fp", TextAnalysis.fingerprint(col(text)))
    scored
      .filter(col("quality_score") >= cfg.minQuality)
      .filter(col("lang_pred").isin(cfg.keepLangs: _*))
      .ckpt()
  }

  /** Stage 2 on an already-gated scan: first doc per fingerprint wins. */
  def exactFromGated(gated: DataFrame, id: String): DataFrame = {
    val keep = gated.groupBy(col("fp")).agg(min(col(id)).as(id))
    gated.join(keep, Seq("fp", id), "left_semi")
  }

  /** Standard banding choice: pick (bands, rows) with bands*rows = 32 whose
    * S-curve midpoint (1/b)^(1/r) sits closest to the target threshold —
    * a 0.85 threshold wants few wide bands (4×8), 0.5 wants 8×4; using the
    * wrong banding over-generates candidates that the verify stage then
    * discards. */
  private[llm] def banding(threshold: Double): (Int, Int) =
    Seq((16, 2), (8, 4), (4, 8), (2, 16))
      .minBy { case (b, r) => math.abs(math.pow(1.0 / b, 1.0 / r) - threshold) }

  /** The deterministic pass's intermediate stages, exposed so several
    * queries (the pass itself, the attrition funnel) can share one build
    * — the staged-table pattern a pipeline server would use. */
  final case class DetStages(raw: DataFrame, gated: DataFrame,
                             exact: DataFrame, clean: DataFrame)

  /** The row-preserving tail of the fully deterministic curation pass:
    * the end-to-end corpus build with every stage a pure md5-derived
    * function of (id, text) — unlike `curated` (whose LSH tail is
    * xxhash64-keyed), the whole pipeline is reproducible bit-for-bit by
    * any engine, so the COMPOSITION itself is oracle-checkable (cur9),
    * not just its stages.
    *
    * Stages, each shrinking what the next touches: quality + language
    * gates and first-wins exact dedup (`gatedScan` + `exactFromGated`,
    * one gated scan) → benchmark decontamination (gram set broadcast),
    * which yields `clean`; this method runs the rest: per-source cap
    * (salted exact top-k) → stratified split (hash-cut) → deterministic
    * corpus shuffle (two-level exact rank). */
  def finishDeterministic(clean: DataFrame, id: String, source: String,
                          capK: Int = 15, valFrac: Double = 0.1,
                          testFrac: Double = 0.1): DataFrame =
    TextAnalysis.corpusShuffle(
      TextAnalysis.stratifiedSplit(
        TextAnalysis.capPerGroup(clean, source, id, capK), id, valFrac, testFrac), id)

  /** Per-stage survivor counts through the deterministic pass — the
    * attrition funnel every production corpus build publishes next to its
    * output (how many documents each gate removed). One row per stage;
    * the gated scan is checkpointed so the union of stage aggregates
    * re-reads blocks, not the regex-heavy scoring chain. Split/shuffle
    * are row-preserving, so the funnel ends at the source cap. */
  def attrition(st: DetStages, id: String, source: String,
                capK: Int = 15): DataFrame = {
    val capped = TextAnalysis.capPerGroup(st.clean, source, id, capK)
    val stages = Seq(
      "raw" -> st.raw, "quality_lang_gate" -> st.gated,
      "exact_dedup" -> st.exact, "decontaminated" -> st.clean,
      "source_cap" -> capped)
    stages.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("docs"))
        .select(lit(i + 1).as("stage_ord"), lit(name).as("stage"), col("docs"))
    }.reduce(_ union _)
  }

  /** Largest-remainder (Hamilton) quota allocation: split a fixed
    * document budget across sources exactly proportionally to a weight
    * (here: corpus mass). Each source gets floor(N·wᵢ/W); the r = N − Σfloor
    * leftover seats go to the r largest fractional remainders (ties by
    * source name — fully deterministic, so the allocation is
    * oracle-checkable). This is the curation primitive behind "sample
    * exactly N docs with the corpus mixture preserved": naive
    * round(N·wᵢ/W) can over/under-shoot the budget by up to |sources|/2;
    * Hamilton rounding hits N exactly and is the unique allocation
    * staying within 1 of every exact quota.
    *
    * Scale shape: one weight aggregate (source-dim sized), the remainder
    * rank over that dim-sized frame (bounded cardinality — NOT a
    * corpus-row window), and one broadcast join back for the per-source
    * pick. The picked rows use the per-source cap_rank machinery, so the
    * corpus side is one hash partition by source. */
  def quotaAllocate(docs: DataFrame, id: String, source: String,
                    weight: Column, budget: Int): DataFrame = {
    val w = docs.groupBy(col(source)).agg(sum(weight).as("w"),
      count(lit(1)).as("avail"))
    val tot = w.agg(sum("w").as("tot"))
    val frac = w.crossJoin(broadcast(tot))
      .withColumn("exact", lit(budget) * col("w") / col("tot"))
      .withColumn("base", floor(col("exact")).cast("long"))
      .withColumn("rem", col("exact") - col("base"))
    val leftovers = frac.agg((lit(budget) - sum("base")).as("r"))
    // remainder rank over the SOURCE DIM (bounded cardinality, not corpus
    // rows) — the +1 seats go to the largest remainders, ties by name
    val ranked = frac.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        // Spark 4 folds a constant partition key away, so the
        // no-partition WindowExec warning still fires — deliberately
        // accepted: the window's input is the SOURCE DIM (one row per
        // source, bounded cardinality pinned in LlmSpec), never corpus rows
        .partitionBy(lit(1))
        .orderBy(col("rem").desc, col(source))))
    // `picked` clamps the allocation to what the source can actually
    // supply: a source whose mass exceeds its doc count (one huge doc)
    // saturates, and Σ picked then falls short of the budget. The
    // shortfall is NOT silently redistributed — re-run with the remaining
    // budget over the unsaturated sources when an exact total is required
    // (capped-Hamilton is inherently iterative; one pass per saturation
    // level, sources-dim work each).
    ranked.crossJoin(broadcast(leftovers))
      .withColumn("quota",
        col("base") + when(col("rk") <= col("r"), 1L).otherwise(0L))
      .select(col(source), col("w"), col("avail"), col("quota"),
        least(col("quota"), col("avail")).as("picked"))
  }

  /** Stage 3: drop the higher-id member of every verified near-dup pair. */
  def curated(docs: DataFrame, id: String, text: String,
              cfg: Config = Config()): DataFrame = {
    val exact = exactCurated(docs, id, text, cfg)
    val (b, r) = banding(cfg.nearDupThreshold)
    val dupIds = Dedup.minhashDedup(exact, id, text, k = cfg.shingleK,
        bands = b, rows = r, threshold = cfg.nearDupThreshold)
      .select(col("id2").as(id)).distinct()
    exact.join(dupIds, Seq(id), "left_anti")
  }
}
