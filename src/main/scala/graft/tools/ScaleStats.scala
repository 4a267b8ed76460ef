package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Corpus-regime diagnostics behind the scale artifacts (BENCH_sf1*.json):
  * for a documents table, reports (1) the df-capped containment index's
  * health via [[Dedup.containmentDiagnostics]] — gram universe, pairable /
  * above-cap split, candidate volume before and after the exact
  * upper-bound prune, verified pairs, saturation status — and (2) the
  * near-dup LSH banding funnel exactly as e2e_llm_pipeline stages it
  * (estimateSigTable word-3-gram sketches, 8 bands x 4 rows, AgreeCount
  * sketch prune at 2.5 sigma, exact word-3-gram Jaccard >= 0.8 verify),
  * so the banding false-positive rate of a corpus regime is a measured
  * number instead of a prose caveat.
  *
  * Run: runMain graft.tools.ScaleStats <sfDir> [label]  -> one JSON line.
  */
object ScaleStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sys.error("usage: ScaleStats <sfDir> [label]"))
    val label = args.lift(1).getOrElse(sfDir)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      // bounded-buffer typed aggregates (TopKAgg/MinKByAgg) group by
      // corpus-sized keys: the 128-key default silently flips
      // ObjectHashAggregate to sort-based, paying a map-side sort of
      // the whole input (measured 2.7x on the pair summaries); buffers
      // are <= k rows per group, so hash aggregation is safe
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")

    // ---- containment tier (dd19b's regime: n=3, minContainment=0.5,
    // maxDf=20, hashed grams — the registry entry's exact parameters) ----
    val c = Dedup.containmentDiagnostics(docs, "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 20).first()

    // ---- near-dup banding funnel, the e2e_llm_pipeline stage shapes ----
    val sig = Dedup.estimateSigTable(docs, "doc_id", "text", n = 3)
      .localCheckpoint()
    val cands = Dedup.bucketPairs(sig, Dedup.sigBands(8, 4)).localCheckpoint()
    val nCands = cands.count()
    val agreeNeeded = 20 // ceil((0.8 - 2.5*sqrt(0.8*0.2/32)) * 32), e2e's prune
    val pruned = cands
      .join(sig.select(col("doc").as("id1"), col("sig").as("s1")), "id1")
      .join(sig.select(col("doc").as("id2"), col("sig").as("s2")), "id2")
      .filter(graft.functions.AgreeCount(col("s1"), col("s2")) >= agreeNeeded)
      .select("id1", "id2")
      .localCheckpoint()
    val nPruned = pruned.count()
    val nVerified = Dedup.ngramJaccard(docs, "doc_id", "text", 3, pruned,
        hashGrams = false)
      .filter(col("jaccard") >= 0.8).count()

    def pct(num: Long, den: Long): Double =
      if (den == 0) 0.0 else math.round(10000.0 * num / den) / 100.0
    println(
      s"""{"label":"$label","sfDir":"$sfDir","docs":${docs.count()},""" +
      s""""containment":{"grams_total":${c.getLong(0)},"grams_pairable":${c.getLong(1)},""" +
      s""""grams_above_cap":${c.getLong(2)},"max_df":${c.getLong(3)},""" +
      s""""saturated":${c.getBoolean(4)},"candidate_pairs":${c.getLong(5)},""" +
      s""""pruned_candidate_pairs":${c.getLong(6)},"verified_pairs":${c.getLong(7)}},""" +
      s""""neardup_lsh":{"banded_candidates":$nCands,"sketch_pruned":$nPruned,""" +
      s""""verified":$nVerified,"band_fp_pct":${pct(nCands - nVerified, nCands)},""" +
      s""""post_prune_fp_pct":${pct(nPruned - nVerified, math.max(nPruned, 1))}}}""")
    spark.stop()
  }
}
