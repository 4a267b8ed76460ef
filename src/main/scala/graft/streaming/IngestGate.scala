package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}

/** Composed ONLINE ingest gate — the streaming twin of the batch
  * e2e_llm_pipeline's admission stages, as ONE streaming query chaining
  * two stateful operators:
  *
  *   Gopher quality rules (stateless columns) → exact-dup gate (built-in
  *   streaming `dropDuplicates` on the content hash) → near-dup gate
  *   (StreamDedup's (band, bucket)-keyed flatMapGroupsWithState).
  *
  * The chain is the point: Spark's multi-stateful-operator support lets
  * the whole admission pipeline run in one checkpointed query — no
  * intermediate topic/table between the gates (the kafka-per-stage
  * posture a multi-query deployment would need). State budget at scale:
  * stage 2 holds one 16-byte content hash per distinct admitted text
  * (corpus-sized and append-only — bound it with
  * `dropDuplicatesWithinWatermark` when the ingest contract tolerates
  * re-admission past a horizon); stage 3 holds capped bucket occupant
  * signatures (StreamDedup's documented budget). Ordering contract is
  * StreamDedup's: feeding micro-batches in id order reproduces the batch
  * twin's "earlier = smaller id" exactly (in-batch groups are id-sorted;
  * the exact-dup stage keeps the FIRST arrival, which under id-ordered
  * feeding is the min id — `exactSurvivors`' winner).
  *
  * Emits near-dup FLAG events (doc, dupOf, band); admitted docs =
  * quality∘exact survivors minus flagged docs, resolved at read time
  * (st4's posture: an append-mode stream cannot re-aggregate its own
  * output, and the flag stream is the thing a 100 TB deployment
  * persists).
  *
  * Two read-side contracts a consumer must honor (details on
  * [[StreamDedup.flagStream]]): (1) flags are EVENTS — under
  * out-of-order arrival the same doc can be flagged repeatedly with
  * different `dupOf`s, so dedupe BY DOC at read time; (2) stream and
  * batch both admit exactly one doc per near-dup cluster, but WHICH
  * member differs under arrival permutation (stream keeps the
  * first-arriving probe, batch the min id) — diff cluster membership,
  * not survivor ids.
  */
object IngestGate {

  /** The one-query chained online gate: flags near-dups among the
    * quality-passing, exact-deduped document stream.
    *
    * `dedupHorizon` (with `eventTime`) bounds the exact-gate state:
    * `dropDuplicatesWithinWatermark` evicts content hashes once the
    * watermark passes their event time + horizon, trading unbounded
    * state for re-admission of exact copies past the horizon. The
    * composition degrades GRACEFULLY: a re-admitted exact copy has an
    * IDENTICAL signature, so the near-dup gate flags it against the
    * original's still-held bucket occupancy (estimate 1.0) — the copy
    * is demoted from "silently dropped" to "flagged", never silently
    * admitted (pinned in IngestGateSpec). `stateTtlMs` bounds the
    * near-dup gate's bucket state the same way (StreamDedup.flagStream's
    * processing-time eviction contract); an always-on deployment sets
    * both knobs or neither. */
  def gateStream(spark: SparkSession, docs: DataFrame, id: String = "doc_id",
                 text: String = "text", k: Int = 5,
                 threshold: Double = 0.5,
                 eventTime: Option[String] = None,
                 dedupHorizon: Option[String] = None,
                 stateTtlMs: Option[Long] = None): Dataset[StreamDedup.DupFlag] = {
    val quality = TextAnalysis.gopherRules(docs, text)
      .filter(col("gopher_pass"))
      .select(col(id) +: col(text) +: eventTime.map(col).toSeq: _*)
    val hashed = quality.withColumn("__h", md5(col(text)))
    val deduped = ((eventTime, dedupHorizon) match {
      case (Some(ts), Some(h)) =>
        hashed.withWatermark(ts, h).dropDuplicatesWithinWatermark("__h")
      case _ => hashed.dropDuplicates("__h")
    }).drop("__h")
    StreamDedup.flagStream(spark, deduped, id, text, k, threshold, stateTtlMs)
  }

  /** Batch twin: admitted documents (id, n_tokens) after all three
    * gates. Stream ≡ batch across id-ordered micro-batches is pinned in
    * IngestGateSpec; the registry entry (st12) runs this form and the
    * DuckDB oracle replays the whole chain.
    *
    * The batch form runs exact dedup before the quality gate
    * ([[Dedup.gatedSurvivors]], the same rows; the stream gates first), so
    * the gate runs once instead of under both reads of exactSurvivors and
    * both reads of its result. */
  def admittedBatch(docs: DataFrame, id: String = "doc_id", text: String = "text",
                    k: Int = 5, threshold: Double = 0.5): DataFrame = {
    val exact = Dedup.gatedSurvivors(docs.select(col(id), col(text)), id, text)
    val flags = StreamDedup.flaggedBatch(exact, id, text, k, threshold)
    exact.join(flags.select(col("doc").as(id)), Seq(id), "left_anti")
      .select(col(id), TextAnalysis.tokenEstimate(col(text)).as("n_tokens"))
  }
}
