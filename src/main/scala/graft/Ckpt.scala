package graft

import org.apache.spark.sql.Dataset

/** Central `localCheckpoint` gate.
  *
  * Production semantics are unchanged: `ds.ckpt()` is an eager
  * `localCheckpoint()` — lineage truncation at dual-consumer points and
  * loop boundaries, exactly what every operator comment documents.
  *
  * AUDIT MODE (`-Dgraft.ckpt.disable=true`, set by tools/PlanAudit's
  * shadow pass only — never by Verify/Bench): `ckpt()` is the identity,
  * so a plan dump covers the FULL lineage instead of stopping at
  * checkpoint scans. PLANS.md rows with ckpt > 0 are partial audits by
  * construction (eager checkpoints run their stages outside the audited
  * plan); the shadow pass rebuilds those queries un-truncated and
  * records the whole-plan shape. Audit mode trades away everything the
  * checkpoints buy — shared stages recompute per consumer and iterative
  * loops carry their whole history in one plan — so it is for plan
  * READING, not for timing.
  */
object Ckpt {

  /** True only under tools/PlanAudit's shadow pass. Read per call (not
    * cached) so a long-lived session can flip it between queries. */
  def disabled: Boolean = sys.props.get("graft.ckpt.disable").contains("true")

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(): Dataset[T] = if (disabled) ds else ds.localCheckpoint()

    /** Checkpoint for LOOP-CARRIED frames (BFS/k-core rounds,
      * connected-components stars, BPE merge rounds): truncates
      * EVEN in audit mode. Without truncation an iterative plan's
      * lineage grows exponentially in the round count (each round
      * references the previous frame more than once), so "disable
      * checkpoints and read the whole plan" is not a meaningful audit
      * there — Catalyst analysis itself never terminates at realistic
      * round counts (the r14 shadow-pass hang). Iteration boundaries
      * keep their truncation. */
    def loopCkpt(): Dataset[T] = ds.localCheckpoint()
  }
}
