package graft

import org.apache.spark.sql.Dataset

/** The one materialization primitive: `ds.ckpt()` is an eager
  * `localCheckpoint()`, truncating lineage at dual-consumer points and
  * loop boundaries, exactly what every operator comment documents.
  *
  * A query's final plan shows each checkpoint only as a `Scan
  * ExistingRDD`; the stages behind it ran eagerly at build time.
  * tools/PlanAudit records those stages' executed plans as they run. */
object Ckpt {

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(): Dataset[T] = ds.localCheckpoint()
  }
}
