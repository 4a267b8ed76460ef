package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Block-manager hygiene for long sessions running many standalone
  * queries.
  *
  * Nearly every operator family truncates lineage with `localCheckpoint`
  * (signature tables, gram arrays, component labels, rank vectors). Each
  * checkpoint pins its blocks for the life of the session, so a 190-query
  * drive accumulates gigabytes of dead blocks; once the storage region
  * fills, later queries pay constant eviction churn + GC — the tail of the
  * bench suite measured 5-7x slower than the same queries in a fresh
  * session. A real deployment runs one pipeline per job and never sees
  * this; a long-lived server (or this bench/verify driver) must release
  * blocks between requests.
  *
  * `release` unpersists every persisted RDD except those reachable from
  * the `keep` frames (memoized intermediates that later queries still
  * read — unpersisting a checkpoint-backed frame would strand it, since
  * its lineage is truncated by design).
  */
object SessionHygiene {

  private def persistedAncestors(rdd: RDD[_]): Set[Int] = {
    val seen = scala.collection.mutable.Set[Int]()
    val out = scala.collection.mutable.Set[Int]()
    def walk(r: RDD[_]): Unit = {
      if (seen.add(r.id)) {
        if (r.getStorageLevel != StorageLevel.NONE) out += r.id
        r.dependencies.foreach(d => walk(d.rdd))
      }
    }
    walk(rdd)
    out.toSet
  }

  /** Frees the block-manager storage behind a localCheckpoint-backed
    * frame NOW. `Dataset.unpersist` only unregisters CacheManager
    * entries — a no-op for checkpoint RDDs, which persist directly with
    * the block manager — so `Dedup.connectedComponents` calls this on
    * each retired per-round edge frame (keeping intra-query storage O(1)
    * in the round count instead of waiting for GC-driven ContextCleaner
    * collection), and `QueryMemo.clear` on every memoized frame it
    * drops. Only call on frames whose
    * checkpoint is truly dead: the lineage is truncated, so freed blocks
    * cannot be recomputed.
    *
    * Accepts ONLY a checkpoint-ROOTED frame (the analyzed plan is the
    * bare LogicalRDD `localCheckpoint` returned). A lazily-derived frame
    * can reference OTHER live checkpoints in its subtree; blanket-freeing
    * every LogicalRDD found there would destroy blocks that can never be
    * recomputed (lineage truncated). Passing a derived frame throws
    * rather than guessing. */
  def freeCheckpoint(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case other =>
        throw new IllegalArgumentException(
          "freeCheckpoint requires the checkpoint-rooted frame itself " +
            s"(plan root is ${other.nodeName}, not LogicalRDD); freeing " +
            "LogicalRDDs inside a derived plan could strand other live " +
            "checkpoints")
    }
  }

  def release(spark: SparkSession, keep: Seq[DataFrame]): Unit = {
    val protectedIds = keep.flatMap(df => persistedAncestors(df.rdd)).toSet
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!protectedIds.contains(id)) rdd.unpersist(blocking = false)
    }
  }
}
