package graft.tools

import graft.Ckpt._
import graft.SparkSpecBase
import org.apache.spark.sql.functions.{col, sum}

class PlanAuditSpec extends SparkSpecBase {

  test("a checkpointed stage's SortMergeJoin is reported from its executed plan, not from the plan that reads it") {
    val s = spark; import s.implicits._
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val stages = new PlanAudit.CheckpointStages(spark)
      try {
        val a = (1 to 200).map(i => (i % 20, i)).toDF("k", "x")
        val b = (1 to 50).map(i => (i % 20, i * 2)).toDF("k", "y")
        val joined = a.join(b, "k").ckpt()
        val downstream = joined.groupBy("k").agg(sum(col("y")))
        val last = PlanAudit.shape(downstream)
        val ckpts = stages.take()
        assert(ckpts.size === 1, ckpts)
        assert(ckpts.head.smj >= 1, ckpts)
        assert(last.smj === 0 && last.ckptScans === 1, last)
        // recorded stages are handed out once
        assert(stages.take().isEmpty)
      } finally stages.close()
    }
  }
}
