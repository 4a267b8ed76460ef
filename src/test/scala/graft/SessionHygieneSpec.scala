package graft

import graft.Ckpt._
import org.apache.spark.storage.StorageLevel

class SessionHygieneSpec extends SparkSpecBase {

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.get(id)
      .exists(_.getStorageLevel != StorageLevel.NONE)

  test("freeCheckpoint frees a checkpoint-rooted frame and rejects derived plans") {
    val s = spark; import s.implicits._
    val df = (1 to 100).toDF("x").ckpt()
    val rddId = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(persisted(rddId), "localCheckpoint must pin blocks")
    SessionHygiene.freeCheckpoint(df)
    assert(!persisted(rddId), "freeCheckpoint must release them")
    // a derived plan could strand OTHER live checkpoints — must throw
    val derived = (1 to 100).toDF("x").ckpt().select(org.apache.spark.sql.functions.col("x") + 1)
    intercept[IllegalArgumentException](SessionHygiene.freeCheckpoint(derived))
  }
}
