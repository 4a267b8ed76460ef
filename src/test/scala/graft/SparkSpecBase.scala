package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: tiny parallelism, UTC, AQE on. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  override def afterAll(): Unit = () // session shared across suites

  /** Runs `body` with the session confs set to `kvs`, restoring each one
    * (or unsetting it, if it was unset) afterwards. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark jobs started by `body` on this thread, counted by a listener. */
  def jobsOf(body: => Unit): Int = {
    val counted = new java.util.concurrent.atomic.AtomicInteger
    observe(_ => counted.incrementAndGet(), _ => ())(body)
    counted.get
  }

  /** The Spark jobs started by `body` on this thread, in start order, as
    * (name of the job's result stage, i.e. its call site such as
    * "localCheckpoint at Ckpt.scala:15"; tasks the job ran). A stage that
    * several jobs list (an AQE query stage its parent job skips) counts
    * for the first of them. */
  def tasksOf(body: => Unit): Seq[(String, Int)] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    observe(jobs.add(_), t => tasks.merge(t.stageId, 1, _ + _))(body)
    val seen = scala.collection.mutable.Set.empty[Int]
    jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq.map { j =>
      val own = j.stageIds.filter(seen.add)
      (j.stageInfos.maxBy(_.stageId).name, own.map(tasks.getOrDefault(_, 0)).sum)
    }
  }

  /** Runs `body` in a job group with a listener that passes the group's
    * job starts to `onJob` and every task end to `onTask`. A marker job in
    * its own group runs after `body`, and since the listener bus delivers
    * events in order, seeing the marker means every event of `body`'s jobs
    * has been delivered. */
  private def observe(onJob: SparkListenerJobStart => Unit,
                      onTask: SparkListenerTaskEnd => Unit)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val (group, marker) = ("spec-jobs", "spec-marker")
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => onJob(e)
          case Some(`marker`) => done.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onTask(e)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // bounded-buffer typed aggregates (TopKAgg/MinKByAgg) group by
      // corpus-sized keys: the 128-key default silently flips
      // ObjectHashAggregate to sort-based, paying a map-side sort of
      // the whole input (measured 2.7x on the pair summaries); buffers
      // are <= k rows per group, so hash aggregation is safe
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
