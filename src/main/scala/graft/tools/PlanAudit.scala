package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan audit over the whole registry: executes each query at the given
  * scale factor (so AQE finalizes) and reports the shapes that decide
  * whether a plan survives a 100x scale-up — exchange count, join
  * strategies, whole-stage-codegen spans, scan pushdown. With `--md` it
  * emits the PLANS.md artifact. ScaleSpec compares `shape` of headline
  * queries against a committed snapshot to catch plan regressions.
  *
  * Run: runMain graft.tools.PlanAudit [sfDir] [--md]
  */
object PlanAudit {

  /** The scale-deciding shape of a finalized physical plan. WSCG span count
    * is reported but not part of the regression snapshot (it shifts with
    * codegen details across Spark patch versions; the join/shuffle shape is
    * what decides scale survival). */
  final case class PlanShape(exchanges: Int, bhj: Int, smj: Int, bnlj: Int,
                             wscg: Int, pushdown: Boolean, ckptScans: Int = 0) {
    def snapshot: String = s"$exchanges/$bhj/$smj/$bnlj/${if (pushdown) "p" else "-"}"
  }

  /** Executes the frame (finalizing AQE) and parses the final plan. */
  def shape(df: DataFrame): PlanShape = {
    df.collect() // finalize adaptive plan (dev/audit path, not the engine)
    shapeOf(df.queryExecution.executedPlan)
  }

  /** Parses an executed physical plan. */
  def shapeOf(executed: SparkPlan): PlanShape = {
    // AQE's toString prints Current + Initial plans; audit the final one
    val plan = executed.toString.split("== Initial Plan ==").head
    val lines = plan.linesIterator.toSeq
    def count(p: String) = lines.count(_.contains(p))
    PlanShape(
      exchanges = count("Exchange") - count("BroadcastExchange"),
      bhj = count("BroadcastHashJoin"),
      smj = count("SortMergeJoin"),
      bnlj = count("BroadcastNestedLoopJoin"),
      wscg = lines.count(_.matches(""".*\*\(\d+\).*""")),
      pushdown = lines.exists(l =>
        l.contains("PushedFilters: [") && !l.contains("PushedFilters: []")),
      // eager localCheckpoints truncate lineage, so this plan is only the
      // POST-checkpoint tail: count the checkpoint scans that feed it
      // (the stages behind them are what [[CheckpointStages]] records)
      ckptScans = count("Scan ExistingRDD"))
  }

  /** Records the executed plan of every `localCheckpoint` action run on
    * `spark` while registered. An eager checkpoint runs its stages at
    * build time, outside the plan of the query that reads it, so these
    * are the only plans that show them as production runs them. */
  final class CheckpointStages(spark: SparkSession) extends QueryExecutionListener {
    private val shapes = new java.util.concurrent.ConcurrentLinkedQueue[PlanShape]()
    spark.listenerManager.register(this)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "localCheckpoint") shapes.add(shapeOf(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** The stages recorded since the last call. Events reach listeners
      * asynchronously, so the listener bus is drained first. */
    def take(): Seq[PlanShape] = {
      ListenerBridge.drain(spark.sparkContext)
      Iterator.continually(shapes.poll()).takeWhile(_ != null).toSeq
    }

    def close(): Unit = spark.listenerManager.unregister(this)
  }

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    // optional trailing names restrict the audit (local iteration)
    val only = positional.drop(1).toSet
    val md = args.contains("--md")
    // audit the REAL chains: a memo hit would replace a query's upstream
    // plan with a checkpoint scan (same prop ScaleSpec's gate sets)
    sys.props("graft.querymemo.disable") = "true"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      // bounded-buffer typed aggregates (TopKAgg/MinKByAgg) group by
      // corpus-sized keys: the 128-key default silently flips
      // ObjectHashAggregate to sort-based, paying a map-side sort of
      // the whole input (measured 2.7x on the pair summaries); buffers
      // are <= k rows per group, so hash aggregation is safe
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (md) {
      println("# PLANS - physical-plan audit (finalized AQE plans, " + sfDir + ")")
      println()
      println("Exchanges = shuffles (broadcast exchanges excluded); BHJ/SMJ = join strategies;")
      println("WSCG = whole-stage-codegen spans; pushdown = parquet PushedFilters non-empty;")
      println("ckpt = checkpoint scans feeding the plan (ckpt > 0: this row covers only the")
      println("post-checkpoint tail; the truncated stages ran eagerly at build time, and their")
      println("executed plans are reported under \"Checkpoint stages\" below).")
      println()
      println("| query | exchanges | BHJ | SMJ | BNLJ | WSCG | pushdown | ckpt |")
      println("|---|---|---|---|---|---|---|---|")
    }
    val stages = new CheckpointStages(spark)
    val staged = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[PlanShape])]
    for (q <- graft.SparkEntry.all if only.isEmpty || only.contains(q.name)) {
      try {
        val s = shape(q.fn(spark, sfDir))
        val ckpts = stages.take()
        if (s.ckptScans > 0 || ckpts.nonEmpty) staged += q.name -> ckpts
        if (md)
          println(s"| ${q.name} | ${s.exchanges} | ${s.bhj} | ${s.smj} | ${s.bnlj} | " +
            s"${s.wscg} | ${if (s.pushdown) "yes" else "-"} | " +
            s"${if (s.ckptScans > 0) s.ckptScans.toString else "-"} |")
        else
          println(f"${q.name}%-28s shuffles=${s.exchanges} bhj=${s.bhj} " +
            f"smj=${s.smj} wscg=${s.wscg} pushdown=${s.pushdown} ckpt_stages=${ckpts.size}")
      } catch {
        case e: Throwable =>
          stages.take()
          println(s"| ${q.name} | audit failed: ${e.getMessage.take(60)} |")
      }
    }
    stages.close()
    if (md && staged.nonEmpty) {
      println()
      println("## Checkpoint stages: the executed plans of the eager checkpoints")
      println()
      println("Every query above that runs a localCheckpoint or reads a checkpoint scan.")
      println("stages = localCheckpoint actions the query ran while it was built; the shape")
      println("columns sum their executed (AQE-final) plans; per stage lists each distinct")
      println("stage shape (exchanges/BHJ/SMJ/BNLJ/pushdown) with its count.")
      println()
      println("| query | stages | exchanges | BHJ | SMJ | BNLJ | WSCG | pushdown | per stage |")
      println("|---|---|---|---|---|---|---|---|---|")
      for ((name, ss) <- staged) {
        val perStage = ss.groupBy(_.snapshot).toSeq.sortBy(-_._2.size)
          .map { case (snap, g) => s"${g.size}x $snap" }.mkString(", ")
        println(s"| $name | ${ss.size} | ${ss.map(_.exchanges).sum} | ${ss.map(_.bhj).sum} | " +
          s"${ss.map(_.smj).sum} | ${ss.map(_.bnlj).sum} | ${ss.map(_.wscg).sum} | " +
          s"${if (ss.exists(_.pushdown)) "yes" else "-"} | ${if (perStage.isEmpty) "-" else perStage} |")
      }
    }
    spark.stop()
  }
}
