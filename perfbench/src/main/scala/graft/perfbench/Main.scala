package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark workload. A set-up starts a session and `stage`s the
  * generated inputs on it; after the last set-up one untimed `warmup` pass
  * runs, then `measure` runs the timed phase and returns its samples. */
trait Workload {
  def stage(spark: SparkSession): Unit
  def warmup(): Unit
  def measure(seconds: Double, trace: Tracer): Map[String, Any]
}

/** One phase's passes: the time of each (the `run_s` samples) and how
  * many were attempted and failed. A pass fails when it throws or when its
  * output differs from the phase's first output (`same`). */
final class Samples[T <: AnyRef](same: (T, T) => Boolean) {
  val unitS = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var first: T = null.asInstanceOf[T]

  def once(pass: => T): Unit = {
    val t0 = System.nanoTime()
    attempted += 1
    try {
      val out = pass
      if (first == null) first = out
      else if (!same(first, out)) failed += 1
    } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] pass failed: $e") }
    unitS += Main.seconds(t0)
  }

  def toJson: Map[String, Any] = Map("unit_s" -> unitS.toSeq,
    "attempted" -> attempted, "failed" -> failed)
}

object Samples {
  /** Runs `step(i)` until `seconds` have passed and at least `minPasses`
    * steps ran. */
  def loop(seconds: Double, minPasses: Int = Main.MinPasses)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || Main.seconds(t0) < seconds) { step(i); i += 1 }
  }
}

/** Harness entry point, launched by perfbench/run.py:
  *
  *   Main --workload W --data DIR --work DIR --out FILE --seconds S --trace 0|1
  *
  * `--data` holds the generated inputs, `--work` is scratch space for the
  * program's own writes, `--out` receives one JSON result file. */
object Main {
  val Setups = 3
  /** A run measures passes until `--seconds` have passed, and at least
    * this many: after the one warm-up pass the JIT is still compiling (on
    * 4 cores C2 compiles for about 110 CPU-seconds in a 65 s rebuild run,
    * and each pass is faster than the one before), so `run_s` is the
    * fastest of several passes, not the first one. */
  val MinPasses = 3

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the same session settings graft.Bench runs the registry with
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** graft.Bench's box-drift sentinel, unchanged: a fixed CPU+shuffle job
    * that touches neither the library nor the inputs (min of 3). */
  def sentinel(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    val cpus = spark.sparkContext.defaultParallelism
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 50000000L, 1, cpus)
        .select(sum(pmod(xxhash64(col("id") * 31 + 7), lit(1L << 30))).as("s"))
        .write.format("noop").mode("overwrite").save()
      seconds(t0)
    }.min
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def vmHwmMb(): Double = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) {
    _.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val (data, work) = (opt("data"), opt("work"))
    val traced = opt("trace") == "1"
    val wl: Workload = name match {
      case "dww_rebuild" => new DwwRebuild(data, work)
      case "llm_curation" => new LlmCuration(data, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up = session start + reading and staging the inputs, repeated on
    // fresh sessions; the untimed warm-up pass follows the last set-up
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        graft.queries.QueryMemo.clear()
      }
      val t0 = System.nanoTime()
      spark = session(work)
      wl.stage(spark)
      setupS += seconds(t0)
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = seconds(w0)
    val tracer = new Tracer(spark, traced)
    val measured = wl.measure(opt("seconds").toDouble, tracer)
    val peakRssMb = vmHwmMb()
    val box = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "sentinel_s" -> sentinel(spark))
    val result = Map(
      "workload" -> name, "box" -> box, "setup_s" -> setupS.toSeq, "warmup_s" -> warmupS,
      "peak_rss_mb" -> peakRssMb) ++ measured ++
      (if (traced) Map("trace" -> tracer.toJson) else Map.empty)
    spark.stop()
    Files.write(Paths.get(opt("out")), Json.write(result).getBytes(StandardCharsets.UTF_8))
  }
}
