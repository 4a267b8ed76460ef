package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark counters of one span: everything its own jobs did (child spans
  * set their own job group, so their jobs are theirs, not the parent's). */
final class Counters {
  val jobs, tasks, gcMs, shuffleWriteBytes, spillBytes = new AtomicLong
  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "gc_ms" -> gcMs.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "spill_bytes" -> spillBytes.get)
}

/** Attributes jobs and task metrics to spans through the job group the
  * tracer sets ("span-<id>") around each traced call. */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, Counters]
  private val stageSpan = new ConcurrentHashMap[Int, Int]

  def of(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("span-")).foreach { s =>
      val id = s.stripPrefix("span-").toInt
      of(id).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (id != 0 && m != null) {
      val c = of(id)
      c.tasks.incrementAndGet()
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }
}

/** In-memory span recorder. A span has a name, start, end, parent span and
  * run id (the pass or request it belongs to); spans are written out only
  * when the run ends. When disabled, `apply` is a plain call. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val t0 = System.nanoTime()
  val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def apply[T](name: String, run: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      sc.setJobGroup(s"span-$id", name)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.set(stack.get.tail)
        if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(s"span-$parent", "")
        spans.add(Span(name, id, parent, run, start - t0, end - t0))
      }
    }

  def toJson: Map[String, Any] = {
    if (enabled) PerfbenchBridge.drainListeners(spark.sparkContext)
    val ss = spans.asScala.toSeq.sortBy(_.id)
    Map(
      "spans" -> ss.map(s => Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "run" -> s.run, "start_ns" -> s.start, "end_ns" -> s.end)),
      "counters" -> ss.map(s => s.id.toString -> listener.of(s.id).toJson).toMap)
  }
}

object Tracer {
  final case class Span(name: String, id: Int, parent: Int, run: String, start: Long, end: Long)
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb.append(n.toString)
      case m: Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, v) =>
          if (!first) sb.append(',')
          first = false
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case it: Iterable[_] =>
        sb.append('[')
        var first = true
        it.foreach { y => if (!first) sb.append(','); first = false; go(y) }
        sb.append(']')
      case arr: Array[_] => go(arr.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
