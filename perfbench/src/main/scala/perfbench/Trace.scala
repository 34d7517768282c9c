package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root span; `op` is
  * the index of the operation the span belongs to (-1 outside ops). */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Per-span Spark work, filled by [[LayerCounts]]. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
}

/**
 * Spans around the benchmark's calls into the library. Spans are kept in
 * memory and written out once the run ends. While a span is open its id
 * is the calling thread's `perfbench.span` local property, so every Spark
 * job submitted inside it (and that job's stages and tasks) is charged to
 * it by [[LayerCounts]]. Spans nest per thread. While `on` is false,
 * `apply` is a plain call.
 */
final class Tracer(sc: SparkContext) {
  /** Whether spans are being recorded. */
  @volatile var on = false
  /** The operation new spans belong to. */
  @volatile var op: Long = -1L
  private val spans = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.Prop, prev)
        spans.synchronized(spans += Span(id, name, parent, op, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Duration minus the part of the span's interval its direct children
    * cover. */
  def selfNs: Map[Long, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      var covered = 0L
      var end = Long.MinValue
      kids.getOrElse(s.id, Nil).sortBy(_.startNs).foreach { c =>
        val from = math.max(c.startNs, end)
        if (c.endNs > from) { covered += c.endNs - from; end = c.endNs }
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self times in ms of every span named `name`, optionally limited to
    * the given operations. */
  def selfMs(name: String, ops: Long => Boolean = _ => true): Seq[Double] = {
    val self = selfNs
    all.filter(s => s.name == name && ops(s.op))
      .map(s => Stats.ms(self(s.id)))
  }

  def write(path: java.nio.file.Path, counts: LayerCounts): Unit = {
    val self = selfNs
    val ss = all
    val t0 = ss.map(_.startNs).minOption.getOrElse(0L)
    val lines = ss.sortBy(_.startNs).map { s =>
      val w = counts.of(s.id)
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""op": ${s.op}, "start_us": ${(s.startNs - t0) / 1000}, """ +
        s""""end_us": ${(s.endNs - t0) / 1000}, "self_us": ${self(s.id) / 1000}, """ +
        s""""jobs": ${w.jobs}, "stages": ${w.stages}, "tasks": ${w.tasks}, """ +
        s""""task_ms": ${w.taskMs}, "input_bytes": ${w.inputBytes}, """ +
        s""""shuffle_write_bytes": ${w.shuffleWriteBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/**
 * Counts Spark jobs, stages, tasks, task time and bytes per open span.
 * A job is charged to the span open on the thread that submitted it;
 * its stages and tasks follow the job. Work submitted outside any span
 * is charged to span 0.
 */
final class LayerCounts extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)

  def of(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    of(spanOf(e.properties)).jobs += 1

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    of(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = of(stageSpan.getOrDefault(e.stageId, 0L))
    w.tasks += 1
    w.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      w.inputBytes += m.inputMetrics.bytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Sum of one counter over the given spans. */
  def total(spans: Seq[Span])(f: Work => Long): Long =
    spans.map(s => f(of(s.id))).sum
}
