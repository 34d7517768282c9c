package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** One reported number with its unit. */
final case class Metric(value: Double, unit: String)

object Stats {

  /** Median of a non-empty sample (mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def ms(nanos: Long): Double = nanos / 1e6
}

/** Relative-tolerance number comparison used by every output check. */
object Close {
  def apply(a: Double, b: Double, rel: Double): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))
}

/** JVM counters read from outside the library: GC time and peak heap.
  * The heap is fixed in size, so the eden space fills to whatever the
  * collector allows; the peak counts the pools that hold surviving
  * objects only (survivor and old), which is where retained data shows. */
final class JvmProbe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      !p.getName.contains("Eden"))
  private var gc0 = 0L

  /** Zero the GC clock and every heap pool's peak. */
  def reset(): Unit = {
    gc0 = gcTotal
    heapPools.foreach(_.resetPeakUsage())
  }

  private def gcTotal: Long = gcs.map(_.getCollectionTime).filter(_ > 0).sum

  def gcMs: Double = (gcTotal - gc0).toDouble

  def peakHeapMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def metrics(ms: Map[String, Metric]): String =
    ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString("{", ", ", "}")
}
