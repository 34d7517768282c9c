package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val trace: Tracer,
                val counts: LayerCounts, val dir: Path, val cores: Int) {

  /** Jobs run so far outside any span (all jobs of untraced ops). */
  def untracedJobs(): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counts.of(0L).jobs
  }

  /** `f` over `xs` on one thread per core, results in input order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdownNow()
  }

  /** Fresh empty directory under this run's working directory. */
  def freshDir(name: String): Path = {
    val d = dir.resolve(name)
    Files.createDirectories(d.getParent)
    Ctx.deleteTree(d)
    d
  }
}

object Ctx {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Bytes of the parquet data files under `p` (no checksums or
    * markers). */
  def parquetBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator.asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .map(f => Files.size(f)).sum
    finally s.close()
  }
}

/** Outcome of one timed operation: latency, or why it failed, and the
  * host probe's time right after it ([[HostProbe]]). */
final case class Outcome(index: Int, latencyNs: Long, error: Option[String],
                         traced: Boolean, probeMs: Double = 0.0)

/**
 * The closed loop: one client runs operations back to back, in whole
 * rounds of `roundSize`, until `seconds` have passed at a round boundary
 * (and at least `minRounds` rounds ran). Each op times itself, from the
 * call to the decoded result, and then checks that result; the check is
 * not timed. An op that throws or fails its check is recorded as failed,
 * never as a timing. In a traced run the rounds alternate between traced
 * and untraced, so the run can report the tracing overhead; the first
 * round is always traced.
 */
object Loop {
  def run(ctx: Ctx, roundSize: Int, minRounds: Int, probes: Int = 1)
         (op: Int => (Long, Option[String])): Seq[Outcome] = {
    val out = Seq.newBuilder[Outcome]
    val t0 = System.nanoTime()
    val budget = ctx.seconds * 1000000000L
    var round = 0
    while (round < minRounds || System.nanoTime() - t0 < budget) {
      val tracedRound = ctx.traced && round % 2 == 0
      ctx.trace.on = tracedRound
      var j = 0
      while (j < roundSize) {
        val i = round * roundSize + j
        ctx.trace.op = i
        val o =
          try { val (ns, err) = op(i); Outcome(i, ns, err, tracedRound) }
          catch { case NonFatal(e) => Outcome(i, 0L, Some(s"threw $e"), tracedRound) }
        val probe = (1 to probes).map(_ => HostProbe.sampleMs(ctx)).min
        System.err.println(f"[perfbench] op $i ${Stats.ms(o.latencyNs)}%.1f ms" +
          f", probe $probe%.1f ms" + o.error.fold("")(e => s" FAILED: $e"))
        out += o.copy(probeMs = probe)
        j += 1
      }
      round += 1
    }
    ctx.trace.on = false
    ctx.trace.op = -1
    out.result()
  }

  /** Untimed warm-up: whole rounds of ops with negative indices (which the
    * loop never repeats) until `seconds` have passed at a round boundary,
    * and at least `minRounds` rounds. The JIT keeps speeding Spark's
    * driver-side code up for minutes, so a warm-up of a fixed number of
    * ops leaves each run measuring a different point of that curve. */
  def warmUp(seconds: Double, roundSize: Int, minRounds: Int)
            (op: Int => Any): Unit = {
    val t0 = System.nanoTime()
    var round = 0
    while (round < minRounds || System.nanoTime() - t0 < seconds * 1e9) {
      (1 to roundSize).foreach(j => op(-(round * roundSize + j)))
      round += 1
    }
  }

  private def ok(os: Seq[Outcome]): Seq[Outcome] = {
    val good = os.filter(_.error.isEmpty)
    val plain = good.filterNot(_.traced)
    if (plain.nonEmpty) plain else good
  }

  /** Latencies in ms of the successful ops (untraced ones when the run
    * has any). */
  def latenciesMs(os: Seq[Outcome]): Seq[Double] =
    ok(os).map(o => Stats.ms(o.latencyNs))

  /** Items per second of op time: `itemsPerOp` × successful ops over
    * their summed latency. */
  def rate(os: Seq[Outcome], itemsPerOp: Double): Double = {
    val g = ok(os)
    g.size * itemsPerOp / (g.map(_.latencyNs).sum / 1e9)
  }

  /** Median over the successful ops of each op's latency divided by the
    * host probe time right after it: the op's cost in probe times. */
  def relP50(os: Seq[Outcome]): Double =
    Stats.median(ok(os).map(o => Stats.ms(o.latencyNs) / o.probeMs))

  /** Traced over untraced median latency, minus one. */
  def overhead(os: Seq[Outcome]): Double = {
    val (t, u) = os.filter(_.error.isEmpty).partition(_.traced)
    if (t.isEmpty || u.isEmpty) 0.0
    else Stats.median(t.map(_.latencyNs.toDouble)) /
      Stats.median(u.map(_.latencyNs.toDouble)) - 1.0
  }
}

/** Per-layer metrics of the write path, shared by every workload. */
object Layers {
  def writer(ctx: Ctx, spans: Seq[Span], rows: Long,
             bytes: Long): Map[String, Metric] = {
    val w = spans.filter(_.name == "writer.write")
    val self = ctx.trace.selfNs
    Map(
      "writer.write_ms" -> Metric(
        if (w.isEmpty) 0.0 else Stats.median(w.map(s => Stats.ms(self(s.id)))), "ms"),
      "writer.jobs_per_write" -> Metric(
        if (w.isEmpty) 0.0 else ctx.counts.total(w)(_.jobs).toDouble / w.size,
        "count"),
      "writer.bytes_per_row" -> Metric(bytes.toDouble / rows, "B"))
  }
}

/**
 * A fixed CPU kernel run on every core at once, next to the measured ops,
 * to read how fast the shared host is at that moment. The benchmark's
 * timings follow the host: over five `shard_publish` runs the median step
 * took 579–889 ms while this probe took 55–80 ms, correlation 1.00: the
 * steps spread 32% between runs, step ÷ probe 3.8%. The kernel is the
 * benchmark's own code (XXH64 over a fixed 8 MB array), so no change to
 * the library changes the work it does.
 */
object HostProbe {
  private val data = Array.tabulate(1 << 20)(i => i.toLong * 2654435761L)
  @volatile private var sink = 0L

  private def kernelMs(): Double = {
    val t = System.nanoTime()
    var h = 0L
    var r = 0
    while (r < 4) {
      var i = 0
      while (i < data.length) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(data(i) ^ h, 42L)
        i += 1
      }
      r += 1
    }
    sink += h
    Stats.ms(System.nanoTime() - t)
  }

  /** The slowest core's kernel time, all cores running it at once. */
  def sampleMs(ctx: Ctx): Double = ctx.parallel(1 to ctx.cores)(_ => kernelMs()).max
}
