package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import graft.GraftSession

/**
 * Benchmark entry point. Usage:
 *
 *   Main --workload olap_shards|shard_publish|corpus_dedup --seed N
 *        --seconds S --trace 0|1 --work DIR
 *
 * One JVM runs one workload: `local[nproc]`, one client thread, a closed
 * loop for S seconds. The last line of stdout is one JSON object with
 * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
 * untraced, the per-layer metrics traced (then the span file is written
 * under DIR too). A traced run charges Spark work to spans through a
 * listener; an untraced run registers none.
 */
object Main {
  /** Every per-layer metric and its unit; a layer a workload does not
    * use reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s",
    "engine.plan_ms" -> "ms", "engine.plan_jobs" -> "count",
    "exec.collect_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.scan_bytes" -> "B", "exec.shuffle_bytes" -> "B",
    "exec.busy_frac" -> "fraction", "exec.floor_ms" -> "ms",
    "transport.encode_ms" -> "ms", "transport.decode_ms" -> "ms",
    "transport.result_bytes" -> "B",
    "writer.write_ms" -> "ms", "writer.jobs_per_write" -> "count",
    "writer.bytes_per_row" -> "B",
    "dedup.candidates_ms" -> "ms", "dedup.candidate_pairs" -> "count",
    "dedup.verify_ms" -> "ms", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "fraction", "dedup.clusters_ms" -> "ms",
    "dedup.cluster_jobs" -> "count", "dedup.survivors_ms" -> "ms",
    "dedup.removed_docs" -> "count", "dedup.pass_jobs" -> "count",
    "text.signals_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.peak_heap_mb" -> "MB",
    "trace.overhead_frac" -> "fraction")

  /** Set-up repetitions; `setup_s` reports their median. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workloadName = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val traced = opt("--trace") == "1"
    val work = Paths.get(opt("--work")).toAbsolutePath
    require(seconds > 0, "--seconds must be positive")

    val cores = Runtime.getRuntime.availableProcessors()
    val s0 = System.nanoTime()
    val spark = GraftSession.local("perfbench", cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    try {
      val sc = spark.sparkContext
      val counts = new LayerCounts
      if (traced) sc.addSparkListener(counts)
      val runDir = work.resolve(s"$workloadName-${ProcessHandle.current.pid}")
      val ctx = new Ctx(spark, seed, seconds, traced, new Tracer(sc), counts,
        runDir, cores)
      val w: Workload = workloadName match {
        case "olap_shards" => new OlapWorkload(ctx)
        case "shard_publish" => new PublishWorkload(ctx)
        case "corpus_dedup" => new DedupWorkload(ctx, docs = 25000, planted = 1500)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      try {
        // JVM start through session start, plus the median input build
        val jvmToNowS = (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        ctx.trace.on = traced
        val genS = (0 until SetupRepeats).map { r =>
          val t = System.nanoTime()
          w.generate(r)
          (System.nanoTime() - t) / 1e9
        }
        ctx.trace.on = false
        val setupS = jvmToNowS + Stats.median(genS)
        val p0 = System.nanoTime()
        w.prepare()
        val prepareS = (System.nanoTime() - p0) / 1e9

        val jvm = new JvmProbe
        jvm.reset()
        val r0 = System.nanoTime()
        val outcomes = w.run()
        val runS = (System.nanoTime() - r0) / 1e9
        val gcMs = jvm.gcMs
        val heapMb = jvm.peakHeapMb
        val selfTestMisses = w.selfTest()
        System.err.println(f"[perfbench] phases: session $sessionS%.2fs, " +
          f"jvm+session $jvmToNowS%.2fs, inputs ${genS.map(x => f"$x%.2f").mkString("/")}s, " +
          f"checks+warm-up $prepareS%.2fs, loop $runS%.2fs")
        selfTestMisses.foreach(m =>
          System.err.println(s"[perfbench] check self-test missed: $m"))

        val failed = outcomes.count(_.error.nonEmpty)
        require(failed < outcomes.size, "every op failed; no timing to report")
        val metrics =
          if (!traced) {
            val raw = w.endToEnd(outcomes)
            System.err.println(f"[perfbench] raw: op_p50_ms ${raw("op_p50_ms").value}%.1f, " +
              f"items_per_s ${raw("items_per_s").value}%.3f, " +
              f"probe_ms ${Stats.median(outcomes.map(_.probeMs))}%.2f")
            Map("setup_s" -> Metric(setupS, "s"),
              "op_p50_rel" -> Metric(Loop.relP50(outcomes), "x"),
              "stored_bytes_per_row" -> raw("stored_bytes_per_row"))
          } else {
            org.apache.spark.PerfbenchBus.drain(sc)
            val floorMs = Stats.median((1 to 5).map { _ =>
              val t = System.nanoTime()
              sc.parallelize(Seq(0), 1).count()
              Stats.ms(System.nanoTime() - t)
            })
            val spansFile = work.resolve("spans")
              .resolve(s"$workloadName-seed$seed.jsonl")
            org.apache.spark.PerfbenchBus.drain(sc)
            ctx.trace.write(spansFile, counts)
            System.err.println(s"[perfbench] spans written to $spansFile")
            val got = w.perLayer(outcomes) ++ Map(
              "session.start_s" -> Metric(sessionS, "s"),
              "exec.floor_ms" -> Metric(floorMs, "ms"),
              "jvm.gc_ms" -> Metric(gcMs, "ms"),
              "jvm.peak_heap_mb" -> Metric(heapMb, "MB"))
            PerLayer.map { case (k, u) => k -> got.getOrElse(k, Metric(0.0, u)) }.toMap
          }
        metrics.toSeq.sortBy(_._1).foreach { case (k, m) =>
          System.err.println(f"[perfbench] $k%-26s ${m.value}%14.4f ${m.unit}")
        }
        System.err.println(s"[perfbench] $workloadName: ${outcomes.size} ops, " +
          s"$failed failed, check self-test " +
          (if (selfTestMisses.isEmpty) "ok" else "FAILED"))
        println(s"""{"correct": ${selfTestMisses.isEmpty}, """ +
          s""""attempted": ${outcomes.size}, "failed": $failed, """ +
          s""""metrics": ${Json.metrics(metrics)}}""")
      } finally Ctx.deleteTree(runDir)
    } finally {
      spark.stop()
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2fs since JVM start")
    }
  }
}
