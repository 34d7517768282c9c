package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.AggregateEngine
import graft.sources.Transport

/**
 * The parquery caller's path, shared by `olap_shards` and
 * `shard_publish`: `aggregatePq` (one shard) or `aggregatePqShards`, the
 * result encoded by `Transport` and decoded again.
 */
final class Parquery(ctx: Ctx) {
  private val resultBytes = mutable.Map.empty[Int, Long]

  private def call(q: Query, paths: Seq[String]): DataFrame =
    ctx.trace("engine.plan") {
      if (paths.size == 1)
        AggregateEngine.aggregatePq(ctx.spark, paths.head, q.dims,
          q.measureSpecs, q.filters, q.aggregate)
      else
        AggregateEngine.aggregatePqShards(ctx.spark, paths, q.dims,
          q.measureSpecs, q.filters, q.aggregate)
    }

  /** Untraced this is the caller's own sequence of calls. Traced, the
    * plan is executed by an explicit `collect` first, so execution and
    * encoding get separate spans. */
  def answer(q: Query, paths: Seq[String], op: Int): Answer = {
    val df = call(q, paths)
    val bytes =
      if (!ctx.trace.on) Transport.serializeArrowBytes(df)
      else {
        val local = ctx.trace("exec.collect") {
          val rows = df.collect()
          ctx.spark.createDataFrame(rows.toList.asJava, df.schema)
        }
        ctx.trace("transport.encode")(Transport.serializeArrowBytes(local))
      }
    resultBytes(op) = bytes.length.toLong
    ctx.trace("transport.decode") {
      val out = Transport.deserializeArrowBytes(ctx.spark, bytes)
      Answer.of(out.columns.toSeq, out.collect())
    }
  }

  /** Per-layer metrics: times are medians of span self times over every
    * traced op; counts are per-op means over the first round (ops
    * `0 until roundSize`), which the seed alone determines. */
  def layers(roundSize: Int): Map[String, Metric] = {
    val spans = ctx.trace.all
    def p50(name: String): Double = {
      val xs = ctx.trace.selfMs(name, _ >= 0)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def perOp(name: String)(f: Work => Long): Double =
      ctx.counts.total(spans.filter(s =>
        s.name == name && s.op >= 0 && s.op < roundSize))(f).toDouble / roundSize
    val exec = spans.filter(s => s.name == "exec.collect" && s.op >= 0)
    val execWallMs = exec.map(s => Stats.ms(s.durNs)).sum
    val execTaskMs = ctx.counts.total(exec)(_.taskMs).toDouble
    Map(
      "engine.plan_ms" -> Metric(p50("engine.plan"), "ms"),
      "engine.plan_jobs" -> Metric(perOp("engine.plan")(_.jobs), "count"),
      "exec.collect_ms" -> Metric(p50("exec.collect"), "ms"),
      "exec.jobs" -> Metric(perOp("exec.collect")(_.jobs), "count"),
      "exec.stages" -> Metric(perOp("exec.collect")(_.stages), "count"),
      "exec.tasks" -> Metric(perOp("exec.collect")(_.tasks), "count"),
      "exec.scan_bytes" -> Metric(perOp("exec.collect")(_.inputBytes), "B"),
      "exec.shuffle_bytes" ->
        Metric(perOp("exec.collect")(_.shuffleWriteBytes), "B"),
      "exec.busy_frac" -> Metric(
        if (execWallMs > 0) execTaskMs / (execWallMs * ctx.cores) else 0.0,
        "fraction"),
      "transport.encode_ms" -> Metric(p50("transport.encode"), "ms"),
      "transport.decode_ms" -> Metric(p50("transport.decode"), "ms"),
      "transport.result_bytes" -> Metric(
        (0 until roundSize).map(i => resultBytes.getOrElse(i, 0L)).sum.toDouble /
          roundSize, "B"))
  }
}
