package perfbench

import java.nio.file.Path

import graft.sources.Writer

/**
 * `olap_shards`: a closed loop of parquery-style queries over 64 ZSTD
 * shards. One op is `aggregatePqShards` → `Transport` encode → decode,
 * timed from the call to the decoded rows, then checked against
 * [[OlapOracle]].
 */
final class OlapWorkload(ctx: Ctx) extends Workload {
  import OlapQueries._

  val RowsPerShard = 50000
  private var root: Path = _
  private var oracle: OlapOracle = _
  private var storedBytes = 0L

  private def shardPath(s: Int): String = root.resolve(f"shard-$s%03d").toString
  /** Listed in every query, never written (the M1 path). */
  private def missingPath: String = shardPath(Shards)

  /** One shard per `dfToParquet` call, as parquery's publishers write
    * them, with one writer thread per core. */
  def generate(rep: Int): Unit = {
    root = ctx.freshDir(s"olap-$rep")
    ctx.parallel(0 until Shards) { s =>
      val df = Rows.frame(ctx.spark, ctx.seed, s, 0, RowsPerShard,
        withF6 = hasF6(s))
      ctx.trace("writer.write") {
        Writer.dfToParquet(df, shardPath(s), singleFile = true)
      }
    }
    storedBytes = Ctx.parquetBytes(root)
  }

  def prepare(): Unit = {
    oracle = new OlapOracle(new ShardColumns(ctx.seed,
      (0 until Shards).map(s => (s, 0, hasF6(s))), RowsPerShard))
    // one untimed round of every shape (each compiles its own code on
    // first use), drawn from indices the measured ops never use
    (-RoundSize until 0).foreach(w => op(w, check = false))
  }

  private val path = new Parquery(ctx)

  private def op(i: Int, check: Boolean): (Long, Option[String]) = {
    val q = query(ctx.seed, i)
    val t0 = System.nanoTime()
    val got = ctx.trace("op")(
      path.answer(q, q.shards.map(shardPath) :+ missingPath, i))
    val ns = System.nanoTime() - t0
    (ns, if (check) OlapCheck.diff(q, got, oracle.answer(q)) else None)
  }

  /** At least two rounds: single ops of one shape vary by a third from
    * run to run, so one round of ten is too few for a steady median. */
  def run(): Seq[Outcome] =
    Loop.run(ctx, RoundSize, minRounds = 2)(i => op(i, check = true))

  def endToEnd(os: Seq[Outcome]): Map[String, Metric] = {
    val lat = Loop.latenciesMs(os)
    Map(
      "op_p50_ms" -> Metric(Stats.median(lat), "ms"),
      "items_per_s" -> Metric(Loop.rate(os, 1.0), "1/s"),
      "stored_bytes_per_row" ->
        Metric(storedBytes.toDouble / (Shards * RowsPerShard), "B"))
  }

  def perLayer(os: Seq[Outcome]): Map[String, Metric] =
    Layers.writer(ctx, ctx.trace.all, Shards * RowsPerShard, storedBytes) ++
      path.layers(RoundSize) +
      ("trace.overhead_frac" -> Metric(Loop.overhead(os), "fraction"))

  def selfTest(): Seq[String] = OlapSelfTest(ctx.seed, oracle)
}
