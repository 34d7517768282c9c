package perfbench

import scala.util.Random

import graft.{AggOp, Filter, Measure}
import graft.sources.Writer

/**
 * `shard_publish`: each step republishes one of 4 shards with a new
 * generation of rows (`Writer.dfToParquet`, overwrite), then runs the
 * single-shard `aggregatePq` on it through `Transport`. One op is the
 * whole step; the answer must match the generation just published.
 */
final class PublishWorkload(ctx: Ctx) extends Workload {
  val Shards = 4
  val RowsPerShard = 50000
  val RoundSize = 4
  private var root: java.nio.file.Path = _
  private val gens = Array.fill(Shards)(0)
  private val path = new Parquery(ctx)
  private val bytesPerRow = Seq.newBuilder[Double]

  private def shardPath(s: Int): String = root.resolve(f"shard-$s%03d").toString

  private def publish(shard: Int, gen: Int): Long = {
    val df = Rows.frame(ctx.spark, ctx.seed, shard, gen, RowsPerShard,
      genCol = true)
    val t0 = System.nanoTime()
    ctx.trace("writer.write")(
      Writer.dfToParquet(df, shardPath(shard), singleFile = true))
    val ns = System.nanoTime() - t0
    gens(shard) = gen
    ns
  }

  def generate(rep: Int): Unit = {
    root = ctx.freshDir(s"publish-$rep")
    (0 until Shards).foreach(s => publish(s, 0))
  }

  /** Untimed rounds, for half as long as the loop measures, warm the
    * write and query paths. */
  def prepare(): Unit = Loop.warmUp(ctx.seconds / 2.0, RoundSize, minRounds = 2)(op)

  /** The query of step i: per-f3 generation bounds plus a few measures. */
  def query(shard: Int, i: Int): Query = {
    val rnd = new Random(ctx.seed * 6151L + i)
    Query(Seq(shard), Seq("f3"),
      Seq(Measure("gen", AggOp.Min, "gen_min"), Measure("gen", AggOp.Max, "gen_max"),
        Measure("f5", AggOp.Sum, "f5_sum"), Measure("f4", AggOp.Mean, "f4_mean"),
        Measure("f1", AggOp.Count, "n")),
      Seq(Filter("f2", "<", 699L + rnd.nextInt(3))), aggregate = true)
  }

  def shardOf(i: Int): Int = new Random(ctx.seed * 4241L + i).nextInt(Shards)

  private def op(i: Int): (Long, Option[String]) = {
    val shard = shardOf(i)
    val gen = gens(shard) + 1
    val q = query(shard, i)
    val wNs = publish(shard, gen)
    val t0 = System.nanoTime()
    val got = ctx.trace("op")(path.answer(q, Seq(shardPath(shard)), i))
    val ns = wNs + System.nanoTime() - t0
    bytesPerRow += Ctx.parquetBytes(java.nio.file.Paths.get(shardPath(shard)))
      .toDouble / RowsPerShard
    (ns, OlapCheck.diff(q, got, PublishCheck.want(ctx.seed, q, gen, RowsPerShard)))
  }

  /** At least three rounds (12 steps), for a steady median. */
  def run(): Seq[Outcome] = Loop.run(ctx, RoundSize, minRounds = 3)(op)

  def endToEnd(os: Seq[Outcome]): Map[String, Metric] = Map(
    "op_p50_ms" -> Metric(Stats.median(Loop.latenciesMs(os)), "ms"),
    "items_per_s" -> Metric(Loop.rate(os, 1.0), "1/s"),
    "stored_bytes_per_row" -> Metric(Stats.median(bytesPerRow.result()), "B"))

  def perLayer(os: Seq[Outcome]): Map[String, Metric] =
    Layers.writer(ctx, ctx.trace.all.filter(_.op >= 0), RowsPerShard,
      (Stats.median(bytesPerRow.result()) * RowsPerShard).toLong) ++
      path.layers(RoundSize) +
      ("trace.overhead_frac" -> Metric(Loop.overhead(os), "fraction"))

  def selfTest(): Seq[String] = PublishCheck.selfTest(ctx.seed, this)
}

object PublishCheck {
  /** The answer generation `gen` of the queried shard must give. */
  def want(seed: Long, q: Query, gen: Int, rows: Int): Answer =
    new OlapOracle(new ShardColumns(seed, Seq((q.shards.head, gen, true)), rows))
      .answer(q)

  /** A stale generation's answer and a perturbed sum must both fail. */
  def selfTest(seed: Long, w: PublishWorkload): Seq[String] = {
    val q = w.query(3, 0)
    val right = want(seed, q, 5, w.RowsPerShard)
    val stale = want(seed, q, 4, w.RowsPerShard)
    val perturbed = right.copy(rows = right.rows.updated(0,
      right.rows.head.updated(3, right.rows.head(3) match {
        case Some(d: Double) => Some(d + 1.0)
        case other => other
      })))
    (if (OlapCheck.diff(q, Answer.asEngine(right), right).isDefined)
       Seq("publish: correct answer rejected") else Nil) ++
      (if (OlapCheck.diff(q, Answer.asEngine(stale), right).isEmpty)
         Seq("publish: stale generation accepted") else Nil) ++
      (if (OlapCheck.diff(q, Answer.asEngine(perturbed), right).isEmpty)
         Seq("publish: perturbed sum accepted") else Nil)
  }
}
