package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Encoders}

import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.sources.Writer

/**
 * `corpus_dedup`: each pass reads the corpus, runs
 * `minhashDuplicates` → `duplicateClusters` → `selectSurvivors` →
 * `gopherSignals` and writes the signals of the survivors with
 * `Writer.dfToParquet`. One op is one pass; the written output is read
 * back and checked with [[DedupCheck]].
 *
 * In a traced pass every stage is materialised before the next starts
 * (the candidate and verified pair sets, the cluster labels, the
 * survivors and the signals), so each gets its own span and counts.
 */
final class DedupWorkload(ctx: Ctx, docs: Int, planted: Int) extends Workload {
  val corpus: Corpus = Corpus(ctx.seed, docs, planted)
  private var input: String = _
  private var expect: DedupExpect = _
  private var outBytes = 0L
  private var outRows = 0L
  private val firstPass = scala.collection.mutable.Map.empty[String, Double]

  def generate(rep: Int): Unit = {
    val c = corpus
    val df = ctx.spark.range(0L, docs.toLong, 1L, ctx.cores * 2)
      .map((id: java.lang.Long) => (id.longValue, c.text(id.intValue)))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .toDF("id", "text")
    input = ctx.freshDir(s"corpus-$rep").toString
    ctx.trace("writer.write")(Writer.dfToParquet(df, input))
  }

  def prepare(): Unit = {
    expect = DedupExpect(corpus)
    // untimed passes over the whole corpus, for as long as the loop
    // measures, warm the code paths: after one pass over a fifth of it the
    // first timed pass ran ~40% slower than the next, after one whole pass
    // still 10-20% slower
    Loop.warmUp(ctx.seconds, roundSize = 1, minRounds = 1)(_ =>
      pass(ctx.spark.read.parquet(input), ctx.freshDir("dedup-warm")))
  }

  private def materialise(name: String, df: DataFrame): DataFrame =
    if (ctx.trace.on) ctx.trace(name) {
      val m = df.localCheckpoint(eager = true)
      firstPass.getOrElseUpdate(name + ".rows", m.count().toDouble)
      m
    } else df

  private def pass(docsDf: DataFrame, out: Path): Unit = {
    val pairs =
      if (!ctx.trace.on) Dedup.minhashDuplicates(docsDf, "id", "text")
      else {
        val cands = materialise("dedup.candidates",
          Dedup.minhashCandidates(docsDf, "id", "text"))
        materialise("dedup.verify",
          Dedup.ngramJaccardPairs(docsDf, cands, "id", "text"))
      }
    val labels = materialise("dedup.clusters", ctx.trace("dedup.clusters.call")(
      Dedup.duplicateClusters(pairs)))
    val survivors = materialise("dedup.survivors",
      Dedup.selectSurvivors(docsDf, labels, "id"))
    val signals = materialise("text.signals",
      TextAnalysis.gopherSignals(survivors, "id", "text"))
    ctx.trace("writer.write")(Writer.dfToParquet(signals, out.toString))
  }

  private var passJobs = 0.0

  private def op(i: Int): (Long, Option[String]) = {
    val out = ctx.freshDir("dedup-out")
    val countJobs = ctx.traced && !ctx.trace.on
    val j0 = if (countJobs) ctx.untracedJobs() else 0L
    val t0 = System.nanoTime()
    ctx.trace("op")(pass(ctx.spark.read.parquet(input), out))
    val ns = System.nanoTime() - t0
    if (countJobs) passJobs = (ctx.untracedJobs() - j0).toDouble
    val back = ctx.spark.read.parquet(out.toString).select("id", "n_words")
      .collect().map(r => r.getLong(0).toInt -> r.getAs[Number](1).intValue).toMap
    outBytes = Ctx.parquetBytes(out)
    outRows = back.size.toLong
    val err = DedupCheck.diff(expect, back)
    // every pass starts from a collected heap, and the host probe after it
    // does not share the cores with the collector
    System.gc()
    (ns, err)
  }

  /** At least three passes, for a steadier median. A pass leaves Spark
    * clean-up running, so the host probe after it takes the fastest of
    * eight samples. */
  def run(): Seq[Outcome] = Loop.run(ctx, roundSize = 1, minRounds = 3, probes = 8)(op)

  def endToEnd(os: Seq[Outcome]): Map[String, Metric] = Map(
    "op_p50_ms" -> Metric(Stats.median(Loop.latenciesMs(os)), "ms"),
    "items_per_s" -> Metric(Loop.rate(os, docs.toDouble), "1/s"),
    "stored_bytes_per_row" -> Metric(outBytes.toDouble / outRows, "B"))

  def perLayer(os: Seq[Outcome]): Map[String, Metric] = {
    val spans = ctx.trace.all
    def p50(name: String) = Stats.median(ctx.trace.selfMs(name, _ == 0L))
    val clusterSpans = spans.filter(s => s.op == 0L &&
      (s.name == "dedup.clusters" || s.name == "dedup.clusters.call"))
    val cand = firstPass("dedup.candidates.rows")
    val verified = firstPass("dedup.verify.rows")
    Layers.writer(ctx, spans.filter(_.op == 0L), outRows, outBytes) ++ Map(
      "dedup.candidates_ms" -> Metric(p50("dedup.candidates"), "ms"),
      "dedup.candidate_pairs" -> Metric(cand, "count"),
      "dedup.verify_ms" -> Metric(p50("dedup.verify"), "ms"),
      "dedup.verified_pairs" -> Metric(verified, "count"),
      "dedup.verify_yield" -> Metric(if (cand > 0) verified / cand else 0.0, "fraction"),
      "dedup.clusters_ms" -> Metric(
        ctx.trace.selfMs("dedup.clusters", _ == 0L).sum +
          ctx.trace.selfMs("dedup.clusters.call", _ == 0L).sum, "ms"),
      "dedup.cluster_jobs" ->
        Metric(ctx.counts.total(clusterSpans)(_.jobs).toDouble, "count"),
      "dedup.survivors_ms" -> Metric(p50("dedup.survivors"), "ms"),
      "dedup.removed_docs" ->
        Metric(docs - firstPass("dedup.survivors.rows"), "count"),
      "text.signals_ms" -> Metric(p50("text.signals"), "ms"),
      "dedup.pass_jobs" -> Metric(passJobs, "count"),
      "trace.overhead_frac" -> Metric(Loop.overhead(os), "fraction"))
  }

  def selfTest(): Seq[String] = DedupCheck.selfTest(expect)
}

/** What a correct pass must and must not remove, from the generator. */
final case class DedupExpect(mustGo: Set[Int], mustStay: Set[Int],
                             words: Map[Int, Int], docs: Int)

object DedupExpect {
  /** Exact copies must go; far edits (Jaccard < 0.7) and every original
    * must stay. Near copies may go either way: the library's MinHash
    * family (`h1 + j * h2`) is correlated across j, so on some seeds a
    * near copy at Jaccard above 0.9 shares no band with its original and
    * is never a candidate; requiring its removal would fail whole passes
    * by seed. */
  def apply(c: Corpus): DedupExpect = {
    val go = Set.newBuilder[Int]
    val stay = Set.newBuilder[Int]
    val words = Map.newBuilder[Int, Int]
    (0 until c.docs).foreach { id =>
      val w = c.words(id)
      words += id -> w.length
      if (id < c.base) stay += id
      else if (c.kind(id) == c.Exact) go += id
      else if (Corpus.jaccard(w, c.words(c.parent(id))) < 0.7) stay += id
    }
    DedupExpect(go.result(), stay.result(), words.result(), c.docs)
  }
}

object DedupCheck {
  /** `None` when the survivors (id → n_words) are right, else the first
    * problem found. */
  def diff(e: DedupExpect, got: Map[Int, Int]): Option[String] = {
    val kept = e.mustGo.find(got.contains)
    val lost = e.mustStay.find(id => !got.contains(id))
    val unknown = got.keys.find(id => id < 0 || id >= e.docs)
    val badWords = got.find { case (id, n) => e.words.get(id).exists(_ != n) }
    kept.map(id => s"planted copy $id survived")
      .orElse(lost.map(id => s"document $id was removed"))
      .orElse(unknown.map(id => s"unknown id $id in the output"))
      .orElse(badWords.map { case (id, n) =>
        s"document $id: n_words $n, generated ${e.words(id)}" })
  }

  /** Each wrong answer must be reported; the right one must pass. */
  def selfTest(e: DedupExpect): Seq[String] = {
    val right = e.words.filter { case (id, _) => !e.mustGo(id) }
    val someOriginal = e.mustStay.min
    val wrong = Seq(
      "wrongly removed document" -> (right - someOriginal),
      "surviving exact copy" -> (right + (e.mustGo.min -> e.words(e.mustGo.min))),
      "wrong n_words" -> right.updated(someOriginal, right(someOriginal) + 1))
    (if (diff(e, right).isDefined) Seq("dedup: correct answer rejected") else Nil) ++
      wrong.collect { case (n, ans) if diff(e, ans).isEmpty => s"dedup: $n" }
  }
}
