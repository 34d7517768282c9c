package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row

import graft.{AggOp, Filter, FilterOp, Measure}

/** One parquery call: `aggregate_pq` over a shard list. */
final case class Query(shards: Seq[Int], dims: Seq[String],
                       measures: Seq[Measure], filters: Seq[Filter],
                       aggregate: Boolean) {
  def measureSpecs: Seq[Seq[String]] =
    measures.map(m => Seq(m.input, m.op.name, m.output))

  /** The engine's result column order. */
  def resultCols: Seq[String] =
    if (aggregate) dims ++ measures.map(_.output)
    else (dims ++ measures.map(_.input)).distinct.sorted
}

/**
 * The `olap_shards` query stream.
 *
 * Queries come in rounds of [[RoundSize]]. Each position of a round has a
 * fixed shape (dims, ops, measure columns, filter columns and operators)
 * and a fixed selectivity, so every run measures the same work whatever
 * its seed; the seed draws the data, the filter values near the middle
 * of each range, the `in`-list members and the shard subset. Across a
 * round every `AggOp`
 * occurs, with 0–3 dims, `in` lists of up to 700 values, `not in`, range
 * and string filters and one raw-row (`aggregate = false`) query. The
 * drift paths parquery promises are all exercised: a listed shard that
 * does not exist (every query, M1), every requested column missing (M2),
 * a dim and a measure no shard has (M3), a filter on a column no shard has
 * (M4), and measure f6, which one shard in eight was written without.
 */
object OlapQueries {
  val RoundSize = 10
  val Shards = 32
  /** Shards written without measure f6. */
  def hasF6(shard: Int): Boolean = shard % 8 != 7
  val MissingDim = "g-missing"
  val MissingMeasure = "m-missing"
  val MissingFilterCol = "x-missing"

  def query(seed: Long, i: Int): Query = {
    val rnd = new Random(seed * 7919L + i)
    def m(in: String, op: AggOp, j: Int) = Measure(in, op, s"m$j")
    // thresholds sit within a step of the middle of each range and list
    // sizes are fixed, so a seed moves values, not the work a query does
    def near(x: Int): Int = x - 1 + rnd.nextInt(3)
    def f1(op: String) = Filter("f1", op, 1.0 + near(25) / 10.0)
    def f4(op: String) = Filter("f4", op, 0.5 + (rnd.nextDouble() - 0.5) / 50)
    def f5(op: String) = Filter("f5", op, near(0).toLong)
    def f6(op: String) = Filter("f6", op, near(0))
    def inF2(n: Int) = Filter("f2", FilterOp.In,
      rnd.shuffle((0L until 1000L).toList).take(n))
    val all = 0 until Shards
    Math.floorMod(i, RoundSize) match {
      case 0 => Query(all, Nil, Seq(m("f4", AggOp.Sum, 0), m("f1", AggOp.Mean, 1)),
        Seq(f1(">")), aggregate = true)
      case 1 => Query(all, Seq("f0"), Seq(m("f5", AggOp.Std, 0),
        m("f4", AggOp.Count, 1), m("f6", AggOp.CountNa, 2)),
        Seq(inF2(700)), aggregate = true)
      case 2 => Query(all, Seq("f3", "a-31"), Seq(m("f2", AggOp.CountDistinct, 0),
        m("f1", AggOp.Min, 1)),
        Seq(Filter("f3", FilterOp.NotIn, rnd.shuffle((1 to 12).toList).take(2)),
          f4("<")), aggregate = true)
      case 3 => Query(rnd.shuffle(all.toList).take(Shards / 4).sorted,
        Seq("f3", "f0", "a-31"), Seq(m("f5", AggOp.One, 0), m("f4", AggOp.Sum, 1)),
        Nil, aggregate = true)
      case 4 => Query(all, Seq("f0"), Seq(m("f4", AggOp.Sum, 0), m("f6", AggOp.Sum, 1)),
        Seq(inF2(2), Filter("a-31", FilterOp.In,
          rnd.shuffle((0 until 60).toList).take(3).map(x => Rows.a31Value(x)))),
        aggregate = false)
      case 5 => Query(all, Seq("f3"), Seq(m("f6", AggOp.SortedCountDistinct, 0),
        m("f5", AggOp.Max, 1), m("f4", AggOp.Mean, 2), m("f1", AggOp.Sum, 3)),
        Seq(Filter("f0", "!=", Rows.f0Name(rnd.nextInt(20))), f6("<=")),
        aggregate = true)
      case 6 => Query(all, Seq("a-31", MissingDim), Seq(m("f1", AggOp.Max, 0),
        m("f6", AggOp.One, 1), Measure(MissingMeasure, AggOp.Sum, "m9")),
        Seq(f5(">=")), aggregate = true)
      case 7 => Query(all, Seq("f3"), Seq(m("f4", AggOp.Mean, 0), m("f5", AggOp.Std, 1)),
        Seq(f1("<"), Filter(MissingFilterCol, ">", 1L)), aggregate = true)
      case 8 => Query(all, Seq("f2", "f3"), Seq(m("f6", AggOp.CountNa, 0),
        m("f5", AggOp.CountDistinct, 1)), Seq(inF2(350)), aggregate = true)
      case _ => Query(all, Seq(MissingDim),
        Seq(Measure(MissingMeasure, AggOp.CountDistinct, "m0")), Nil,
        aggregate = true)
    }
  }
}

/** Per-group accumulator for one measure. Distinct values are kept as
  * `round(10 v)` codes: every column a distinct op reads holds integers
  * or tenths. */
private final class Acc(distinct: Boolean) {
  var n = 0L
  var nulls = 0L
  var sum = 0.0
  var mean = 0.0
  var m2 = 0.0
  var min = Double.PositiveInfinity
  var max = Double.NegativeInfinity
  val seen: mutable.LongMap[Unit] =
    if (distinct) mutable.LongMap.empty[Unit] else null

  def add(v: Double): Unit =
    if (v.isNaN) nulls += 1
    else {
      n += 1
      sum += v
      val d = v - mean
      mean += d / n
      m2 += d * (v - mean)
      if (v < min) min = v
      if (v > max) max = v
      if (seen != null) seen.update(math.round(v * 10), ())
    }

  def result(op: AggOp): Option[Double] = op match {
    case AggOp.Sum => if (n == 0) None else Some(sum)
    case AggOp.Mean => if (n == 0) None else Some(sum / n)
    case AggOp.Std => if (n < 2) None else Some(math.sqrt(m2 / (n - 1)))
    case AggOp.Count => Some(n.toDouble)
    case AggOp.CountNa => Some(nulls.toDouble)
    case AggOp.CountDistinct | AggOp.SortedCountDistinct =>
      Some(seen.size.toDouble)
    case AggOp.Min | AggOp.One => if (n == 0) None else Some(min)
    case AggOp.Max => if (n == 0) None else Some(max)
  }
}

/** A result as plain values: column names and rows. */
final case class Answer(cols: Seq[String], rows: Seq[Seq[Any]])

object Answer {
  def of(cols: Seq[String], rows: Array[Row]): Answer =
    Answer(cols, rows.toSeq.map(_.toSeq))

  /** An oracle answer shaped like a decoded engine result (measures as
    * plain values or null), for feeding the checks in self-tests. */
  def asEngine(a: Answer): Answer = a.copy(rows = a.rows.map(_.map {
    case Some(d: Double) => d
    case None => null
    case v => v
  }))
}

/**
 * Answers [[Query]]s from a [[ShardColumns]] copy of the shards, following
 * the engine's documented semantics: SQL null handling (sum, mean, std,
 * min, max and count skip nulls; `count_na` counts them; an empty global
 * aggregate is one row), `std` is the sample deviation, `one` is the
 * minimum, a dim no shard has reads `-1`, a measure no shard has reads
 * `0.0`, a filter on a column no shard has or a query whose every column
 * is missing gives no rows, and a listed shard that does not exist is
 * skipped.
 */
final class OlapOracle(data: ShardColumns) {
  private val known = (Rows.Dims ++ Rows.Measures).toSet + "gen"
  private val f0Names = Array.tabulate(20)(Rows.f0Name)

  /** Column value at row i as a Double (NaN = null). */
  private def num(c: String): Int => Double = c match {
    case "f1" => i => data.f1(i)
    case "f2" => i => data.f2(i).toDouble
    case "f3" => i => data.f3(i).toDouble
    case "f4" => i => data.f4(i)
    case "f5" => i => data.f5(i).toDouble
    case "f6" => i => if (data.f6(i) == Byte.MinValue) Double.NaN
                      else data.f6(i).toDouble
    case "a-31" => i => Rows.a31Value(data.a31(i)).toDouble
    case "gen" => i => data.genOf(i).toDouble
  }

  /** Column value at row i as the engine types it (null for a null cell). */
  private def value(c: String): Int => Any = c match {
    case "f0" => i => f0Names(data.f0(i))
    case "f1" => i => data.f1(i)
    case "f2" => i => data.f2(i).toLong
    case "f3" => i => data.f3(i).toInt
    case "f4" => i => if (data.f4(i).isNaN) null else data.f4(i)
    case "f5" => i => data.f5(i).toLong
    case "f6" => i => if (data.f6(i) == Byte.MinValue) null else data.f6(i).toInt
    case "a-31" => i => Rows.a31Value(data.a31(i))
    case "gen" => i => data.genOf(i)
  }

  private def cmp(op: FilterOp, c: Int): Boolean = op match {
    case FilterOp.Eq => c == 0
    case FilterOp.Ne => c != 0
    case FilterOp.Gt => c > 0
    case FilterOp.Ge => c >= 0
    case FilterOp.Lt => c < 0
    case FilterOp.Le => c <= 0
    case other => throw new IllegalArgumentException(s"not a comparison: $other")
  }

  private def listed(v: Any): Seq[Any] = v match {
    case s: Seq[_] => s
    case x => Seq(x)
  }

  /** Row predicate; a null cell never passes (SQL semantics). */
  private def predicate(f: Filter): Int => Boolean =
    if (f.column == "f0") {
      // string column: decide once per dictionary entry
      val pass = f0Names.map { name =>
        f.op match {
          case FilterOp.In => listed(f.value).contains(name)
          case FilterOp.NotIn => !listed(f.value).contains(name)
          case op => cmp(op, name.compareTo(f.value.asInstanceOf[String]))
        }
      }
      i => pass(data.f0(i))
    } else {
      val get = num(f.column)
      f.op match {
        case FilterOp.In | FilterOp.NotIn =>
          val members = mutable.LongMap.empty[Unit]
          listed(f.value).foreach(x =>
            members.update(java.lang.Double.doubleToLongBits(
              x.asInstanceOf[Number].doubleValue), ()))
          val in = f.op == FilterOp.In
          i => {
            val v = get(i)
            !v.isNaN &&
              members.contains(java.lang.Double.doubleToLongBits(v)) == in
          }
        case op =>
          val t = f.value.asInstanceOf[Number].doubleValue
          i => {
            val v = get(i)
            !v.isNaN && cmp(op, java.lang.Double.compare(v, t))
          }
      }
    }

  /** Dim as (code at row i, number of codes, code → engine value). */
  private def dim(d: String): (Int => Int, Int, Int => Any) = d match {
    case "f0" => (i => data.f0(i), 20, c => f0Names(c))
    case "f2" => (i => data.f2(i), 1000, c => c.toLong)
    case "f3" => (i => data.f3(i), 13, c => c)
    case "a-31" => (i => data.a31(i), 60, c => Rows.a31Value(c))
    case _ => (_ => 0, 1, _ => -1L)
  }

  /** Expected answer; dims and raw values are plain Scala values, and
    * measures `Option[Double]`. */
  def answer(q: Query): Answer = {
    val cols = q.resultCols
    val requested = (q.dims ++ q.measures.map(_.input)).distinct
    if (!requested.exists(known) || q.filters.exists(f => !known(f.column)))
      return Answer(cols, Nil)
    val preds = q.filters.map(predicate).toArray
    def foreachRow(body: Int => Unit): Unit = q.shards.foreach { s =>
      val r = data.rowsOf(s)
      var i = r.start
      while (i < r.end) {
        var j = 0
        while (j < preds.length && preds(j)(i)) j += 1
        if (j == preds.length) body(i)
        i += 1
      }
    }
    if (!q.aggregate) {
      val getters = cols.map(value)
      val out = Seq.newBuilder[Seq[Any]]
      foreachRow(i => out += getters.map(_(i)))
      return Answer(cols, out.result())
    }
    val dims = q.dims.map(dim).toArray
    val ms = q.measures.map { m =>
      (m, if (known(m.input)) Some(num(m.input)) else None,
        m.op == AggOp.CountDistinct || m.op == AggOp.SortedCountDistinct)
    }.toArray
    val getters = ms.flatMap(_._2)
    val groups = mutable.LongMap.empty[Array[Acc]]
    def accs(k: Long) = groups.getOrElseUpdate(k,
      ms.collect { case (_, Some(_), d) => new Acc(d) })
    if (dims.isEmpty) accs(0L)
    foreachRow { i =>
      var k = 0L
      var d = 0
      while (d < dims.length) { k = k * dims(d)._2 + dims(d)._1(i); d += 1 }
      val a = accs(k)
      var j = 0
      while (j < getters.length) { a(j).add(getters(j)(i)); j += 1 }
    }
    Answer(cols, groups.toSeq.map { case (key, a) =>
      var k = key
      val dimValues = dims.reverseIterator.map { case (_, n, decode) =>
        val c = (k % n).toInt
        k /= n
        decode(c)
      }.toSeq.reverse
      var j = -1
      dimValues ++ ms.map {
        case (_, None, _) => Some(0.0)
        case (m, Some(_), _) => j += 1; a(j).result(m.op)
      }
    })
  }
}

/** Compares a decoded engine result with the oracle's answer. */
object OlapCheck {
  private def norm(v: Any): Any = v match {
    case null => null
    case d: java.lang.Double => d.doubleValue
    case f: java.lang.Float => f.doubleValue
    case n: Number => n.longValue
    case o => o
  }

  private def sameMeasure(op: AggOp, got: Any, want: Option[Double]): Boolean =
    (norm(got), want) match {
      case (null, None) => true
      case (null, Some(_)) | (_, None) => false
      case (g: Long, Some(w)) => g.toDouble == w
      case (g: Double, Some(w)) => op match {
        case AggOp.Std => Close(g, w, 1e-6)
        case AggOp.Sum | AggOp.Mean => Close(g, w, 1e-9)
        case _ => g == w
      }
      case _ => false
    }

  /** `None` when `got` matches, else a description of the first
    * difference. */
  def diff(q: Query, got: Answer, want: Answer): Option[String] = {
    if (got.cols != want.cols)
      return Some(s"columns ${got.cols} != ${want.cols}")
    if (got.rows.size != want.rows.size)
      return Some(s"${got.rows.size} rows != ${want.rows.size}")
    if (!q.aggregate) {
      def key(r: Seq[Any]) = r.map(norm).mkString("|")
      val g = got.rows.map(key).sorted
      val w = want.rows.map(key).sorted
      return g.zip(w).find(p => p._1 != p._2)
        .map(p => s"raw row ${p._1} != ${p._2}")
    }
    val nd = q.dims.size
    val wantBy = want.rows.map(r => r.take(nd).map(norm) -> r.drop(nd)).toMap
    got.rows.iterator.map { r =>
      val k = r.take(nd).map(norm)
      wantBy.get(k) match {
        case None => Some(s"unexpected group $k")
        case Some(w) =>
          q.measures.indices.collectFirst {
            case j if !sameMeasure(q.measures(j).op, r(nd + j),
                w(j).asInstanceOf[Option[Double]]) =>
              s"group $k ${q.measures(j)}: got ${r(nd + j)}, want ${w(j)}"
          }
      }
    }.collectFirst { case Some(d) => d }
  }
}

/** The `olap_shards` checks must catch a deliberately wrong answer. */
object OlapSelfTest {
  /** Names of the checks that missed their wrong answer. */
  def apply(seed: Long, oracle: OlapOracle): Seq[String] = {
    import OlapQueries._
    val all = 0 until Shards
    val agg = Query(all, Seq("f3"), Seq(Measure("f4", AggOp.Sum, "s"),
      Measure("f6", AggOp.Std, "d"), Measure("f5", AggOp.CountDistinct, "c")),
      Seq(Filter("f1", ">", 2.0)), aggregate = true)
    val raw = query(seed, 4)
    val m4 = query(seed, 7)
    val want = oracle.answer(agg)
    def bump(col: Int, f: Double => Double): Answer = want.copy(rows =
      want.rows.updated(0, want.rows.head.updated(col,
        want.rows.head(col).asInstanceOf[Option[Double]].map(f))))
    val rawWant = oracle.answer(raw)
    val cases = Seq(
      "correct answer" -> (agg, Answer.asEngine(want), want, false),
      "sum off by 1e-6 relative" -> (agg, Answer.asEngine(bump(1, _ * (1 + 1e-6))), want, true),
      "std off by 1e-4 relative" -> (agg, Answer.asEngine(bump(2, _ * (1 + 1e-4))), want, true),
      "distinct count off by one" -> (agg, Answer.asEngine(bump(3, _ + 1)), want, true),
      "group missing" -> (agg, Answer.asEngine(want.copy(rows = want.rows.tail)), want, true),
      "raw row changed" -> (raw, Answer.asEngine(rawWant.copy(rows =
        rawWant.rows.updated(0, rawWant.rows.head.updated(0, "v99")))), rawWant, true),
      "M4 answer not empty" -> (m4, Answer.asEngine(oracle.answer(m4.copy(
        filters = m4.filters.filter(_.column != MissingFilterCol)))),
        oracle.answer(m4), true))
    cases.collect {
      case (name, (q, got, w, wrong))
        if OlapCheck.diff(q, got, w).isDefined != wrong => s"olap: $name"
    }
  }
}
