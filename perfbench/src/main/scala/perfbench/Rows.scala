package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._

/**
 * The shard row formula shared by `olap_shards` and `shard_publish`.
 *
 * Row `r` of a shard has key `base + r`, where `base` mixes the seed, the
 * shard and its generation. Column `c` is a function of
 * `XXH64(key, c)`, so values look random (the files do not compress to
 * nothing) yet any row can be recomputed from its key: the checks
 * rebuild the shards in plain Scala from the same functions.
 *
 * The schema is the reference's 7-column test table plus a hyphenated
 * date-as-int dimension:
 *   f0 string (20 values), f1 double (1.0..5.9), f2 long (0..999),
 *   f3 int (1..12), f4 double in [0,1) with 5% nulls, f5 long (-10..10),
 *   f6 int (-10..10), `a-31` long (60 yyyymmdd values).
 */
object Rows {
  val Dims: Seq[String] = Seq("f0", "f2", "f3", "a-31")
  val Measures: Seq[String] = Seq("f1", "f2", "f4", "f5", "f6")

  def base(seed: Long, shard: Int, gen: Int): Long =
    XXH64.hashLong(seed * 1000003L + shard * 4099L + gen, 7L) & 0x3fffffffffffffL

  @inline def h(key: Long, c: Int): Long = XXH64.hashInt(c, XXH64.hashLong(key, 42L))

  @inline def f0Idx(k: Long): Int = Math.floorMod(h(k, 0), 20L).toInt
  def f0Name(i: Int): String = f"v$i%02d"
  @inline def f1(k: Long): Double = 1.0 + Math.floorMod(h(k, 1), 50L).toDouble / 10.0
  @inline def f2(k: Long): Long = Math.floorMod(h(k, 2), 1000L)
  @inline def f3(k: Long): Int = Math.floorMod(h(k, 3), 12L).toInt + 1
  @inline def f4Null(k: Long): Boolean = Math.floorMod(h(k, 14), 20L) == 0L
  @inline def f4(k: Long): Double =
    Math.floorMod(h(k, 4), 1000003L).toDouble / 1000003.0
  @inline def f5(k: Long): Long = Math.floorMod(h(k, 5), 21L) - 10L
  @inline def f6(k: Long): Int = (Math.floorMod(h(k, 6), 21L) - 10L).toInt
  @inline def a31Idx(k: Long): Int = Math.floorMod(h(k, 7), 60L).toInt
  def a31Value(i: Int): Long = 20250101L + (i / 30) * 100L + (i % 30)

  def schema(withF6: Boolean, genCol: Boolean): StructType = StructType(
    Seq(StructField("f0", StringType, nullable = false),
      StructField("f1", DoubleType, nullable = false),
      StructField("f2", LongType, nullable = false),
      StructField("f3", IntegerType, nullable = false),
      StructField("f4", DoubleType),
      StructField("f5", LongType, nullable = false)) ++
      (if (withF6) Seq(StructField("f6", IntegerType, nullable = false)) else Nil) ++
      Seq(StructField("a-31", LongType, nullable = false)) ++
      (if (genCol) Seq(StructField("gen", LongType, nullable = false)) else Nil))

  /** `rows` rows of one shard generation as a single-partition frame.
    * Without `withF6` the frame lacks measure f6 (a shard written under
    * an older schema); with `genCol` it carries the generation. The rows
    * are built by a plain function over an RDD: no per-shard constant
    * enters a Spark plan, so every shard reuses one compiled plan. */
  def frame(spark: SparkSession, seed: Long, shard: Int, gen: Int,
            rows: Int, withF6: Boolean = true,
            genCol: Boolean = false): DataFrame = {
    val b = base(seed, shard, gen)
    val rdd = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      Iterator.range(0, rows).map { r =>
        val k = b + r
        Row.fromSeq(Seq(f0Name(f0Idx(k)), f1(k), f2(k), f3(k),
          if (f4Null(k)) null else f4(k), f5(k)) ++
          (if (withF6) Seq(f6(k)) else Nil) ++
          Seq(a31Value(a31Idx(k))) ++
          (if (genCol) Seq(gen.toLong) else Nil))
      }
    }
    spark.createDataFrame(rdd, schema(withF6, genCol))
  }
}

/** Plain-Scala copy of a set of shards, column-major, for the checks. */
/** `shards` holds (shard, gen, hasF6) per shard to load. */
final class ShardColumns(seed: Long, shards: Seq[(Int, Int, Boolean)],
                         val rowsPerShard: Int) {
  /** Load position of each shard. */
  val index: Map[Int, Int] = shards.map(_._1).zipWithIndex.toMap
  private val n = shards.size * rowsPerShard
  val f0 = new Array[Byte](n)
  val f1 = new Array[Double](n)
  val f2 = new Array[Int](n)
  val f3 = new Array[Byte](n)
  /** NaN marks a null cell (the generator never makes a NaN). */
  val f4 = new Array[Double](n)
  val f5 = new Array[Byte](n)
  /** `Byte.MinValue` marks a null cell (shard written without f6). */
  val f6 = new Array[Byte](n)
  val a31 = new Array[Byte](n)

  shards.zipWithIndex.foreach { case ((shard, gen, hasF6), si) =>
    val b = Rows.base(seed, shard, gen)
    var r = 0
    while (r < rowsPerShard) {
      val k = b + r
      val i = si * rowsPerShard + r
      f0(i) = Rows.f0Idx(k).toByte
      f1(i) = Rows.f1(k)
      f2(i) = Rows.f2(k).toInt
      f3(i) = Rows.f3(k).toByte
      f4(i) = if (Rows.f4Null(k)) Double.NaN else Rows.f4(k)
      f5(i) = Rows.f5(k).toByte
      f6(i) = if (hasF6) Rows.f6(k).toByte else Byte.MinValue
      a31(i) = Rows.a31Idx(k).toByte
      r += 1
    }
  }

  /** Generation of the shard holding row i (the `gen` column). */
  def genOf(i: Int): Long = shards(i / rowsPerShard)._2.toLong

  /** Row range of a loaded shard. */
  def rowsOf(shard: Int): Range = {
    val si = index(shard)
    si * rowsPerShard until (si + 1) * rowsPerShard
  }
}
