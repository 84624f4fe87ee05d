package graftbench

import java.util.{SplittableRandom, UUID}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The trip schema of the reference's test-data generator in its flattened
  * variant (uuid `_row_key`, `timestamp` precombine, rider/driver, fare
  * amount and currency), plus a `month` partition column.
  */
object Trips {
  val Months: IndexedSeq[String] =
    for (y <- 2023 to 2024; m <- 1 to 12) yield f"$y%04d-$m%02d"

  val schema: StructType = StructType(Seq(
    StructField("_row_key", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("rider", StringType),
    StructField("driver", StringType),
    StructField("begin_lat", DoubleType),
    StructField("begin_lon", DoubleType),
    StructField("end_lat", DoubleType),
    StructField("end_lon", DoubleType),
    StructField("fare", DoubleType),
    StructField("currency", StringType),
    StructField("month", StringType, nullable = false)))

  /** `op`: U update, I insert, D delete — what the generator meant the row to do. */
  val opSchema: StructType = schema.add("op", StringType, nullable = false)

  val keySchema: StructType =
    StructType(Seq(schema("_row_key"), schema("month")))

  val columns: Seq[String] = schema.fieldNames.toSeq

  val Currencies: Array[String] = Array("USD", "EUR", "GBP", "JPY")
}

/** Batch kinds of the trip workloads. */
object Kind {
  val Upsert = "upsert"
  val Delete = "delete"
  val Merge = "merge"
}

/** One materialized input batch and the live state it leaves behind. */
final case class Batch(id: Int, kind: String, rows: Int, liveAfter: Long,
    monthLiveAfter: Map[String, Long], lookupKeys: Seq[String])

/** Seeded generator of trip batches over a model of the live key set. The
  * model is advanced at generation time, so every batch, the keys each
  * round looks up and the live counts each read must see are fixed before
  * the first timed call.
  */
final class TripGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val live = Array.fill(Trips.Months.size)(ArrayBuffer.empty[String])
  private val pos = mutable.HashMap.empty[String, Int]
  private val monthOf = mutable.HashMap.empty[String, Int]

  def liveCount: Long = live.iterator.map(_.size.toLong).sum
  def liveIn(m: Int): Long = live(m).size.toLong

  private def newKey(): String = new UUID(rnd.nextLong(), rnd.nextLong()).toString

  private def add(k: String, m: Int): Unit = {
    pos(k) = live(m).size; monthOf(k) = m; live(m) += k
  }

  private def remove(k: String): Unit = {
    val m = monthOf.remove(k).get
    val i = pos.remove(k).get
    val buf = live(m)
    val lastKey = buf.last
    buf(i) = lastKey
    if (lastKey != k) pos(lastKey) = i
    buf.remove(buf.size - 1)
  }

  /** `n` distinct live keys from `months`, drawn in proportion to their size. */
  private def pickLive(n: Int, months: Seq[Int]): Seq[(String, Int)] = {
    val sizes = months.map(live(_).size).toArray
    val total = sizes.sum
    require(total >= n, s"only $total live keys in months $months, need $n")
    val chosen = mutable.LinkedHashSet.empty[(Int, Int)]
    while (chosen.size < n) {
      var r = rnd.nextInt(total)
      var j = 0
      while (r >= sizes(j)) { r -= sizes(j); j += 1 }
      chosen += ((months(j), r))
    }
    chosen.toSeq.map { case (m, i) => (live(m)(i), m) }
  }

  private def monthAt(months: Seq[Int]): Int = months(rnd.nextInt(months.size))

  /** Initial load (batch 0): `n` new keys spread evenly over all months. */
  def initial(n: Int): RowsSpec = spec(0, (0 until n).map { i =>
    val m = i % Trips.Months.size
    val k = newKey()
    add(k, m)
    (k, m, 'I')
  })

  private def spec(b: Int, rows: Seq[(String, Int, Char)]): RowsSpec =
    RowsSpec(b, rows.map(_._1).toArray, rows.map(_._2.toByte).toArray, rows.map(_._3).mkString)

  /** Batch `id`: updates of live keys and inserts of new keys in `months`
    * (deletes too for merges), or deletes of live keys.
    */
  def batch(id: Int, kind: String, n: Int, months: Seq[Int],
      insertShare: Double, deleteShare: Double, lookups: Int): (Batch, RowsSpec) = {
    val rows: Seq[(String, Int, Char)] = kind match {
      case Kind.Delete =>
        pickLive(n, months).map { case (k, m) => remove(k); (k, m, 'D') }
      case _ =>
        val nIns = math.round(n * insertShare).toInt
        val nDel = math.round(n * deleteShare).toInt
        val (dels, upds) = pickLive(n - nIns, months).splitAt(nDel)
        val d = dels.map { case (k, m) => remove(k); (k, m, 'D') }
        val u = upds.map { case (k, m) => (k, m, 'U') }
        val ins = (0 until nIns).map { _ =>
          val k = newKey(); val m = monthAt(months); add(k, m); (k, m, 'I')
        }
        u ++ ins ++ d
    }
    val lookupKeys = pickLive(lookups, Trips.Months.indices).map(_._1)
    val monthLive = Trips.Months.indices.map(m => Trips.Months(m) -> liveIn(m)).toMap
    (Batch(id, kind, rows.size, liveCount, monthLive, lookupKeys), spec(id, rows))
  }
}

/** Keys, months and ops of one trip batch; the payload columns are filled
  * in from the seed where the rows are written, in parallel.
  */
final case class RowsSpec(b: Int, keys: Array[String], months: Array[Byte], ops: String) {
  /** Row `i` gets timestamp `b * 1e9 + i`: timestamps grow with the batch
    * id, so the highest precombine value is also the latest write.
    */
  def rows(seed: Long): Iterator[Row] = {
    val rnd = new SplittableRandom(seed * 1000003L + b)
    val tsBase = b.toLong * 1000000000L
    keys.indices.iterator.map { i =>
      Row(keys(i), tsBase + i,
        "rider-" + rnd.nextInt(1000), "driver-" + rnd.nextInt(1000),
        rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(),
        math.rint(rnd.nextDouble() * 10000) / 100,
        Trips.Currencies(rnd.nextInt(Trips.Currencies.length)),
        Trips.Months(months(i).toInt), ops(i).toString, b)
    }
  }
}

/** Seeded documents (~300 characters of vocabulary words) with planted
  * near-duplicates: a share of each tick copies an earlier document (of
  * an earlier tick or the same one) and replaces one or two words.
  */
final class DocGen(seed: Long) {
  private val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val vocab: IndexedSeq[String] = (0 until 4000).map { _ =>
    val len = 3 + rnd.nextInt(7)
    (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }
  private val texts = ArrayBuffer.empty[String]
  private var nextId = 1L

  private val Langs = Array("en", "de", "fr", "es")
  private val Sources = Array("web", "books", "code", "forum")

  private def fresh(): String = {
    val b = new StringBuilder
    while (b.length < 300) {
      if (b.nonEmpty) b += ' '
      b ++= vocab(rnd.nextInt(vocab.size))
    }
    b.toString
  }

  private def nearCopy(t: String): String = {
    val words = t.split(' ')
    (0 until 1 + rnd.nextInt(2)).foreach(_ => words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size)))
    words.mkString(" ")
  }

  /** `n` documents with ids above every earlier one. */
  def tick(n: Int, dupShare: Double): Seq[Row] = {
    val start = texts.size
    (0 until n).map { _ =>
      val text =
        if (texts.nonEmpty && rnd.nextDouble() < dupShare) {
          // half from this tick, half from anything earlier: cross-tick
          // copies are what probe the persisted band index
          val lo = if (rnd.nextBoolean() && texts.size > start) start else 0
          nearCopy(texts(lo + rnd.nextInt(texts.size - lo)))
        } else fresh()
      texts += text
      val id = nextId
      nextId += 1
      Row(id, text, Langs(rnd.nextInt(Langs.length)),
        Sources(rnd.nextInt(Sources.length)), text.length.toLong)
    }
  }

  def maxId: Long = nextId - 1

  def pickIds(n: Int): Seq[Long] = Seq.fill(n)(1L + rnd.nextLong(maxId))
}

object Docs {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val columns: Seq[String] = schema.fieldNames.toSeq
}

object Inputs {
  /** Write `batches` as one parquet dataset partitioned by batch id `b`, in
    * one job; batch `i` is then read back from `<dir>/b=i`.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
      batches: Seq[(Int, Seq[Row])]): Unit = {
    val rows = batches.flatMap { case (b, rs) => rs.map(r => Row.fromSeq(r.toSeq :+ b)) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema.add("b", IntegerType))
      .repartition(math.max(1, spark.sparkContext.defaultParallelism),
        org.apache.spark.sql.functions.col("b"))
      .write.partitionBy("b").parquet(dir)
  }

  /** Trip batches: each task expands its specs into rows and writes them. */
  def writeTrips(spark: SparkSession, dir: String, seed: Long, specs: Seq[RowsSpec]): Unit = {
    val sc = spark.sparkContext
    spark.createDataFrame(
        sc.parallelize(specs, math.max(1, math.min(specs.size, sc.defaultParallelism)))
          .flatMap(_.rows(seed)),
        Trips.opSchema.add("b", IntegerType))
      .write.partitionBy("b").parquet(dir)
  }

  def path(dir: String, b: Int): String = s"$dir/b=$b"
}
