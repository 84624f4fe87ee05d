package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.core.{CommitMetadata, TableConfig, TableType}
import graft.pipeline.{Dedup, DedupService}
import graft.read.Readers
import graft.sql.CatalogSync
import graft.table.{GraftTable, Services}

/** A closed-loop, single-client workload against tables that live through
  * many commits. Inputs are generated from the seed and written to parquet
  * in [[generate]]; the calls in [[warmUp]] and [[round]] read only those.
  */
trait Workload {
  def name: String
  /** Sizes and op mix, for the run record. */
  def sizes: Seq[(String, Any)]
  def generate(): Unit
  /** Create the tables under `root` and load the initial data. Set-up calls
    * this several times on fresh roots and keeps the last.
    */
  def load(root: Path): Unit
  def warmUp(): Unit
  /** Number of measured rounds. */
  def rounds: Int
  /** Measured round `i`, for `i` in `0 until rounds`. */
  def round(i: Int): Unit
  /** Compare the final tables with a from-scratch computation of the same
    * inputs; `tamper` drops one expected row, so the check must fail.
    */
  def check(tamper: Boolean): Unit
  /** Bytes of the files in the latest views of the workload's tables. */
  def liveBytes: Long
}

object Workload {
  val Names: Seq[String] = Seq("cow_trickle", "mor_analytics", "dedup_sync")

  /** Measured rounds for a run of `seconds`: the workload's nominal round
    * time on a 4-core host sets the count, so every run of a workload
    * measures the same rounds at the same point of its table's life and
    * of JIT warm-up, however fast the host is.
    */
  def roundsFor(seconds: Int, nominalRoundS: Double, tiny: Boolean): Int =
    if (tiny) 2 else math.max(2, math.round(seconds / nominalRoundS).toInt)

  def apply(name: String, ctx: Ctx, work: Path, seed: Long, seconds: Int): Workload =
    name match {
      case "cow_trickle" => new CowTrickle(ctx, work, seed, seconds)
      case "mor_analytics" => new MorAnalytics(ctx, work, seed, seconds)
      case "dedup_sync" => new DedupSync(ctx, work, seed, seconds)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }

  /** Order-independent digest of a frame: row count and the sum of row hashes. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def compare(ctx: Ctx, what: String, expected: DataFrame, actual: DataFrame): Unit = {
    val (ne, he) = digest(expected)
    val (na, ha) = digest(actual)
    if (ne != na || he != ha)
      ctx.mismatch(s"$what: expected $ne rows (hash $he), table has $na rows (hash $ha)")
  }

  def liveBytesOf(t: GraftTable): Long =
    t.view.fileSlices(None).iterator.flatMap(_.allFiles).map(_.sizeBytes).sum

  def parquetBytes(dir: String): Long = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }
}

/** Shared by the two trip workloads: the write, service and read calls on
  * one trip table, with the counts each traced call records.
  */
abstract class TripWorkload(ctx: Ctx, work: Path, seed: Long, mor: Boolean)
    extends Workload {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val inputs = work.resolve("inputs").toString
  private val gen = new TripGen(seed)
  private val batches = ArrayBuffer.empty[Batch]
  private var path: String = _
  private var t: GraftTable = _
  private val Db = "lcb"

  protected def rows0: Int
  /** 10-key lookups per round. */
  protected def lookups: Int
  /** Batch ids 1..n with their kind, rows, target months and shares. */
  protected def plan: Seq[(Int, String, Int, Seq[Int], Double, Double)]

  private val applied = ArrayBuffer(0)
  /** Live row count as of each data instant, for the time-travel check. */
  private val liveAt = mutable.Map.empty[String, Long]
  private var live = 0L
  private var prevReadTs = ""

  def generate(): Unit = {
    val init = gen.initial(rows0)
    live = gen.liveCount
    val specs = plan.map { case (id, kind, n, months, ins, del) =>
      val (b, spec) = gen.batch(id, kind, n, months, ins, del, lookups = 10 * lookups)
      batches += b
      spec
    }
    Inputs.writeTrips(spark, inputs, seed, init +: specs)
  }

  /** Table properties on top of the trip table's key, partition and precombine. */
  protected def props: Map[String, String]
  /** Commits a clean retains. */
  protected def retained: Int

  protected def config: TableConfig = TableConfig(name,
    if (mor) TableType.MergeOnRead else TableType.CopyOnWrite,
    Seq("_row_key"), "month", "timestamp", props)

  def load(root: Path): Unit = {
    path = root.resolve(name).toString
    t = GraftTable.create(spark, path, config)
    t.bulkInsert(spark.read.schema(Trips.schema).parquet(Inputs.path(inputs, 0)))
    val ts = latestTs
    liveAt(ts) = live
    prevReadTs = ts
  }

  private def latestTs: String = t.timeline.completedDataInstants().last.ts

  def liveBytes: Long = Workload.liveBytesOf(t)

  protected def batch(i: Int): Batch = batches(i)

  /** One write call (load + upsert or delete, or a SQL MERGE), then the
    * storage and timeline counts it leaves behind.
    */
  protected def commit(b: Batch): Unit = {
    val dir = Inputs.path(inputs, b.id)
    val spanName = b.kind match {
      case Kind.Upsert => "table.upsert"
      case Kind.Delete => "table.delete"
      case Kind.Merge => "sql.merge"
    }
    val done = b.kind match {
      case Kind.Upsert =>
        val df = spark.read.schema(Trips.schema).parquet(dir)
        ctx.op("commit", b.rows) {
          t = tracer.span("core.load")(GraftTable.load(spark, path))
          tracer.span(spanName)(t.upsert(df))
        }
      case Kind.Delete =>
        val df = spark.read.schema(Trips.keySchema).parquet(dir)
        ctx.op("commit", b.rows) {
          t = tracer.span("core.load")(GraftTable.load(spark, path))
          tracer.span(spanName)(t.delete(df))
        }
      case Kind.Merge =>
        spark.read.schema(Trips.opSchema).parquet(dir).createOrReplaceTempView("lcb_src")
        ctx.op("commit", b.rows) {
          tracer.span(spanName)(spark.sql(MergeSql))
        }
    }
    if (done.isDefined) {
      applied += b.id
      live = b.liveAfter
      val ts = latestTs
      liveAt(ts) = live
      if (ctx.timed) ctx.inputBytes += Workload.parquetBytes(dir)
      val (bytes, files, _) = ctx.relist()
      if (ctx.traced) {
        val md = CommitMetadata.fromJson(t.timeline.readContent(
          t.timeline.completedDataInstants().last))
        ctx.attr(spanName, "disk_bytes_written" -> bytes.toDouble, "disk_files_written" -> files.toDouble,
          "groups_touched" -> md.writeStats.map(s => (s.partitionPath, s.fileId)).distinct.size.toDouble,
          "active_instants" -> t.timeline.completedInstants().size.toDouble)
      }
    }
  }

  private lazy val MergeSql: String = {
    val cols = Trips.columns
    s"""MERGE INTO $Db.$name t USING lcb_src s
       |ON t._row_key = s._row_key AND t.month = s.month
       |WHEN MATCHED AND s.op = 'D' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${cols.map(c => s"$c = s.$c").mkString(", ")}
       |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (${cols.mkString(", ")})
       |  VALUES (${cols.map("s." + _).mkString(", ")})""".stripMargin
  }

  /** Publish the table to the session catalog, as an ingest job does after each commit. */
  protected def catalogSync(): Unit = {
    ctx.op("sync") {
      tracer.span("sql.catalog_sync")(CatalogSync.sync(spark, path, Db, name))
    }
    ctx.relist()
  }

  protected def clean(): Unit = {
    ctx.op("clean") {
      tracer.span("table.clean")(Services.clean(t, retained))
    }.flatten.foreach(ts => liveAt(ts) = live)
    val (_, _, deleted) = ctx.relist()
    ctx.attr("table.clean", "disk_files_deleted" -> deleted.toDouble)
  }

  protected def compact(): Unit = {
    ctx.op("compact") {
      tracer.span("table.compact")(Services.compact(t))
    }.flatten.foreach(ts => liveAt(ts) = live)
    val (bytes, _, _) = ctx.relist()
    ctx.attr("table.compact", "disk_bytes_written" -> bytes.toDouble)
  }

  /** [[lookups]] 10-key lookups of keys live after the batch. */
  protected def lookup(b: Batch): Unit = b.lookupKeys.grouped(10).foreach { keys =>
    ctx.op("lookup") {
      tracer.span("table.lookup")(t.lookup(keys).select("_row_key").collect())
    }.foreach { rows =>
      val got = rows.map(_.getString(0)).toSet
      if (got != keys.toSet)
        ctx.mismatch(s"lookup after batch ${b.id}: ${got.size} of ${keys.size} keys found")
      ctx.attr("table.lookup", "hits" -> got.size.toDouble)
    }
  }

  private def agg(df: DataFrame): Array[Row] =
    df.agg(count(lit(1)), sum("fare"), max("timestamp")).collect()

  /** The analytic read set: full snapshot, read-optimized, one pruned
    * partition, an incremental pull since the previous read set, and a
    * snapshot three commits back.
    */
  protected def readSet(b: Batch, i: Int): Unit = {
    ctx.op("snapshot") {
      if (ctx.traced) {
        val slices = tracer.span("core.view_fold")(t.view.fileSlices(None))
        ctx.attr("core.view_fold", "file_slices" -> slices.size.toDouble,
          "pending_delta_files" -> slices.map(_.deltaFiles.size).sum.toDouble)
      }
      val df = tracer.span("read.snapshot_plan")(Readers.snapshot(t))
      tracer.span("read.snapshot_exec")(agg(df))
    }.foreach { r =>
      if (r(0).getLong(0) != live)
        ctx.mismatch(s"snapshot after batch ${b.id}: ${r(0).getLong(0)} rows, expected $live")
    }
    ctx.op("ro") {
      val df = Readers.readOptimized(t)
      tracer.span("read.ro_exec")(agg(df))
    }
    val month = Trips.Months(i % Trips.Months.size)
    ctx.op("pruned") {
      tracer.span("read.pruned")(Readers.snapshot(t, partitions = Some(Seq(month))).count())
    }.foreach { n =>
      val want = b.monthLiveAfter(month)
      if (n != want) ctx.mismatch(s"pruned read of $month after batch ${b.id}: $n rows, expected $want")
    }
    if (ctx.traced)
      ctx.attr("read.pruned", "files_scanned" ->
        Readers.snapshot(t, partitions = Some(Seq(month))).inputFiles.length.toDouble)
    val begin = prevReadTs
    ctx.op("incr") {
      val df = tracer.span("read.incr_plan")(Readers.incremental(t, begin))
      tracer.span("read.incr_exec")(df.agg(count(lit(1)), sum("fare")).collect())
    }
    val instants = t.timeline.completedDataInstants()
    val back = instants(math.max(0, instants.size - 4)).ts
    ctx.op("timetravel") {
      tracer.span("read.timetravel")(agg(Readers.timeTravel(t, back)))
    }.foreach { r =>
      liveAt.get(back).filter(_ != r(0).getLong(0)).foreach { want =>
        ctx.mismatch(s"time travel to $back: ${r(0).getLong(0)} rows, expected $want")
      }
    }
    prevReadTs = instants.last.ts
  }

  def check(tamper: Boolean): Unit = {
    val all = spark.read.schema(Trips.opSchema.add("b", IntegerType)).parquet(inputs)
      .filter(col("b").isin(applied.toSeq: _*))
    val folded = all
      .groupBy("_row_key")
      .agg(max_by(struct(Trips.opSchema.fieldNames.toIndexedSeq.map(col): _*),
        col("timestamp")).as("w"))
      .select("w.*")
      .filter(col("op") =!= "D")
      .select(Trips.columns.map(col): _*)
    val lastKey = batches.filter(b => applied.contains(b.id)).lastOption
      .map(_.lookupKeys.head)
    val expected =
      if (tamper) folded.filter(col("_row_key") =!= lastKey.getOrElse(""))
      else folded
    Workload.compare(ctx, s"$name final snapshot", expected,
      Readers.snapshot(GraftTable.load(spark, path)).select(Trips.columns.map(col): _*))
  }
}

/** COW trickle: a stream of ~2k-row commits into the two newest of 24
  * monthly partitions (80% updates, 20% inserts); every 4th commit deletes
  * ~500 keys and every 5th is a SQL MERGE. Each commit is followed by a
  * catalog sync, a clean and three 10-key lookups. The per-commit floor
  * dominates here.
  */
final class CowTrickle(ctx: Ctx, work: Path, seed: Long, seconds: Int)
    extends TripWorkload(ctx, work, seed, mor = false) {
  val name = "cow_trickle"
  private val tiny = ctx.tiny
  protected val rows0: Int = if (tiny) 4800 else 24000
  private val batchRows = if (tiny) 100 else 2000
  private val deleteRows = if (tiny) 25 else 500
  private val hot = Seq(Trips.Months.size - 2, Trips.Months.size - 1)
  /** The timeline thresholds shrink with the run (defaults: clean keeps 10
    * commits, archive trims 30 instants to 20), so clean and archive both
    * cycle within the measured rounds.
    */
  protected val retained = 4
  protected val props: Map[String, String] =
    Map("graft.archive.min.commits" -> "6", "graft.archive.max.commits" -> "10")
  protected val lookups = 3
  /** Warm-up rounds: the JIT speeds the calls up steeply over the first
    * rounds, so timing starts once the curve has flattened.
    */
  private val warmRounds = if (tiny) 3 else 7
  private val extraWarmCalls = if (tiny) 1 else 10
  val rounds: Int = Workload.roundsFor(seconds, 1.6, tiny)
  private val nBatches = warmRounds + rounds

  /** The first three batches run each kind once; after that every 5th
    * commit is a MERGE and every 4th a delete. A MERGE takes two to three
    * times as long as a plain upsert, and the upsert right after a MERGE
    * about one and a half times as long. The schedule's phase is set so
    * that the eight commits of a 13-second run are four plain upserts, two
    * deletes, one MERGE and one upsert after a MERGE: the median then falls
    * among the fast commits rather than in the gap between the fast and the
    * slow ones, whatever the number of warm-up rounds.
    */
  private def kindOf(id: Int): String = {
    val k = id + 6 - warmRounds
    if (id <= 3) Seq(Kind.Upsert, Kind.Delete, Kind.Merge)(id - 1)
    else if (k % 5 == 0) Kind.Merge
    else if (k % 4 == 0) Kind.Delete
    else Kind.Upsert
  }

  protected def plan: Seq[(Int, String, Int, Seq[Int], Double, Double)] =
    (1 to nBatches).map { id =>
      kindOf(id) match {
        case Kind.Delete => (id, Kind.Delete, deleteRows, hot, 0.0, 0.0)
        case Kind.Merge => (id, Kind.Merge, batchRows, hot, 0.1, 0.1)
        case k => (id, k, batchRows, hot, 0.2, 0.0)
      }
    }

  def sizes: Seq[(String, Any)] = Seq("initial_rows" -> rows0, "partitions" -> Trips.Months.size,
    "batch_rows" -> batchRows, "delete_rows" -> deleteRows, "warmup_rounds" -> warmRounds,
    "batches" -> nBatches,
    "table" -> "COPY_ON_WRITE", "index" -> "SIMPLE")

  private def cycle(i: Int): Unit = {
    val b = batch(i)
    commit(b)
    catalogSync()
    clean()
    lookup(b)
  }

  /** The warm-up rounds, then more catalog syncs and lookups, the
    * shortest calls, so that they too are timed warm.
    */
  def warmUp(): Unit = {
    (0 until warmRounds).foreach(cycle)
    val last = batch(warmRounds - 1)
    (1 to extraWarmCalls).foreach { _ =>
      catalogSync()
      lookup(last)
    }
  }

  def round(i: Int): Unit = cycle(i + warmRounds)
}

/** MOR analytics: rounds of one upsert touching ~5% of the rows spread over
  * every file group, each followed by a catalog sync and the full read set
  * plus a lookup; compaction (then clean) every 5 delta commits, with
  * inline compaction off. Reads dominate and swing with pending deltas.
  */
final class MorAnalytics(ctx: Ctx, work: Path, seed: Long, seconds: Int)
    extends TripWorkload(ctx, work, seed, mor = true) {
  val name = "mor_analytics"
  private val tiny = ctx.tiny
  protected val rows0: Int = if (tiny) 4800 else 24000
  private val batchRows = rows0 / 20
  private val compactEvery = 5
  protected val lookups = 1
  /** Timeline thresholds scaled down as in [[CowTrickle]]. */
  protected val retained = 4
  protected val props: Map[String, String] = Map("graft.compact.inline" -> "false",
    "graft.archive.min.commits" -> "6", "graft.archive.max.commits" -> "10")
  val rounds: Int = Workload.roundsFor(seconds, 6.0, tiny)
  private val nBatches = 2 + rounds

  protected def plan: Seq[(Int, String, Int, Seq[Int], Double, Double)] =
    (1 to nBatches).map(id => (id, Kind.Upsert, batchRows, Trips.Months.indices, 0.1, 0.0))

  def sizes: Seq[(String, Any)] = Seq("initial_rows" -> rows0, "partitions" -> Trips.Months.size,
    "batch_rows" -> batchRows, "batches" -> nBatches, "compact_every" -> compactEvery,
    "table" -> "MERGE_ON_READ", "index" -> "SIMPLE")

  private var deltas = 0

  private def cycle(i: Int): Unit = {
    val b = batch(i)
    commit(b)
    catalogSync()
    deltas += 1
    if (deltas == compactEvery) {
      compact()
      clean()
      deltas = 0
    }
    readSet(b, i)
    lookup(b)
  }

  def warmUp(): Unit = (0 until 2).foreach(cycle)

  def round(i: Int): Unit = cycle(i + 2)
}

/** LLM-data incremental dedup: ticks of 300-500 seeded documents (~15%
  * planted near-duplicates, some across ticks) are inserted into a source
  * table; one DedupService.sync per tick maintains a near-dup-free clean
  * table through the persisted band and signature index. The clean table
  * then gets eight 10-key lookups and one read set.
  */
final class DedupSync(ctx: Ctx, work: Path, seed: Long, seconds: Int) extends Workload {
  val name = "dedup_sync"
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val tiny = ctx.tiny
  private val inputs = work.resolve("inputs").toString
  private val gen = new DocGen(seed)
  private val docs0 = if (tiny) 200 else 600
  private val tickDocs = if (tiny) 40 else 400
  private val dupShare = 0.15
  /** 10-key lookups of the clean table per tick. */
  private val lookups = 8
  val rounds: Int = Workload.roundsFor(seconds, 8.5, tiny)
  private val Langs = Seq("en", "de", "fr", "es")

  def sizes: Seq[(String, Any)] = Seq("initial_docs" -> docs0, "tick_docs" -> tickDocs,
    "near_dup_share" -> dupShare, "ticks" -> rounds, "lookups_per_tick" -> lookups,
    "tables" -> "source, clean (by lang), index bands (64 parts), index sigs (32 parts)")

  /** (tick id, docs, highest doc id so far, ids of each lookup);
    * tick 0 is the initial corpus.
    */
  private val ticks = ArrayBuffer.empty[(Int, Int, Long, Seq[Seq[Long]])]
  private var srcPath, cleanPath, indexPath: String = _
  private val applied = ArrayBuffer(0)
  /** What each tick's reads saw, verified against the expected set in [[check]]. */
  private val seen = ArrayBuffer.empty[(Long, String, Long)]
  private val looked = ArrayBuffer.empty[(Long, Seq[Long], Set[Long])]
  /** The incremental read pulls everything the first time. */
  private var prevCleanTs = "0"

  def generate(): Unit = {
    val ts = (0 to rounds).map { id =>
      val rows = gen.tick(if (id == 0) docs0 else tickDocs, dupShare)
      ticks += ((id, rows.size, gen.maxId, Seq.fill(lookups)(gen.pickIds(10))))
      id -> rows
    }
    Inputs.write(spark, inputs, Docs.schema, ts)
  }

  private def docs(b: Int): DataFrame = spark.read.schema(Docs.schema).parquet(Inputs.path(inputs, b))

  def load(root: Path): Unit = {
    srcPath = root.resolve("source").toString
    cleanPath = root.resolve("clean").toString
    indexPath = root.resolve("index").toString
    // the same insert call the ticks make, in two halves so that set-up
    // also warms an insert into a non-empty table, as every tick makes
    val src = GraftTable.create(spark, srcPath,
      TableConfig("source", TableType.CopyOnWrite, Seq("doc_id"), "", ""))
    src.insert(docs(0).filter(col("doc_id") <= docs0 / 2))
    GraftTable.load(spark, srcPath).insert(docs(0).filter(col("doc_id") > docs0 / 2))
    GraftTable.create(spark, cleanPath,
      TableConfig("clean", TableType.CopyOnWrite, Seq("doc_id"), "lang", ""))
  }

  private def tables: Seq[GraftTable] =
    Seq(srcPath, cleanPath, s"$indexPath/bands", s"$indexPath/sigs")
      .filter(p => graft.core.TableConfig.exists(new org.apache.hadoop.fs.Path(p)))
      .map(GraftTable.load(spark, _))

  def liveBytes: Long = tables.map(Workload.liveBytesOf).sum

  private def insert(id: Int, n: Int): Unit = {
    val df = docs(id)
    val done = ctx.op("commit", n) {
      val src = tracer.span("core.load")(GraftTable.load(spark, srcPath))
      tracer.span("table.insert")(src.insert(df))
    }
    if (done.isDefined) {
      applied += id
      if (ctx.timed) ctx.inputBytes += Workload.parquetBytes(Inputs.path(inputs, id))
      val (bytes, files, _) = ctx.relist()
      if (ctx.traced) {
        val src = GraftTable.load(spark, srcPath)
        val md = CommitMetadata.fromJson(src.timeline.readContent(
          src.timeline.completedDataInstants().last))
        ctx.attr("table.insert", "disk_bytes_written" -> bytes.toDouble,
          "disk_files_written" -> files.toDouble,
          "groups_touched" -> md.writeStats.map(s => (s.partitionPath, s.fileId)).distinct.size.toDouble,
          "active_instants" -> src.timeline.completedInstants().size.toDouble)
      }
    }
  }

  private def instantsByTable: Seq[Set[String]] =
    tables.map(_.timeline.completedInstants().map(_.ts).toSet)

  private def sync(): Unit = {
    val before = if (ctx.traced) instantsByTable else Nil
    ctx.op("sync") {
      val (src, cln) = tracer.span("core.load")(
        (GraftTable.load(spark, srcPath), GraftTable.load(spark, cleanPath)))
      val idx = tracer.span("pipeline.open_index")(DedupService.openIndex(spark, indexPath))
      tracer.span("pipeline.sync")(DedupService.sync(src, cln, idx))
    }
    val (bytes, _, _) = ctx.relist()
    if (ctx.traced) {
      val after = instantsByTable
      val newInstants = after.zipAll(before, Set.empty[String], Set.empty[String]).map {
        case (a, b) => (a -- b).count(ts => b.isEmpty || ts > b.max)
      }.sum
      ctx.attr("pipeline.sync", "commits" -> newInstants.toDouble, "disk_bytes_written" -> bytes.toDouble)
    }
  }

  /** Reads of the clean table after a tick: [[lookups]] 10-key lookups,
    * then one read set — snapshot, read-optimized, one pruned partition,
    * an incremental pull since the previous tick, time travel 3 commits back.
    */
  private def reads(i: Int): Unit = {
    val (_, _, maxId, lookupIds) = ticks(i)
    val cln = GraftTable.load(spark, cleanPath)
    lookupIds.foreach { ids =>
      ctx.op("lookup") {
        tracer.span("table.lookup")(cln.lookup(ids.map(_.toString)).select("doc_id").collect())
      }.foreach { rows =>
        val got = rows.map(_.getLong(0)).toSet
        looked += ((maxId, ids, got))
        ctx.attr("table.lookup", "hits" -> got.size.toDouble)
      }
    }
    def agg(df: DataFrame) = df.agg(count(lit(1)), sum("n_chars")).collect()
    ctx.op("snapshot") {
      if (ctx.traced) {
        val slices = tracer.span("core.view_fold")(cln.view.fileSlices(None))
        ctx.attr("core.view_fold", "file_slices" -> slices.size.toDouble,
          "pending_delta_files" -> slices.map(_.deltaFiles.size).sum.toDouble)
      }
      val df = tracer.span("read.snapshot_plan")(Readers.snapshot(cln))
      tracer.span("read.snapshot_exec")(agg(df))
    }.foreach(r => seen += ((maxId, "", r(0).getLong(0))))
    ctx.op("ro") {
      val df = Readers.readOptimized(cln)
      tracer.span("read.ro_exec")(agg(df))
    }
    val lang = Langs(i % Langs.size)
    ctx.op("pruned") {
      tracer.span("read.pruned")(Readers.snapshot(cln, partitions = Some(Seq(lang))).count())
    }.foreach(n => seen += ((maxId, lang, n)))
    if (ctx.traced)
      ctx.attr("read.pruned", "files_scanned" ->
        Readers.snapshot(cln, partitions = Some(Seq(lang))).inputFiles.length.toDouble)
    val instants = cln.timeline.completedDataInstants()
    val begin = prevCleanTs
    ctx.op("incr") {
      val df = tracer.span("read.incr_plan")(Readers.incremental(cln, begin))
      tracer.span("read.incr_exec")(df.agg(count(lit(1)), sum("n_chars")).collect())
    }
    val back = instants(math.max(0, instants.size - 4)).ts
    ctx.op("timetravel") {
      tracer.span("read.timetravel")(agg(Readers.timeTravel(cln, back)))
    }
    prevCleanTs = instants.last.ts
  }

  private def tick(i: Int): Unit = {
    val (id, n, _, _) = ticks(i)
    insert(id, n)
    sync()
    reads(i)
  }

  /** The first sync dedups the whole initial corpus; the reads follow. */
  def warmUp(): Unit = {
    sync()
    reads(0)
  }

  def round(i: Int): Unit = tick(i + 1)

  def check(tamper: Boolean): Unit = {
    val all = spark.read.schema(Docs.schema.add("b", IntegerType)).parquet(inputs)
      .filter(col("b").isin(applied.toSeq: _*)).select(Docs.columns.map(col): _*)
    val cln = GraftTable.load(spark, cleanPath)
    val idx = DedupService.openIndex(spark, indexPath)
    val kept = Dedup.minhashDedup(all, threshold = idx.threshold, numHashes = idx.numHashes,
      bands = idx.numBands, shingleN = idx.shingleN)
      .select(Docs.columns.map(col): _*).cache()
    try {
      val keptIds = kept.select("doc_id", "lang").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected =
        if (tamper) kept.filter(col("doc_id") =!= keptIds.keys.min) else kept
      Workload.compare(ctx, s"$name clean table", expected,
        Readers.snapshot(cln).select(Docs.columns.map(col): _*))
      // reads during the run: the clean table holds exactly the kept docs
      // up to the tick's highest id (later docs never un-keep earlier ones)
      seen.foreach { case (maxId, lang, n) =>
        val want = keptIds.count { case (id, l) => id <= maxId && (lang.isEmpty || l == lang) }
        if (n != want) ctx.mismatch(s"clean read up to doc $maxId ${if (lang.isEmpty) "" else s"lang=$lang "}" +
          s"saw $n rows, expected $want")
      }
      looked.foreach { case (maxId, ids, got) =>
        val want = ids.filter(id => id <= maxId && keptIds.contains(id)).toSet
        if (got != want) ctx.mismatch(s"clean lookup up to doc $maxId: got ${got.size} docs, expected ${want.size}")
      }
    } finally kept.unpersist()
  }
}
