package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.table.{GraftTable, IncrementalSync}

/** Batch ingest sources — the DeltaStreamer source family
  * (reference hudi-utilities/.../sources: {Json,Csv,Parquet}DFSSource with
  * DFSPathSelector, SqlSource, JdbcSource), minus network services
  * (Kafka/schema-registry are out of scope — zero-egress environment;
  * JDBC works against any driver on the classpath).
  *
  * A source returns `(batch, newCheckpoint)` given the last checkpoint;
  * the checkpoint string rides in the destination table's commit metadata
  * (reference CHECKPOINT_KEY, DeltaSync.java:311-355), so ingest is
  * effectively-once: a crash between write and checkpoint is impossible
  * because they are the same atomic commit.
  */
trait IngestSource {
  /** Fetch everything new since `checkpoint` (None ⇒ from the beginning).
    * Returns None when there is nothing new.
    */
  def fetchNext(spark: SparkSession, checkpoint: Option[String])
      : Option[(DataFrame, String)]

  /** Called by [[IngestJob]] AFTER the destination commit publishes, with
    * the checkpoint that just became durable — the reference's
    * `Source.onCommit` (JsonKafkaSource.java:79-84 commits consumer-group
    * offsets here, only once the table owns the data). Default: no-op.
    */
  def onCommit(checkpoint: String): Unit = ()
}

/** File-drop source over a directory tree: selects files whose modification
  * time is strictly newer than the checkpoint, like the reference's
  * DFSPathSelector (reference sources/helpers/DFSPathSelector.java:62-105 —
  * checkpoint = max mod-time of consumed files). Listing happens on the
  * driver (one directory walk); reading is a normal distributed scan of
  * exactly the selected files, so no executor ever re-reads an old file.
  *
  * At scale the walk is O(files in the drop zone) — the operational
  * contract (as in the reference) is that ingested drops are pruned or
  * date-bucketed by the producer; selection itself never opens a file.
  */
final class DfsSource(
    rootPath: String,
    format: String = "parquet",
    schema: Option[StructType] = None,
    options: Map[String, String] = Map.empty) extends IngestSource {

  private val exts: Set[String] = format match {
    case "parquet" => Set(".parquet")
    // Spark's text readers decompress by file extension; corpus drops are
    // commonly gzip/zstd-compressed jsonl, so accept the compressed forms
    case "json" => Set(".json", ".jsonl").flatMap(e =>
      Set(e, s"$e.gz", s"$e.zst", s"$e.bz2"))
    case "csv" => Set(".csv", ".csv.gz", ".csv.zst", ".csv.bz2")
    case other => throw new IllegalArgumentException(s"unsupported format '$other'")
  }

  private def listNewer(ckpt: Long): Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val root = new org.apache.hadoop.fs.Path(rootPath)
    if (!graft.core.Storage.isDirectory(root)) return Seq.empty
    graft.core.Storage.walk(root)
      .filter(_.isFile)
      .filter(st => exts.exists(st.getPath.getName.endsWith(_)))
      .filterNot(st => st.getPath.getName.startsWith(".") ||
        st.getPath.getName.startsWith("_"))
      .map(st => st.getPath -> st.getModificationTime)
      .filter(_._2 > ckpt)
      .sortBy(x => (x._2, x._1.toString))
  }

  override def fetchNext(spark: SparkSession, checkpoint: Option[String])
      : Option[(DataFrame, String)] = {
    val ckpt = checkpoint.map(_.toLong).getOrElse(Long.MinValue)
    val selected = listNewer(ckpt)
    if (selected.isEmpty) return None
    val reader0 = spark.read.options(options)
    val reader = schema.map(reader0.schema).getOrElse(reader0)
    val paths = selected.map(_._1.toString)
    val df = format match {
      case "parquet" => reader.parquet(paths: _*)
      case "json" => reader.json(paths: _*)
      case "csv" => reader.csv(paths: _*)
    }
    Some((df, selected.map(_._2).max.toString))
  }
}

/** JDBC source (reference sources/JdbcSource.java:63-197): full or
  * incremental fetch from a relational table through Spark's JDBC reader.
  * Incremental mode mirrors the reference's ppd-incremental fetch: rows
  * with `incrementalColumn` strictly greater than the stored checkpoint
  * are pulled, and the new checkpoint is the batch's max value of that
  * column (computed distributed, collected as one scalar). The column
  * must be monotonically non-decreasing for late rows to be impossible —
  * the same contract the reference documents.
  *
  * Scale: a JDBC pull is bounded by the database, not Spark; for large
  * backfills pass Spark's partitioned-read options
  * (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions`) through
  * `options` so the scan fans out over executors instead of one
  * connection.
  */
final class JdbcSource(
    url: String,
    table: String,
    incrementalColumn: Option[String] = None,
    options: Map[String, String] = Map.empty) extends IngestSource {

  private def reader(spark: SparkSession, dbtable: String) =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", dbtable).options(options)

  override def fetchNext(spark: SparkSession, checkpoint: Option[String])
      : Option[(DataFrame, String)] = {
    import org.apache.spark.sql.functions.{col, max}
    incrementalColumn match {
      case None =>
        // full refresh each tick (the reference's non-incremental mode);
        // tick-count checkpoint distinguishes "ran" from "new data"
        val tick = checkpoint.map(_.toLong + 1).getOrElse(0L)
        Some((reader(spark, table).load(), tick.toString))
      case Some(ckptCol) =>
        // quote with the target database's own dialect: Spark-written
        // tables have exact-case (quoted) column names, so an unquoted
        // predicate would resolve against the wrong case. Pass the column
        // name exactly as stored in the database.
        val q = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier(ckptCol)
        val pred = checkpoint
          .map(c => s" WHERE $q > ${literal(c)}").getOrElse("")
        // predicate inside the dbtable subquery pushes the checkpoint
        // filter into the database — only new rows cross the wire
        val df = reader(spark,
          s"(SELECT * FROM $table$pred) graft_jdbc_incr").load()
        val maxRow = df.agg(max(col(ckptCol))).first()
        if (maxRow.isNullAt(0)) None // nothing new
        else Some((df, maxRow.get(0).toString))
    }
  }

  /** Render a checkpoint back into a SQL literal: numerics bare, anything
    * else (timestamps, strings) single-quoted with quotes doubled.
    */
  private def literal(c: String): String =
    if (c.matches("-?\\d+(\\.\\d+)?")) c
    else "'" + c.replace("'", "''") + "'"
}

/** SQL source (reference sources/SqlSource.java): a fixed query evaluated
  * each tick — checkpointing is the caller's concern (the reference uses it
  * for backfills where re-reads are acceptable). The "checkpoint" advances
  * by tick count purely so `IngestJob` can tell "ran" from "new data".
  */
final class SqlSource(sql: String) extends IngestSource {
  override def fetchNext(spark: SparkSession, checkpoint: Option[String])
      : Option[(DataFrame, String)] = {
    val tick = checkpoint.map(_.toLong + 1).getOrElse(0L)
    Some((spark.sql(sql), tick.toString))
  }
}

/** Source → transform → upsert ingest driver over any [[IngestSource]] —
  * the generic half of the DeltaStreamer analog (table-to-table incremental
  * ingest lives in [[Streaming.syncOnce]]). The source checkpoint is read
  * from and written to the destination's commit metadata atomically with
  * the data.
  */
object IngestJob {
  val CheckpointKey: String = Streaming.CheckpointKey

  def lastCheckpoint(dst: GraftTable): Option[String] =
    IncrementalSync.marks(dst, CheckpointKey).get(CheckpointKey)

  /** One ingest tick: fetch-new → transform → upsert. Returns the commit
    * ts, or None when the source had nothing new.
    */
  def syncOnce(spark: SparkSession, source: IngestSource, dst: GraftTable,
      transform: DataFrame => DataFrame = identity): Option[String] =
    source.fetchNext(spark, lastCheckpoint(dst)).map { case (batch, ckpt) =>
      val ts = dst.upsert(transform(batch), extraMetadata = Map(CheckpointKey -> ckpt))
      source.onCommit(ckpt) // after the commit is durable, never before
      ts
    }
}
