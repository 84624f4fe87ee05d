package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.core._
import graft.table.{GraftTable, IncrementalSync}
import graft.read.Readers

/** Structured-Streaming integration.
  *
  * Sink: micro-batch upsert with the batch id recorded in commit metadata —
  * replayed batches after a crash are skipped, giving effectively-once
  * writes (the reference stores the same thing as CHECKPOINT_KEY in commit
  * metadata — HoodieStreamingSink.scala:41-119, DeltaSync.java:311-355).
  *
  * Source: commit-timestamp offsets over the incremental read — each poll
  * returns the records changed since the last consumed instant
  * (reference HoodieStreamSource.scala:104-169 uses the same offset model).
  */
object Streaming {
  val BatchIdKey = "graft.streaming.batchId"

  /** Attach a table-upsert sink to a streaming frame:
    * {{{
    * Streaming.upsertSink(df.writeStream.trigger(...), table, checkpointDir).start()
    * }}}
    */
  def upsertSink(w: DataStreamWriter[Row], t: GraftTable, checkpointLocation: String,
      retries: Int = 2): DataStreamWriter[Row] =
    w.option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(t, batch, batchId, retries)
      }

  /** Idempotent micro-batch write (skips batch ids at or below the last
    * committed one; retries transient failures like the reference's
    * STREAMING_RETRY_CNT).
    */
  def writeBatch(t: GraftTable, batch: DataFrame, batchId: Long, retries: Int = 2): Unit = {
    if (lastCommittedBatchId(t).exists(_ >= batchId)) return // replay after restart
    var attempt = 0
    var done = false
    while (!done) {
      try {
        // batch id rides in the commit itself — atomic with the data
        // publish, so a crash can never leave a committed batch unstamped
        t.upsert(batch, extraMetadata = Map(BatchIdKey -> batchId.toString))
        done = true
      } catch {
        case e: Throwable if attempt < retries => attempt += 1
        case e: Throwable => throw e
      }
    }
  }

  /** Change-feed twin of [[writeBatch]]: apply a micro-batch of CDC rows
    * (`_change_type` per [[graft.read.Readers.incrementalChanges]]) as one
    * cdc_apply commit — inserts/update_after upsert, deletes tombstone,
    * update_before images drop. `readChangeFeed` source + this sink =
    * table replication that is DELETE-correct (plain incremental
    * replication can only ever upsert — removed rows would survive in the
    * replica forever).
    */
  def writeChangeBatch(t: GraftTable, batch: DataFrame, batchId: Long,
      retries: Int = 2): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    if (lastCommittedBatchId(t).exists(_ >= batchId)) return
    val ct = graft.read.Readers.ChangeTypeCol
    require(batch.columns.contains(ct),
      s"cdc_apply sink needs a change feed (missing $ct — read with readChangeFeed=true)")
    val ops = batch.filter(col(ct) =!= "update_before")
      .withColumn("_graft_op",
        when(col(ct) === "delete", lit("D")).otherwise(lit("U")))
      .drop(ct)
    var attempt = 0
    var done = false
    while (!done) {
      try {
        t.applyCdc(ops, opCol = "_graft_op",
          extraMetadata = Map(BatchIdKey -> batchId.toString))
        done = true
      } catch {
        case _: Throwable if attempt < retries =>
          attempt += 1
          // an attempt can fail AFTER its commit published (post-commit
          // services); re-applying would stamp a duplicate commit with the
          // same batchId, so re-check durability before retrying
          if (lastCommittedBatchId(t).exists(_ >= batchId)) done = true
        case e: Throwable => throw e
      }
    }
  }

  def lastCommittedBatchId(t: GraftTable): Option[Long] =
    IncrementalSync.marks(t, BatchIdKey).get(BatchIdKey).map(_.toLong)

  /** A poll-based incremental source: returns (changed records, new offset)
    * for everything committed after `offset` (exclusive). Feed the offset
    * back on the next poll. `None` offset ⇒ from the beginning.
    */
  def pollIncremental(t: GraftTable, offset: Option[String]): (DataFrame, Option[String]) = {
    val latest = t.timeline.lastCompleted().map(_.ts)
    val begin = offset.getOrElse("0")
    latest match {
      case Some(end) if end > begin => (Readers.incremental(t, begin, Some(end)), Some(end))
      case _ =>
        val empty = t.spark.createDataFrame(
          t.spark.sparkContext.emptyRDD[Row],
          t.latestSchema.getOrElse(org.apache.spark.sql.types.StructType(Nil)))
        (empty, offset.orElse(latest))
    }
  }

  /** Continuous table-to-table pipeline: incremental-pull from `src`,
    * transform, upsert into `dst` — the DeltaStreamer analog
    * (reference HoodieDeltaStreamer / DeltaSync.syncOnce), with the source
    * checkpoint persisted in the destination's commit metadata.
    */
  val CheckpointKey = "graft.ingest.checkpoint"

  /** SqlQueryBasedTransformer analog (reference
    * transform/SqlQueryBasedTransformer.java:37-64): an arbitrary SQL
    * template over the incoming batch, `<SRC>` standing for the batch.
    */
  def sqlTransformer(sql: String): DataFrame => DataFrame = { df =>
    val view = s"graft_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(view)
    df.sparkSession.sql(sql.replace("<SRC>", view))
  }

  /** SqlFileBasedTransformer analog (reference
    * transform/SqlFileBasedTransformer.java): the SQL template lives in a
    * file — deploy-time configurable pipelines without code changes.
    */
  def sqlFileTransformer(path: String): DataFrame => DataFrame =
    sqlTransformer(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  /** Chain transformers left-to-right (reference ChainedTransformer). */
  def chain(ts: (DataFrame => DataFrame)*): DataFrame => DataFrame =
    ts.foldLeft(identity[DataFrame] _)(_ andThen _)

  /** FlatteningTransformer analog (reference
    * transform/FlatteningTransformer.java: nested record → flat columns
    * named `parent_child` via a recursive SQL projection): every struct
    * column expands recursively into its leaves; non-struct columns pass
    * through. Pure projection — codegen'd, no shuffle, no UDF.
    */
  def flatten(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    def leaves(c: Column, name: String,
        dt: org.apache.spark.sql.types.DataType): Seq[Column] = dt match {
      case st: StructType =>
        st.fields.toSeq.flatMap(f => leaves(c.getField(f.name), s"${name}_${f.name}", f.dataType))
      case _ => Seq(c.as(name))
    }
    df.select(df.schema.fields.toSeq.flatMap(f =>
      leaves(col(f.name), f.name, f.dataType)): _*)
  }

  def flattenTransformer: DataFrame => DataFrame = flatten

  /** Multi-table ingest tick (reference HoodieMultiTableDeltaStreamer):
    * one syncOnce per (source, destination, transform) triple; returns the
    * commits produced this round.
    */
  def syncAll(pipelines: Seq[(GraftTable, GraftTable, DataFrame => DataFrame)])
      : Seq[Option[String]] =
    pipelines.map { case (s, d, tr) => syncOnce(s, d, tr) }

  def syncOnce(src: GraftTable, dst: GraftTable,
      transform: DataFrame => DataFrame = identity): Option[String] = {
    val lastCkpt = IngestJob.lastCheckpoint(dst)
    val (batch, newOffset) = pollIncremental(src, lastCkpt)
    newOffset match {
      case Some(off) if !lastCkpt.contains(off) =>
        // checkpoint rides in the destination commit (reference stores
        // CHECKPOINT_KEY in commit metadata the same way)
        Some(dst.upsert(transform(batch), extraMetadata = Map(CheckpointKey -> off)))
      case _ => None
    }
  }

  /** Continuous ingest — the `--continuous` mode of the reference's
    * DeltaStreamer (HoodieDeltaStreamer.java, `SparkAsyncCompactService`):
    * a driver loop runs syncOnce on a poll interval, while a second driver
    * thread compacts a MOR destination asynchronously so ingest latency
    * never pays for compaction (the table lock serializes the actual
    * commits). `start()` returns immediately; `stop()` drains both loops.
    */
  final class ContinuousIngest(
      src: GraftTable,
      dst: GraftTable,
      transform: DataFrame => DataFrame = identity,
      pollIntervalMs: Long = 200L,
      asyncCompact: Boolean = true,
      asyncCluster: Boolean = false,
      clusterEveryCommits: Int = 4,
      // async cleaner (reference AsyncCleanerService): reclaim past-horizon
      // file versions off the ingest path, every `cleanEveryCommits` data
      // commits since the last clean
      asyncClean: Boolean = false,
      cleanEveryCommits: Int = 6) {
    import scala.jdk.CollectionConverters._
    @volatile private var stopped = false
    @volatile private var error: Option[Throwable] = None
    private val produced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val compacted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val clustered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val cleaned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private var threads: Seq[Thread] = Seq.empty

    def commits: Seq[String] = produced.iterator().asScala.toSeq
    def compactions: Seq[String] = compacted.iterator().asScala.toSeq
    def clusterings: Seq[String] = clustered.iterator().asScala.toSeq
    def cleans: Seq[String] = cleaned.iterator().asScala.toSeq
    def failure: Option[Throwable] = error

    def start(): ContinuousIngest = {
      val ingest = new Thread(() => {
        while (!stopped && error.isEmpty) {
          try syncOnce(src, dst, transform).foreach(produced.add)
          catch { case e: Throwable => error = Some(e) }
          Thread.sleep(pollIntervalMs)
        }
      }, "graft-continuous-ingest")
      val comp = new Thread(() => {
        val trigger = dst.cfg.propLong(
          ConfigKeys.CompactDeltaCommits, ConfigKeys.DefaultCompactDeltaCommits)
        while (!stopped && error.isEmpty) {
          try {
            val completed = dst.timeline.completedInstants()
            val lastCompaction = completed.filter(_.action == Action.Compaction).lastOption
            val deltas = completed.filter(_.action == Action.DeltaCommit)
              .count(i => lastCompaction.forall(c => i.ts > c.ts))
            if (deltas >= trigger)
              graft.table.Services.compact(dst).foreach(compacted.add)
          } catch { case e: Throwable => error = Some(e) }
          Thread.sleep(pollIntervalMs * 2)
        }
      }, "graft-async-compact")
      // async clustering (reference SparkAsyncClusteringService /
      // HoodieClusteringJob): coalesce the destination's small file groups
      // every `clusterEveryCommits` data commits, off the ingest path —
      // the table lock serializes the replacecommit against ingest commits
      val clus = new Thread(() => {
        while (!stopped && error.isEmpty) {
          try graft.table.Services.clusterIfDue(dst, clusterEveryCommits)
            .foreach(clustered.add)
          catch { case e: Throwable => error = Some(e) }
          Thread.sleep(pollIntervalMs * 2)
        }
      }, "graft-async-cluster")
      // async clean (reference AsyncCleanerService): the clean commit
      // takes the same table lock, so it serializes against ingest without
      // blocking the poll loop between triggers
      val clean = new Thread(() => {
        while (!stopped && error.isEmpty) {
          try {
            val completed = dst.timeline.completedInstants()
            val lastClean = completed.filter(_.action == Action.Clean)
              .lastOption.map(_.ts).getOrElse("")
            val dataSince = completed.count(i =>
              Action.DataActions.contains(i.action) && i.ts > lastClean)
            if (dataSince >= cleanEveryCommits)
              graft.table.Services.clean(dst,
                dst.cfg.propLong(ConfigKeys.CleanerCommitsRetained,
                  ConfigKeys.DefaultCleanerRetained.toLong).toInt)
                .foreach(cleaned.add)
          } catch { case e: Throwable => error = Some(e) }
          Thread.sleep(pollIntervalMs * 2)
        }
      }, "graft-async-clean")
      threads = Seq(ingest) ++
        (if (asyncCompact && dst.cfg.isMor) Seq(comp) else Seq.empty) ++
        (if (asyncCluster) Seq(clus) else Seq.empty) ++
        (if (asyncClean) Seq(clean) else Seq.empty)
      threads.foreach { t => t.setDaemon(true); t.start() }
      this
    }

    def stop(): Unit = {
      stopped = true
      threads.foreach(_.join(30000))
      failure.foreach(e => throw e)
    }
  }
}
