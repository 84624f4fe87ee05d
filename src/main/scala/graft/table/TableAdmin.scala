package graft.table

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.core._
import graft.core.Storage.PathOps

/** Admin / inspection surface — the programmatic analog of the reference's
  * CLI commands (reference hudi-cli/.../commands: CommitsCommand,
  * StatsCommand, FileSystemViewCommand, TimelineCommand, CompactionCommand).
  * Every view is a small DataFrame derived from commit metadata, so admin
  * queries never list or scan data files.
  *
  * A view that SQL returns declares its columns here, once (`...Columns`):
  * the view builds its frame with that schema, and `CALL` (through
  * [[AdminCommands]]) declares it as the statement's output.
  */
object TableAdmin {

  private def columns(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, d) => StructField(n, d) })

  private def frame(t: GraftTable, cols: StructType)(rows: Seq[Row]): DataFrame =
    t.spark.createDataFrame(rows.asJava, cols)

  val CommitColumns: StructType = columns("instant" -> StringType,
    "action" -> StringType, "operation" -> StringType, "num_files" -> LongType,
    "total_records" -> LongType, "total_deletes" -> LongType,
    "total_bytes" -> LongType, "replaced_groups" -> LongType,
    "duration_ms" -> LongType)

  /** One row per completed data commit: `commits show` analog. */
  def commits(t: GraftTable): DataFrame = frame(t, CommitColumns)(
    t.timeline.completedDataInstants().map { i =>
      val md = CommitMetadata.fromJson(t.timeline.readContent(i))
      Row(i.ts, i.action, md.operationType,
        md.writeStats.size.toLong,
        md.writeStats.map(_.numWrites).sum,
        md.writeStats.map(_.numDeletes).sum,
        md.writeStats.map(_.fileSizeInBytes).sum,
        md.replacedFileIds.values.map(_.size).sum.toLong,
        md.extraMetadata.get(GraftTable.DurationMsKey).map(_.toLong).getOrElse(-1L))
    })

  /** Per-file write stats of ONE commit: `commit showfiles` analog
    * (reference CommitsCommand.java showCommitFiles).
    */
  def commitFiles(t: GraftTable, ts: String): DataFrame = {
    import t.spark.implicits._
    val i = t.timeline.completedDataInstants().find(_.ts == ts)
      .getOrElse(throw new IllegalArgumentException(s"no completed commit $ts"))
    CommitMetadata.fromJson(t.timeline.readContent(i)).writeStats.map { w =>
      (w.partitionPath, w.fileId, w.path, w.numWrites, w.numDeletes,
        w.fileSizeInBytes, w.isDelta)
    }.toDF("partition", "file_id", "path", "num_writes", "num_deletes",
      "bytes", "is_delta")
  }

  /** Per-partition rollup of ONE commit: `commit showpartitions` analog. */
  def commitPartitions(t: GraftTable, ts: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, sum}
    commitFiles(t, ts).groupBy(col("partition")).agg(
      count(col("file_id")).as("num_files"),
      sum(col("num_writes")).as("total_records"),
      sum(col("num_deletes")).as("total_deletes"),
      sum(col("bytes")).as("total_bytes"))
  }

  /** Timeline diff against another table: `commits compare` analog
    * (reference CommitsCommand.java compareCommits) — which completed data
    * instants each side has that the other lacks.
    */
  def compareCommits(t: GraftTable, other: GraftTable): DataFrame = {
    import t.spark.implicits._
    val mine = t.timeline.completedDataInstants().map(_.ts).toSet
    val theirs = other.timeline.completedDataInstants().map(_.ts).toSet
    ((mine -- theirs).toSeq.sorted.map((_, "only_here")) ++
      (theirs -- mine).toSeq.sorted.map((_, "only_other")))
      .toDF("instant", "side")
  }

  /** MOR delta ("log") files of live slices: `show logfile metadata`
    * analog (reference HoodieLogFileCommand.java) — our log format is
    * mini-parquet delta files, so metadata comes from the FS view + commit
    * stats rather than log-block headers.
    */
  def logFiles(t: GraftTable): DataFrame = {
    import t.spark.implicits._
    t.view.fileSlices(None).flatMap { s =>
      s.deltaFiles.map(d => (s.partitionPath, s.fileId, d.instant, d.relPath,
        d.sizeBytes, d.numRecords))
    }.toDF("partition", "file_id", "instant", "path", "bytes", "records")
  }

  /** Every instant on the active timeline, any state: `timeline` analog. */
  def timeline(t: GraftTable): DataFrame = {
    import t.spark.implicits._
    t.timeline.listInstants().map(i => (i.ts, i.action, i.state))
      .toDF("instant", "action", "state")
  }

  val FileGroupColumns: StructType = columns("partition" -> StringType,
    "file_id" -> StringType, "base_instant" -> StringType,
    "base_bytes" -> LongType, "base_records" -> LongType,
    "num_deltas" -> LongType, "delta_bytes" -> LongType)

  /** Live file groups with slice composition: `show fsview all` analog. */
  def fileGroups(t: GraftTable): DataFrame = frame(t, FileGroupColumns)(
    t.view.fileSlices(None).map { s =>
      Row(s.partitionPath, s.fileId,
        s.baseFile.map(_.instant).getOrElse(""),
        s.baseFile.map(_.sizeBytes).getOrElse(0L),
        s.baseFile.map(_.numRecords).getOrElse(0L),
        s.deltaFiles.size.toLong, s.totalDeltaBytes)
    })

  val PartitionColumns: StructType = columns("partition" -> StringType,
    "num_file_groups" -> LongType, "total_bytes" -> LongType,
    "base_records" -> LongType)

  /** Per-partition rollup: `stats` analog. */
  def partitionStats(t: GraftTable): DataFrame = frame(t, PartitionColumns)(
    t.view.fileSlices(None)
      .groupBy(_.partitionPath)
      .map { case (p, ss) =>
        Row(p, ss.size.toLong,
          ss.flatMap(_.baseFile).map(_.sizeBytes).sum + ss.map(_.totalDeltaBytes).sum,
          ss.flatMap(_.baseFile).map(_.numRecords).sum)
      }.toSeq)

  /** Archived commits (reference ArchivedCommitsCommand): instants moved
    * off the active timeline, read back from the archive log.
    */
  def archivedCommits(t: GraftTable): DataFrame = {
    import t.spark.implicits._
    t.timeline.archivedInstants().map { case (i, content) =>
      val op = if (Action.DataActions.contains(i.action))
        CommitMetadata.fromJson(content).operationType else ""
      (i.ts, i.action, op)
    }.toDF("instant", "action", "operation")
  }

  val CleanColumns: StructType = columns("instant" -> StringType,
    "earliest_retained" -> StringType, "files_deleted" -> LongType)

  /** Clean history (reference CleansCommand): one row per clean run. */
  def cleans(t: GraftTable): DataFrame = frame(t, CleanColumns)(
    t.timeline.completedInstants().filter(_.action == Action.Clean).map { i =>
      val md = Json.read[CleanMetadata](t.timeline.readContent(i))
      Row(i.ts, md.earliestRetainedInstant, md.deletedPaths.size.toLong)
    })

  val RollbackColumns: StructType = columns("instant" -> StringType,
    "action" -> StringType, "rolled_back" -> StringType,
    "files_deleted" -> LongType)

  /** Rollback history (reference RollbacksCommand). */
  def rollbacks(t: GraftTable): DataFrame = frame(t, RollbackColumns)(
    t.timeline.completedInstants()
      .filter(i => i.action == Action.Rollback || i.action == Action.Restore)
      .map { i =>
        val md = Json.read[RollbackMetadata](t.timeline.readContent(i))
        Row(i.ts, i.action, md.rolledBackInstants.mkString(","), md.deletedPaths.size.toLong)
      })

  val SavepointColumns: StructType = columns("instant" -> StringType,
    "savepointed_instant" -> StringType)

  /** Savepoints (reference SavepointsCommand). */
  def savepoints(t: GraftTable): DataFrame = frame(t, SavepointColumns)(
    t.timeline.completedInstants().filter(_.action == Action.Savepoint).map { i =>
      Row(i.ts, Json.read[SavepointMetadata](t.timeline.readContent(i)).savepointedInstant)
    })

  val PendingCompactionColumns: StructType = columns("instant" -> StringType,
    "state" -> StringType, "file_groups" -> LongType)

  /** Pending compaction plans with their file-group counts (reference
    * CompactionCommand `compactions show all`, pending part).
    */
  def pendingCompactions(t: GraftTable): DataFrame = frame(t, PendingCompactionColumns)(
    t.timeline.pendingInstants().filter(_.action == Action.Compaction).map { i =>
      val plan = Json.read[CompactionPlan](
        t.timeline.readRequestedContent(i.ts, Action.Compaction))
      Row(i.ts, i.state, plan.operations.size.toLong)
    })

  val PropertyColumns: StructType = columns("key" -> StringType, "value" -> StringType)

  /** Table identity and layout config under their property keys, then
    * every other table property, sorted by key.
    */
  def properties(t: GraftTable): DataFrame = frame(t, PropertyColumns) {
    val c = t.cfg
    Seq(
      Row("graft.table.name", c.tableName),
      Row("graft.table.type", c.tableType),
      Row("graft.table.recordkey.fields", c.recordKeyFields.mkString(",")),
      Row("graft.table.partition.expr", c.partitionPathExpr),
      Row("graft.table.precombine.field", c.precombineField)) ++
      c.props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
  }

  val MetricColumns: StructType = columns("name" -> StringType, "value" -> LongType)

  /** Metrics snapshot as a DataFrame (reference `metrics` via JMX/console
    * reporters; here also queryable). Values come from [[Metrics.refresh]],
    * i.e. a durable fold of commit metadata — identical after a driver
    * restart.
    */
  def metrics(t: GraftTable): DataFrame = frame(t, MetricColumns)(
    Metrics.refresh(t).snapshot.map { case (n, v) => Row(n, v) })

  /** Per-file column statistics of the LIVE file set — the data-skipping
    * index made queryable (the reference's metadata-table column_stats
    * partition, surfaced as an admin view): one row per (file, column)
    * with the recorded min/max/null-count. A skipped predicate can be
    * debugged by eyeballing exactly what the pruner sees.
    */
  val ColumnStatColumns: StructType = columns("partition" -> StringType,
    "file_id" -> StringType, "path" -> StringType, "column" -> StringType,
    "min_value" -> StringType, "max_value" -> StringType,
    "null_count" -> LongType, "num_records" -> LongType)

  def columnStats(t: GraftTable): DataFrame = frame(t, ColumnStatColumns)(
    t.view.fileSlices(None).flatMap { s =>
      s.allFiles.flatMap { f =>
        val cols = f.colMin.keySet ++ f.colMax.keySet ++ f.colNulls.keySet
        cols.toSeq.sorted.map(c => Row(f.partitionPath, f.fileId, f.relPath, c,
          f.colMin.get(c).orNull, f.colMax.get(c).orNull,
          f.colNulls.get(c).map(Long.box).orNull, f.numRecords))
      }
    })

  /** Pending (requested/inflight) instants — stuck-write triage. */
  def pending(t: GraftTable): DataFrame = {
    import t.spark.implicits._
    t.timeline.pendingInstants().map(i => (i.ts, i.action, i.state))
      .toDF("instant", "action", "state")
  }

  /** Export the latest snapshot as PLAIN files for non-engine consumers —
    * the analog of the reference's HoodieSnapshotExporter in its non-hudi
    * output modes (reference hudi-utilities/.../HoodieSnapshotExporter.java,
    * `--output-format parquet|json`). One distributed write of the
    * snapshot read (so MOR merging, replaced-group filtering and schema
    * evolution all apply), meta columns stripped, laid out by the table's
    * partition path when `partitioned`. Returns the exported instant.
    */
  def exportSnapshot(t: GraftTable, outputDir: String, format: String = "parquet",
      partitioned: Boolean = true): String = {
    require(Seq("parquet", "json", "orc").contains(format),
      s"unsupported export format '$format'")
    val latest = t.timeline.lastCompleted().map(_.ts).getOrElse(
      throw new IllegalStateException("nothing committed to export"))
    val snap = graft.read.Readers.snapshot(t)
    if (partitioned && t.cfg.partitionPathExpr.nonEmpty)
      snap.drop(MetaCols.All.filterNot(_ == MetaCols.PartitionPath): _*)
        .write.mode("overwrite").format(format)
        .partitionBy(MetaCols.PartitionPath).save(outputDir)
    else
      snap.drop(MetaCols.All: _*)
        .write.mode("overwrite").format(format).save(outputDir)
    latest
  }

  /** Generate a symlink-format manifest for external engines — the public
    * interop pattern Delta Lake uses for Presto/Trino/Athena
    * (`_symlink_format_manifest/<partition>/manifest`, one absolute data
    * file URI per line): an engine that cannot load this library defines
    * an external table over the manifest and reads the snapshot's parquet
    * directly. This is the Spark-native answer to the reference's
    * hudi-hadoop-mr InputFormats (reference
    * hudi-hadoop-mr/.../HoodieParquetInputFormat.java — which also
    * exposes base files only for the RO view): base files of the latest
    * file slices, so COW reads are exact snapshots and MOR reads are the
    * read-optimized view (delta files cannot be represented to a plain
    * parquet reader).
    *
    * Listing is driver-side over the already-cached file-system view —
    * zero data IO; the manifest is tiny (one line per file group).
    * Returns the number of listed files.
    */
  def generateSymlinkManifest(t: GraftTable, asOf: Option[String] = None): Int = {
    val slices = t.view.fileSlices(asOf)
    val base = Storage.qualified(t.basePath).toString.stripSuffix("/")
    val root = t.basePath.resolve("_symlink_format_manifest")
    WritePipeline.deleteRecursively(root)
    val byPart = slices.filter(_.baseFile.nonEmpty).groupBy(_.partitionPath)
    byPart.foreach { case (part, ss) =>
      val dir = if (part.isEmpty) root else root.resolve(part)
      Storage.mkdirs(dir)
      val lines = ss.flatMap(_.baseFile).map(f => s"$base/${f.relPath}")
        .sorted.mkString("", "\n", "\n")
      Storage.writeString(dir.resolve("manifest"), lines)
    }
    byPart.values.map(_.size).sum
  }

  /** Read back every file URI listed in a table's symlink manifest. */
  def manifestFiles(t: GraftTable): Seq[String] = {
    val root = t.basePath.resolve("_symlink_format_manifest")
    Storage.walkPaths(root)
      .filter(_.getName == "manifest")
      .flatMap(p => Storage.readString(p).split("\n"))
      .filter(_.nonEmpty).sorted
  }

  /** Copy the latest snapshot's FILES into a new, loadable table pinned at
    * that instant — the HoodieSnapshotCopier analog (reference
    * hudi-utilities/.../HoodieSnapshotCopier.java: latest file slices +
    * the metadata dir). The copy is distributed (one task per file, IO via
    * Hadoop's FileSystem so the same code targets hdfs://s3a://file://)
    * and carries table config plus the commit metadata of the instants
    * that own the copied files, so snapshot reads on the copy resolve
    * exactly; older history is intentionally absent (as in the reference,
    * the copy is a backup of ONE snapshot, not the full timeline).
    */
  def copyTable(t: GraftTable, outputDir: String): GraftTable = {
    val spark = t.spark
    val latest = t.timeline.lastCompleted().map(_.ts).getOrElse(
      throw new IllegalStateException("nothing committed to copy"))
    val slices = t.view.fileSlices(None)
    val files = slices.flatMap(_.allFiles).map(_.relPath)
      .filterNot(p => new org.apache.hadoop.fs.Path(p).isAbsolute) // bootstrap externals stay shared
    val dstPath = new org.apache.hadoop.fs.Path(GraftTable.normalize(outputDir))
    val srcBase = Storage.qualified(t.basePath).toString.stripSuffix("/")
    val dstBase = Storage.qualified(dstPath).toString.stripSuffix("/")
    Storage.mkdirs(dstPath)
    // distributed copy: one task per file, streamed through Hadoop FS
    // (driver config shipped — see Services.shippedHadoopProps)
    val hadoopProps = Services.shippedHadoopProps(spark)
    spark.sparkContext.parallelize(files, math.max(1, math.min(files.size, 64)))
      .foreachPartition { it =>
        val conf = Services.executorHadoopConf(hadoopProps)
        it.foreach { rel =>
          val from = new org.apache.hadoop.fs.Path(s"$srcBase/$rel")
          val to = new org.apache.hadoop.fs.Path(s"$dstBase/$rel")
          org.apache.hadoop.fs.FileUtil.copy(
            from.getFileSystem(conf), from, to.getFileSystem(conf), to, false, true, conf)
        }
      }
    // table config + the COMPLETE completed timeline (the reference copies
    // the whole .hoodie metadata dir) — the copy's file-system view then
    // resolves latest slices / replaced groups exactly like the source;
    // only pre-latest file versions are absent, so time travel below the
    // copied snapshot errors loudly instead of silently missing data
    TableConfig.save(dstPath, t.cfg)
    val dstTimeline = new Timeline(dstPath)
    dstTimeline.init()
    t.timeline.completedInstants().foreach(i =>
      dstTimeline.publishInstant(i.ts, i.action, t.timeline.readContent(i)))
    // archived commits and files-index snapshots carry over too: for a
    // table whose early commits were archived, the view resolves file
    // groups through the archive/index — without them the copy would
    // silently miss every group owned by an archived commit
    for (sub <- Seq(Seq("archive", "archived.jsonl"))) {
      val from = sub.foldLeft(t.basePath.resolve(".graft"))(_ resolve _)
      if (Storage.exists(from)) {
        val to = sub.foldLeft(dstPath.resolve(".graft"))(_ resolve _)
        Storage.mkdirs(to.getParent)
        Storage.writeString(to, Storage.readString(from))
      }
    }
    val idxDir = t.basePath.resolve(".graft").resolve("index")
    if (Storage.isDirectory(idxDir)) {
      val dstIdx = dstPath.resolve(".graft").resolve("index")
      Storage.mkdirs(dstIdx)
      Storage.listPaths(idxDir).foreach(p =>
        Storage.writeString(dstIdx.resolve(p.getName), Storage.readString(p)))
    }
    GraftTable.load(spark, outputDir)
  }

  /** Layout version protocol (reference hudi-cli
    * UpgradeOrDowngradeCommand.java / hoodie.table.version): upgrade
    * stamps the CURRENT layout version on a table written by an older
    * build (a no-op rewrite today — one layout exists — but the
    * choreography is in place for the first real layout change);
    * downgrade re-stamps an explicit older version so an older build
    * accepts the table. Both are metadata-only config writes under no
    * lock — run them quiesced, like the reference's command.
    */
  def upgradeTable(t: GraftTable): Long = {
    val cur = graft.core.ConfigKeys.CurrentTableVersion
    val cfg = graft.core.TableConfig.load(t.basePath)
    graft.core.TableConfig.save(t.basePath, cfg.copy(props =
      cfg.props + (graft.core.ConfigKeys.TableVersion -> cur.toString)))
    cur
  }

  def downgradeTable(t: GraftTable, toVersion: Long): Long = {
    require(toVersion >= 1 && toVersion <= graft.core.ConfigKeys.CurrentTableVersion,
      s"unknown layout version $toVersion")
    val cfg = graft.core.TableConfig.load(t.basePath)
    graft.core.TableConfig.save(t.basePath, cfg.copy(props =
      cfg.props + (graft.core.ConfigKeys.TableVersion -> toVersion.toString)))
    toVersion
  }

  /** Live base-file size distribution quantiles: `stats filesizes`
    * analog — the small-file-health check behind compaction/clustering
    * decisions.
    */
  def fileSizes(t: GraftTable): DataFrame = {
    import t.spark.implicits._
    val sizes = t.view.fileSlices(None).flatMap(_.baseFile).map(_.sizeBytes).sorted
    def q(p: Double): Long =
      if (sizes.isEmpty) 0L
      else sizes(math.min(sizes.size - 1, (p * sizes.size).toInt))
    Seq((sizes.size.toLong, sizes.headOption.getOrElse(0L), q(0.5), q(0.9),
      sizes.lastOption.getOrElse(0L), if (sizes.isEmpty) 0L else sizes.sum / sizes.size))
      .toDF("num_files", "min_bytes", "p50_bytes", "p90_bytes", "max_bytes", "avg_bytes")
  }

}
