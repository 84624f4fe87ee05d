package graft.table

import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.Storage.PathOps

/** Low-level write machinery shared by all write operations.
  *
  * Files are produced by a single distributed Spark write routed through
  * [[graft.spark.GraftCommitProtocol]]: each task opens its output file at
  * its FINAL table name
  * `<base>/<partition>/<fileId>_<token>_<instant>[.delta].parquet`,
  * dropping a marker under `.graft/.temp/<instant>/markers/` first (the
  * reference's direct-write-markers shape — DirectWriteMarkers.java /
  * HoodieCreateHandle open final paths the same way). Publish therefore
  * moves ZERO bytes and performs O(1) driver FS calls per commit (one
  * marker listing) — on object stores the staged-rename alternative costs
  * a full object copy per file plus a driver round-trip per file. Per-file
  * stats come from the footers: read on the driver (bounded pool) for
  * small commits, as a distributed job past
  * [[WritePipeline.DriverStatsMaxFiles]] files so a 10k-file commit never
  * serializes footer reads through the driver. A staged-write + rename
  * fallback remains for sessions whose commitProtocolClass the user
  * pinned to something else.
  *
  * The fileId a row belongs to is computed as a COLUMN before the write
  * (`_graft_file_id`), which replaces the reference's custom Spark
  * Partitioner (reference table/action/commit/UpsertPartitioner.java) with
  * a declarative `repartition($"partition", $"fileId")` — one shuffle,
  * fully codegen'd, AQE-compatible.
  */
object WritePipeline extends Serializable {
  // staging partition column names (dropped from file contents by
  // partitionBy) — GraftCommitProtocol parses the staged dir names by them
  private val GP = "_graft_part_dir"
  private val GF = "_graft_file_dir"

  val FileIdCol = MetaCols.FileId
  val DeleteCol = MetaCols.DeleteFlag

  /** Transient boolean column marking rows a DML action actually changed;
    * complete-group writes skip groups with no modified row. Never persisted.
    */
  val ModifiedCol = "_graft_modified"

  def baseFileName(fileId: String, instant: String, token: Int = 0,
      format: String = "parquet"): String =
    s"${fileId}_${token}_$instant.$format"
  def deltaFileName(fileId: String, instant: String, token: Int = 0): String =
    s"${fileId}_${token}_$instant.delta.parquet"
  /** Per-row `_hoodie_file_name` of the token-0 file a write at `instant`
    * opens for the row's file group: `<fileId>_0_<instant>.<format>`.
    */
  def fileNameCol(instant: String, format: String): Column =
    concat(col(FileIdCol), lit(s"_0_$instant.$format"))
  def isDeltaFile(name: String): Boolean = name.endsWith(".delta.parquet")
  def fileIdOf(name: String): String = name.takeWhile(_ != '_')

  /** Data-file format by extension — commit metadata records full file
    * names, so mixed-format tables (e.g. a format switched mid-history)
    * resolve per file.
    */
  def formatOf(path: String): String =
    if (path.endsWith(".orc")) "orc" else "parquet"

  /** Fresh file-group id: globally unique, no underscores (underscore is
    * the file-name field separator).
    */
  def newFileIdPrefix(): String = UUID.randomUUID().toString.take(18).replace("_", "-")

  /** Add `_hoodie_commit_time`, `_hoodie_commit_seqno`, `_hoodie_file_name`
    * to a frame that already has key/partition/fileId columns, ordering
    * meta columns first (reference meta-column layout).
    */
  def withCommitMeta(df: DataFrame, instant: String, isDelta: Boolean,
      baseFormat: String = "parquet"): DataFrame = {
    val withCols = df
      .withColumn(MetaCols.CommitTime, lit(instant))
      .withColumn(MetaCols.CommitSeqno,
        concat(lit(instant + "_"), monotonically_increasing_id().cast("string")))
      .withColumn(MetaCols.FileName,
        fileNameCol(instant, if (isDelta) "delta.parquet" else baseFormat))
    val dataCols = withCols.columns.filterNot(c => MetaCols.All.contains(c))
    withCols.select((MetaCols.All ++ dataCols).map(col): _*)
  }

  /** Dictionary value-set collection policy for one write: `enabled=false`
    * (table prop `graft.stats.dictionary=false`) turns the footer
    * dictionary-page reads off entirely; `skip` carries columns a PREVIOUS
    * commit proved ineligible (high cardinality / plain-page fallback), so
    * the next commit does zero dictionary IO for them.
    */
  final case class DictStats(enabled: Boolean, skip: Set[String])
  object DictStats {
    val On: DictStats = DictStats(enabled = true, Set.empty)
    def of(cfg: TableConfig, extraSkip: Set[String] = Set.empty): DictStats =
      DictStats(
        cfg.prop(ConfigKeys.DictionaryStats, "true").toBoolean,
        parsePoisoned(cfg.prop(ConfigKeys.DictionaryPoisoned, "")) ++ extraSkip)
    def parsePoisoned(s: String): Set[String] =
      s.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet
  }

  /** Test-visible count of dictionary PAGES read per column (driver-path
    * footer stats) — pins that a poisoned column costs no dictionary IO
    * on later commits.
    */
  private[graft] val dictPageReads =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Rebinds `df`'s analyzed plan onto a child session with AQE off, so
    * the action run on the returned frame plans statically. For engine-
    * INTERNAL plans — bookkeeping aggregations and the merge/delta writes
    * fed from the commit's cached tagged frame — AQE can improve nothing:
    * output files are keyed by the pre-assigned (partition, fileId), so
    * coalescing cannot change file counts; the only joins are
    * broadcast-hinted bucket routes; skew handling applies to joins only.
    * What AQE does add is an optimizer re-run + codegen round of driver
    * latency per query stage, PER COMMIT — a cost that scales with commit
    * count, not data volume. User-plan-bearing writes (bulkInsert sources,
    * MERGE resolution) stay under AQE — arbitrary upstream joins do
    * benefit from runtime re-planning.
    *
    * The parent session's conf is never touched: another thread's query
    * or commit on the same session keeps its own planning mode. The child
    * (one per parent, see [[staticSession]]) shares the SparkContext and
    * the cache manager, so a frame the parent persisted still scans as
    * its in-memory relation. An optimization-only switch, never a
    * correctness one: `spark.graft.internal.adaptive=true` on the parent
    * returns `df` unchanged (AQE for these internal plans), as does a
    * parent that already plans statically.
    */
  def staticPlan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("spark.graft.internal.adaptive").contains("true") ||
        !GraftSqlBridge.sqlConf(spark).adaptiveExecutionEnabled) df
    else GraftSqlBridge.ofRows(staticSession(spark), df.queryExecution.analyzed)
  }

  private val AdaptiveKey = "spark.sql.adaptive.enabled"

  /** A parent's static child plus the parent settings it last mirrored. */
  private final class StaticChild(val session: SparkSession,
      var mirrored: Map[String, String])

  private val staticChildren =
    new java.util.WeakHashMap[SparkSession, StaticChild]()

  /** The parent's static child session, created once per parent and
    * re-synced on every use with whatever the parent set or unset since
    * (shuffle partitions, graft knobs, the commit protocol), so it plans
    * exactly like the parent apart from AQE. A `newSession()`, not a
    * `cloneSession()`: a clone keeps its parent's session state reachable,
    * which would pin every parent in this weak map; plans arrive analyzed,
    * so the conf is all the child needs from its parent.
    */
  private def staticSession(spark: SparkSession): SparkSession =
    staticChildren.synchronized {
      var c = staticChildren.get(spark)
      if (c == null) {
        val child = spark.newSession()
        GraftSqlBridge.sqlConf(child).setConfString(AdaptiveKey, "false")
        c = new StaticChild(child, GraftSqlBridge.sqlConf(child).getAllConfs - AdaptiveKey)
        staticChildren.put(spark, c)
      }
      val now = GraftSqlBridge.sqlConf(spark).getAllConfs - AdaptiveKey
      if (now != c.mirrored) {
        val conf = GraftSqlBridge.sqlConf(c.session)
        (c.mirrored.keySet -- now.keySet).foreach(conf.unsetConf)
        now.foreach { case (k, v) =>
          if (!c.mirrored.get(k).contains(v)) conf.setConfString(k, v) }
        c.mirrored = now
      }
      c.session
    }

  /** Distributed write. `df` must contain `_graft_file_id` plus the five
    * meta columns. Returns per-file WriteStats (with record-key min/max
    * recorded for index file-skipping). One shuffle
    * (`repartition(part, fileId)`) unless `alreadyPartitioned`.
    */
  def writeFiles(
      spark: SparkSession,
      basePath: Path,
      df: DataFrame,
      instant: String,
      isDelta: Boolean,
      alreadyPartitioned: Boolean = false,
      sortCols: Seq[String] = Seq.empty,
      allDeletes: Boolean = false,
      baseFormat: String = "parquet",
      dict: DictStats = DictStats.On): Seq[WriteStat] = {
    // delta files are always parquet (analog: the reference's Avro log
    // format is independent of the base format)
    val format = if (isDelta) "parquet" else baseFormat
    val staging = stagingDir(basePath, instant)
    val dataStaging = staging.resolve(
      if (isDelta) graft.spark.GraftCommitProtocol.DirDelta
      else graft.spark.GraftCommitProtocol.DirBase)
    Storage.mkdirs(staging)

    val keyed = df
      .withColumn(GP, col(MetaCols.PartitionPath))
      .withColumn(GF, col(FileIdCol))
    val routed =
      if (alreadyPartitioned) keyed
      else {
        val rep = keyed.repartition(col(GP), col(GF))
        if (sortCols.nonEmpty)
          rep.sortWithinPartitions((Seq(GP, GF) ++ sortCols).map(col): _*)
        else rep
      }

    // the protocol must be set on the session that PLANS the write (the
    // static child for a rebound frame); setting it on the parent as well
    // keeps the child's next conf sync from undoing it
    ensureCommitProtocol(spark)
    ensureCommitProtocol(df.sparkSession)
    routed
      .drop(FileIdCol)
      .write.mode("overwrite")
      // pin static overwrite: dynamic mode changes the commit protocol's
      // job-level contract, and the staging dir is always fresh anyway
      .option("partitionOverwriteMode", "static")
      .partitionBy(GP, GF)
      .format(format)
      .save(dataStaging.toString)

    graft.spark.GraftCommitProtocol
      .takeResult(Storage.qualified(dataStaging).toString) match {
      case Some(files) =>
        // direct mode: data files already sit at final names; the staging
        // dir holds only the committer's litter (_SUCCESS/_temporary) plus
        // the markers, which must OUTLIVE this call — they are the crash/
        // abort record until the instant publishes (finalizeInstant) or
        // the commit fails (cleanupFailedWrite)
        deleteRecursively(dataStaging)
        if (files.isEmpty) Seq.empty
        else statsOfFinalFiles(spark, basePath, files, instant, isDelta,
          format, allDeletes, dict)
      case None =>
        stagedRenamePublish(basePath, dataStaging, staging, instant, isDelta,
          format, allDeletes, dict)
    }
  }

  /** Footer-derived per-file stats come from the parquet FOOTERS: row
    * counts and min/max are already there, so publishing needs zero data
    * IO beyond footer bytes (at 100 TB a stats re-scan would double the
    * write's read volume). Small commits read them on a bounded driver
    * pool (object stores serve ≤[[DriverStatsMaxFiles]] parallel GETs
    * faster than a job launch); past that the reads run as ONE distributed
    * job so a many-thousand-file commit's stats cost is executor-side and
    * parallel (the reference collects WriteStatus on the executors inside
    * the write itself — SparkRDDWriteClient.java:149-159). numDeletes is
    * informational commit metadata; exact for pure-delete batches via
    * `allDeletes`, 0 for mixed delta batches rather than paying a scan.
    */
  private[graft] def statsOfFinalFiles(
      spark: SparkSession,
      basePath: Path,
      files: Seq[graft.spark.GraftCommitProtocol.AddedFile],
      instant: String,
      isDelta: Boolean,
      format: String,
      allDeletes: Boolean,
      dict: DictStats): Seq[WriteStat] = {
    val baseUri = Storage.qualified(basePath).toString.stripSuffix("/")
    def statOf(conf: org.apache.hadoop.conf.Configuration)(
        f: graft.spark.GraftCommitProtocol.AddedFile): WriteStat = {
      val dest = new Path(s"$baseUri/${f.relPath}")
      val fs = if (format == "orc") orcFooterStats(dest, conf)
               else footerStats(dest, conf, dict)
      WriteStat(f.fileId, f.relPath, f.partition, fs.rows,
        if (allDeletes) fs.rows else 0L,
        dest.getFileSystem(conf).getFileStatus(dest).getLen,
        fs.minKey, fs.maxKey, isDelta,
        colMin = fs.colMin, colMax = fs.colMax, colNulls = fs.colNulls,
        colValues = fs.colValues,
        colDictPoisoned = fs.dictPoisoned.toSeq.sorted)
    }
    if (files.size <= DriverStatsMaxFiles) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, files.size)))
      try {
        val futures = files.map { f =>
          pool.submit(new java.util.concurrent.Callable[WriteStat] {
            override def call(): WriteStat = statOf(Storage.conf)(f)
          })
        }
        futures.map(_.get())
      } finally pool.shutdown()
    } else {
      val hProps = Services.shippedHadoopProps(spark)
      spark.sparkContext
        // one task per core, not per file: a footer read is milliseconds,
        // so per-file tasks cost more in scheduling than they read
        .parallelize(files, math.max(1,
          math.min(files.size, spark.sparkContext.defaultParallelism)))
        .mapPartitions { it =>
          val conf = Services.executorHadoopConf(hProps)
          it.map(statOf(conf))
        }
        .collect().toSeq
    }
  }

  /** Commits at or under this file count read footers on the driver pool;
    * above it a distributed stats job keeps the driver out of the per-file
    * IO path. Tunable per session (`spark.graft.write.stats.driver.max.files`).
    */
  private def DriverStatsMaxFiles: Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.write.stats.driver.max.files"))
      .map(_.toInt).getOrElse(16)

  /** Install [[graft.spark.GraftCommitProtocol]] as the session's commit
    * protocol (idempotent; passthrough for non-graft writes, so it can
    * stay installed). Respects a user-pinned custom protocol — the write
    * then falls back to the staged-rename publish.
    */
  private def ensureCommitProtocol(spark: SparkSession): Unit = {
    val key = "spark.sql.sources.commitProtocolClass"
    val mine = classOf[graft.spark.GraftCommitProtocol].getName
    val default = "org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol"
    spark.conf.getOption(key) match {
      case None | Some(`default`) => spark.conf.set(key, mine)
      case _ => // ours already, or a user-pinned protocol: staged fallback
    }
  }

  /** Staged-write publish (fallback when a user-pinned commit protocol
    * keeps the direct path off): per-file rename + driver footer read.
    * Correct everywhere, but renames cost a full object copy on s3-style
    * stores — the direct path is the scale path.
    */
  private def stagedRenamePublish(basePath: Path, dataStaging: Path,
      staging: Path, instant: String, isDelta: Boolean, format: String,
      allDeletes: Boolean, dict: DictStats): Seq[WriteStat] = {
    // Empty input ⇒ no staged files ⇒ nothing to publish.
    val anyStaged = listDirs(dataStaging).exists(_.getName.startsWith(s"$GP="))
    if (!anyStaged) { deleteRecursively(dataStaging); return Seq.empty }

    // Map decoded partition value -> staged partition dir, by walking what
    // Spark actually wrote (avoids re-implementing the escape function).
    val partDirs: Map[String, Path] = listDirs(dataStaging)
      .filter(_.getName.startsWith(s"$GP="))
      .map(d => decodePartition(d.getName.stripPrefix(s"$GP=")) -> d)
      .toMap

    // Publish is parallelized across a bounded pool: each file costs a
    // rename plus a parquet-footer read, and doing them serially would make
    // driver finalization O(#files) wall-clock.
    val work: Seq[(String, String, Path, Int)] = partDirs.toSeq.flatMap {
      case (partition, pdir) =>
        val partDir = if (partition.isEmpty) basePath else basePath.resolve(partition)
        Storage.mkdirs(partDir)
        listDirs(pdir).filter(_.getName.startsWith(s"$GF=")).flatMap { leaf =>
          val fileId = leaf.getName.stripPrefix(s"$GF=")
          val parts = listDataFiles(leaf, format)
          require(parts.nonEmpty, s"no staged file for ($partition, $fileId)")
          parts.zipWithIndex.map { case (p, i) => (partition, fileId, p, i) }
        }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, work.size)))
    val out =
      try {
        val futures = work.map { case (partition, fileId, p, i) =>
          pool.submit(new java.util.concurrent.Callable[WriteStat] {
            override def call(): WriteStat = {
              val partDir = if (partition.isEmpty) basePath else basePath.resolve(partition)
              val nm = if (isDelta) deltaFileName(fileId, instant, i)
                       else baseFileName(fileId, instant, i, format)
              val dest = partDir.resolve(nm)
              Storage.rename(p, dest)
              val fs = if (format == "orc") orcFooterStats(dest)
                       else footerStats(dest, dict = dict)
              WriteStat(fileId, relPath(basePath, dest), partition, fs.rows,
                if (allDeletes) fs.rows else 0L,
                Storage.size(dest), fs.minKey, fs.maxKey, isDelta,
                colMin = fs.colMin, colMax = fs.colMax, colNulls = fs.colNulls,
                colValues = fs.colValues,
                colDictPoisoned = fs.dictPoisoned.toSeq.sorted)
            }
          })
        }
        futures.map(_.get())
      } finally pool.shutdown()
    deleteRecursively(dataStaging)
    out
  }

  /** Success-side staging cleanup, called AFTER the instant publishes:
    * the markers' crash-reconciliation duty ends when the commit is
    * durable. One recursive delete of `.graft/.temp/<instant>`.
    */
  def finalizeInstant(basePath: Path, instant: String): Unit =
    deleteRecursively(stagingDir(basePath, instant))

  /** Failure-side cleanup for a commit that never published: deletes the
    * marker-listed final-named data files this instant's write jobs
    * created (direct mode), then the staging dir (covers the staged
    * fallback's leftovers too).
    */
  def cleanupFailedWrite(basePath: Path, instant: String): Unit = {
    graft.spark.GraftCommitProtocol.deleteMarkedFiles(
      Storage.conf, Storage.qualified(basePath).toString.stripSuffix("/"), instant)
    deleteRecursively(stagingDir(basePath, instant))
  }

  /** Footer row count only (bootstrap adoption of files that don't carry
    * meta columns yet).
    */
  def footerRowCount(file: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, Storage.conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  final case class FooterStats(rows: Long, minKey: String, maxKey: String,
      colMin: Map[String, String], colMax: Map[String, String],
      colNulls: Map[String, Long] = Map.empty,
      colValues: Map[String, Seq[String]] = Map.empty,
      // columns whose dictionary collection cost IO in THIS file and
      // failed (high cardinality / plain-page fallback) — carried into
      // the table config so later commits skip the read
      dictPoisoned: Set[String] = Set.empty)

  /** Max distinct values recorded per column; a larger dictionary marks
    * the column high-cardinality and drops it from value-set skipping
    * (it still has min/max). Small cap keeps commit metadata compact.
    */
  val DictValuesCap = 32

  /** Row count + per-column min/max straight from the parquet footer —
    * per-file exact, zero data IO beyond the footer bytes. Column stats
    * (every comparable primitive leaf, meta columns excluded) power data
    * skipping on arbitrary predicates in GraftFileIndex. NESTED leaves
    * reached only through structs qualify too (r16): their max repetition
    * level is 0, so each row contributes exactly one value-or-null entry
    * and the footer's min/max/numNulls have row semantics identical to a
    * top-level column — a `WHERE meta.st = 'X'` prunes files the same way
    * a top-level predicate does. Leaves under arrays/maps (repetition
    * level > 0) are excluded: their stats aggregate over ELEMENTS, which
    * no simple row predicate maps to.
    */
  private def footerStats(file: Path,
      conf: org.apache.hadoop.conf.Configuration = Storage.conf,
      dict: DictStats = DictStats.On): FooterStats = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var n = 0L
      val mins = scala.collection.mutable.HashMap[String, Comparable[Any]]()
      val maxs = scala.collection.mutable.HashMap[String, Comparable[Any]]()
      // per-column null counts — valid even for all-null columns; a block
      // with numNulls unset poisons the column (conservative: no count →
      // no null-predicate pruning for it)
      val nulls = scala.collection.mutable.HashMap[String, Long]()
      val nullsUnknown = scala.collection.mutable.HashSet[String]()
      // struct-only leaf paths (top-level or nested with repetition 0)
      val rowSemantic: Set[String] = reader.getFooter.getFileMetaData.getSchema
        .getColumns.asScala.filter(_.getMaxRepetitionLevel == 0)
        .map(_.getPath.mkString(".")).toSet
      reader.getFooter.getBlocks.forEach { b =>
        n += b.getRowCount
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (rowSemantic.contains(name)) {
            val st = c.getStatistics
            if (st == null || !st.isNumNullsSet) nullsUnknown += name
            else nulls.updateWith(name)(cur => Some(cur.getOrElse(0L) + st.getNumNulls))
            if (st != null && st.hasNonNullValue) {
              (statValue(st.genericGetMin.asInstanceOf[AnyRef]), statValue(st.genericGetMax.asInstanceOf[AnyRef])) match {
                case (Some(lo), Some(hi)) =>
                  val l = lo.asInstanceOf[Comparable[Any]]
                  val h = hi.asInstanceOf[Comparable[Any]]
                  mins.updateWith(name)(cur => Some(cur.filter(_.compareTo(l) <= 0).getOrElse(l)))
                  maxs.updateWith(name)(cur => Some(cur.filter(_.compareTo(h) >= 0).getOrElse(h)))
                case _ => ()
              }
            }
          }
        }
      }
      val keep = (m: scala.collection.Map[String, Comparable[Any]]) =>
        m.collect { case (k, v) if !MetaCols.All.contains(k) || k == MetaCols.RecordKey =>
          k -> v.toString
        }.toMap
      val (values, newPoison) =
        if (dict.enabled) dictValueSets(reader, dict.skip)
        else (Map.empty[String, Seq[String]], Set.empty[String])
      FooterStats(n,
        mins.get(MetaCols.RecordKey).map(_.toString).getOrElse(""),
        maxs.get(MetaCols.RecordKey).map(_.toString).getOrElse(""),
        keep(mins) - MetaCols.RecordKey, keep(maxs) - MetaCols.RecordKey,
        colNulls = nulls.view.filterKeys(k =>
          !nullsUnknown.contains(k) && !MetaCols.All.contains(k)).toMap,
        colValues = values, dictPoisoned = newPoison)
    } finally reader.close()
  }

  /** Exhaustive per-column distinct-value sets from the parquet DICTIONARY
    * pages. A column qualifies only when every data page of every row
    * group is dictionary-encoded (EncodingStats proves no plain fallback),
    * so the union of the dictionaries IS the file's distinct set — cheap
    * (dictionary pages are tiny and read without touching data pages) and
    * exact. Capped at [[DictValuesCap]] values: past that the column is
    * high-cardinality and range stats serve it better. Supported physical
    * types are UTF8 binary, plain/date int32 and plain/timestamp-micros
    * int64 — the types whose decoded string form provably equals the
    * Spark filter literal's string form at prune time
    * (GraftFileIndex.inRange).
    */
  private def dictValueSets(
      reader: org.apache.parquet.hadoop.ParquetFileReader,
      skip: Set[String]): (Map[String, Seq[String]], Set[String]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val schema = reader.getFooter.getFileMetaData.getSchema
    // same row-semantics rule as footerStats: struct-only leaves (max
    // repetition level 0) participate, nested included
    val descs = schema.getColumns.asScala
      .filter(_.getMaxRepetitionLevel == 0).map(d => d.getPath.mkString(".") -> d).toMap
    val sets = scala.collection.mutable.HashMap[String, scala.collection.mutable.LinkedHashSet[String]]()
    // columns a previous commit proved ineligible enter pre-poisoned:
    // their dictionary pages are never opened again
    val poisoned = scala.collection.mutable.HashSet[String]() ++ skip
    // newly-discovered STICKY ineligibility (a data property — high
    // cardinality, plain-page fallback — not a transient like an all-null
    // chunk): reported upward for the table-config carry
    val newPoison = scala.collection.mutable.HashSet[String]()
    def typeOk(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean = {
      val pt = c.getPrimitiveType
      val ann = pt.getLogicalTypeAnnotation
      pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.BINARY =>
          ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] ||
            ann.isInstanceOf[LogicalTypeAnnotation.EnumLogicalTypeAnnotation]
        case PrimitiveTypeName.INT32 => ann match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
          case _ => false
        }
        case PrimitiveTypeName.INT64 => ann match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => false
        }
        case _ => false
      }
    }
    reader.getFooter.getBlocks.asScala.foreach { b =>
      val dicts: org.apache.parquet.column.page.DictionaryPageReadStore =
        reader.getDictionaryReader(b)
      try b.getColumns.asScala.foreach { c =>
        val name = c.getPath.toDotString
        if (descs.contains(name) && !MetaCols.All.contains(name) && !poisoned(name)) {
          val es = c.getEncodingStats
          if (!typeOk(c)) poisoned += name // costless: footer-only check
          else if (es == null || es.hasNonDictionaryEncodedPages) {
            poisoned += name; newPoison += name // parquet fell back: sticky
          } else {
            dictPageReads.merge(name, 1L, (a, b) => a + b)
            val page = dicts.readDictionaryPage(descs(name))
            if (page == null) {
              // no dictionary page is only safe when the chunk holds no
              // non-null values at all (empty contribution)
              val st = c.getStatistics
              if (st == null || !st.isNumNullsSet || st.getNumNulls != c.getValueCount)
                poisoned += name
              else sets.getOrElseUpdate(name,
                scala.collection.mutable.LinkedHashSet.empty[String])
            } else {
              val dict = page.getEncoding.initDictionary(descs(name), page)
              if (dict.getMaxId + 1 > DictValuesCap) {
                poisoned += name; newPoison += name // high cardinality: sticky
              } else {
                val set = sets.getOrElseUpdate(name,
                  scala.collection.mutable.LinkedHashSet.empty[String])
                val pt = c.getPrimitiveType.getPrimitiveTypeName
                var i = 0
                while (i <= dict.getMaxId && !poisoned(name)) {
                  set += (pt match {
                    case PrimitiveTypeName.BINARY => dict.decodeToBinary(i).toStringUsingUTF8
                    case PrimitiveTypeName.INT32 => dict.decodeToInt(i).toString
                    case _ => dict.decodeToLong(i).toString
                  })
                  if (set.size > DictValuesCap) { poisoned += name; newPoison += name }
                  i += 1
                }
              }
            }
          }
        }
      } finally dicts.close()
    }
    (sets.collect { case (k, v) if !poisoned(k) => k -> v.toSeq.sorted }.toMap,
      newPoison.toSet)
  }

  /** ORC twin of [[footerStats]]: row count + per-column min/max from the
    * ORC file tail — same zero-data-IO contract as the parquet path.
    */
  private def orcFooterStats(file: Path,
      conf: org.apache.hadoop.conf.Configuration = Storage.conf): FooterStats = {
    val reader = org.apache.orc.OrcFile.createReader(file,
      org.apache.orc.OrcFile.readerOptions(conf))
    try {
      val schema = reader.getSchema // struct<...> of top-level columns
      val names = schema.getFieldNames.asScala.toSeq
      val kids = schema.getChildren.asScala.toSeq
      val stats = reader.getStatistics // index 0 = root struct
      val mins = scala.collection.mutable.HashMap[String, String]()
      val maxs = scala.collection.mutable.HashMap[String, String]()
      names.zip(kids).foreach { case (name, typ) =>
        val st = stats(typ.getId)
        (st match {
          case s: org.apache.orc.StringColumnStatistics =>
            (Option(s.getMinimum), Option(s.getMaximum))
          case s: org.apache.orc.IntegerColumnStatistics =>
            (Some(s.getMinimum.toString), Some(s.getMaximum.toString))
          case s: org.apache.orc.DoubleColumnStatistics =>
            (Some(s.getMinimum.toString), Some(s.getMaximum.toString))
          case _ => (None, None) // nested/other: no range pruning
        }) match {
          case (Some(lo), Some(hi)) if st.getNumberOfValues > 0 =>
            mins(name) = lo; maxs(name) = hi
          case _ => ()
        }
      }
      val keep = (m: scala.collection.Map[String, String]) =>
        m.collect { case (k, v) if !MetaCols.All.contains(k) || k == MetaCols.RecordKey =>
          k -> v
        }.toMap
      // ORC: top-level null count = rows - non-null values per column
      val nulls = names.zip(kids).map { case (name, typ) =>
        name -> (reader.getNumberOfRows - stats(typ.getId).getNumberOfValues)
      }.filterNot { case (k, _) => MetaCols.All.contains(k) }.toMap
      FooterStats(reader.getNumberOfRows,
        mins.getOrElse(MetaCols.RecordKey, ""),
        maxs.getOrElse(MetaCols.RecordKey, ""),
        keep(mins) - MetaCols.RecordKey, keep(maxs) - MetaCols.RecordKey,
        colNulls = nulls)
    } finally reader.close()
  }

  /** Normalize a parquet statistics value to a comparable JVM value whose
    * toString round-trips (binary-UTF8 -> String, numerics as-is).
    */
  private def statValue(v: AnyRef): Option[AnyRef] = v match {
    // wrap in Utf8Order.Str so the cross-row-group min/max fold compares
    // UTF-8 bytes (the footer's own order), not UTF-16 code units —
    // toString unwraps to the raw string for the persisted stat maps
    case b: org.apache.parquet.io.api.Binary =>
      Some(graft.core.Utf8Order.Str(b.toStringUsingUTF8))
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i)
    case d: java.lang.Double => Some(d)
    case f: java.lang.Float => Some(f)
    case _ => None // boolean/int96/other: not useful for range pruning
  }

  def stagingDir(basePath: Path, instant: String): Path =
    basePath.resolve(".graft").resolve(".temp").resolve(instant)

  def relPath(base: Path, p: Path): String = Storage.relativize(base, p)

  private def listDirs(dir: Path): Seq[Path] =
    Storage.list(dir).filter(_.isDirectory).map(_.getPath)

  private def listDataFiles(dir: Path, format: String): Seq[Path] =
    Storage.listPaths(dir)
      .filter(_.getName.endsWith(s".$format"))
      .sortBy(_.getName)

  /** Inverse of Spark's partition-value escaping (percent-encoding of
    * special chars — ExternalCatalogUtils.unescapePathName semantics,
    * re-implemented to stay off private APIs).
    */
  def decodePartition(escaped: String): String = {
    if (escaped == "__HIVE_DEFAULT_PARTITION__") return ""
    val sb = new StringBuilder
    var i = 0
    while (i < escaped.length) {
      val c = escaped.charAt(i)
      if (c == '%' && i + 2 < escaped.length) {
        val hex = escaped.substring(i + 1, i + 3)
        if (hex.forall(h => Character.digit(h, 16) >= 0)) {
          sb.append(Integer.parseInt(hex, 16).toChar); i += 3
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def deleteRecursively(p: Path): Unit = Storage.deleteRecursively(p)
}
