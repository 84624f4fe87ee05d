package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.Storage.PathOps

/** Compaction candidate-selection strategies (reference
  * compact/strategy package).
  */
object CompactionStrategy {
  val LogFileSize = "LOG_FILE_SIZE"
  val DayBased = "DAY_BASED"
  val BoundedPartition = "BOUNDED_PARTITION"
  val Unbounded = "UNBOUNDED"
}

/** Table maintenance services (reference §2.6: compaction, clustering,
  * clean, rollback, savepoint/restore). All planning is a pure function
  * over the metadata view; all data movement is a declarative Spark job.
  */
object Services {

  // ------------------------------------------------------------ compaction

  /** Schedule: pick every file slice with pending deltas, largest delta
    * volume first (reference LogFileSizeBasedCompactionStrategy), bounded
    * by an IO budget. Plan is persisted in the requested instant so a
    * separate process could execute it (reference two-phase compaction).
    *
    * `strategy` mirrors the reference's compaction strategies
    * (reference hudi-client-common/.../compact/strategy/):
    *  - LOG_FILE_SIZE: largest pending delta volume first (default)
    *  - DAY_BASED: newest partitions first (time-partitioned tables
    *    compact hot data before cold)
    *  - BOUNDED_PARTITION: at most `maxPartitions` partitions per run
    *  - UNBOUNDED: everything with pending deltas
    */
  def scheduleCompaction(t: GraftTable, ioBudgetBytes: Long = Long.MaxValue,
      strategy: String = CompactionStrategy.LogFileSize,
      maxPartitions: Int = Int.MaxValue): Option[String] = graft.core.TableLock.withLock(t.basePath) {
    val pending = t.view.fileSlices(None).filter(_.deltaFiles.nonEmpty)
    val candidates = strategy match {
      case CompactionStrategy.LogFileSize => pending.sortBy(-_.totalDeltaBytes)
      case CompactionStrategy.DayBased =>
        pending.sortBy(s => (s.partitionPath, s.fileId))(
          Ordering.Tuple2(Ordering.String.reverse, Ordering.String))
      case CompactionStrategy.BoundedPartition =>
        val parts = pending.map(_.partitionPath).distinct.sorted.reverse.take(maxPartitions).toSet
        pending.filter(s => parts.contains(s.partitionPath)).sortBy(-_.totalDeltaBytes)
      case CompactionStrategy.Unbounded => pending
      case other => throw new IllegalArgumentException(s"unknown compaction strategy '$other'")
    }
    var budget = ioBudgetBytes
    val picked = candidates.takeWhile { s =>
      val cost = s.totalDeltaBytes + s.baseFile.map(_.sizeBytes).getOrElse(0L)
      val ok = budget >= cost; if (ok) budget -= cost; ok
    }
    if (picked.isEmpty) return None
    val plan = CompactionPlan(picked.map(s => CompactionOp(
      s.partitionPath, s.fileId,
      s.baseFile.map(_.relPath).getOrElse(""),
      s.deltaFiles.map(_.relPath))))
    val ts = InstantTime.newInstant(t.timeline)
    t.timeline.createRequested(ts, Action.Compaction, Json.write(plan))
    Some(ts)
  }

  /** Run a scheduled compaction: per group, base ∪ deltas → latest-wins
    * window → rewrite the group's base file at the compaction instant
    * (reference HoodieSparkMergeOnReadTableCompactor.java:90-185). One
    * distributed job for all groups; the window shuffle is bounded by the
    * compacted data volume, and tombstones are physically dropped here.
    */
  def runCompaction(t: GraftTable, ts: String): String = graft.core.TableLock.withLock(t.basePath) {
    val plan = Json.read[CompactionPlan](t.timeline.readRequestedContent(ts, Action.Compaction))
    val inst = t.timeline.transitionToInflight(GraftInstant(ts, Action.Compaction, State.Requested))
    t.commitInflight(inst, "compact") { _ =>
      val slices = t.view.fileSlices(Some(preCompactionView(t, ts))).filter(s =>
        plan.operations.exists(op => op.fileId == s.fileId && op.partitionPath == s.partitionPath))
      val del = MetaCols.DeleteFlag
      val bases = t.readEntriesRaw(slices.flatMap(_.baseFile)).withColumn(del, lit(false))
      val deltas = t.readEntriesRaw(slices.flatMap(_.deltaFiles))
      val unioned = bases.unionByName(
        deltas.withColumn(del, coalesce(col(del), lit(false))), allowMissingColumns = true)
        .withColumn(WritePipeline.FileIdCol,
          substring_index(col(MetaCols.FileName), "_", 1))
      // Version resolution honors the table's payload strategy, so a
      // compacted group reads identically to its pre-compaction merge.
      // A key never leaves its file group (updates tag to the key's
      // group), so for the winner-row payloads the merge fuses into the
      // write's (partition, fileId) exchange — ONE shuffle of the
      // compacted bytes, same shape as the COW merged write, instead of a
      // (partition, key) window followed by the write re-exchange.
      // PARTIAL_UPDATE needs per-key window frames and keeps the two-pass
      // shape.
      val merged0 =
        if (Payload.of(t.cfg) == Payload.PartialUpdate)
          Payload.mergeVersions(t.cfg, unioned, del)
            .repartition(col(MetaCols.PartitionPath), col(WritePipeline.FileIdCol))
        else Payload.mergeFusedWithWriteLayout(t.cfg, unioned, del)
      val merged = merged0
        .withColumn(MetaCols.FileName,
          WritePipeline.fileNameCol(ts, t.cfg.baseFormat))
      // internal plan (file-index scans + fused merge, no joins): static
      // planning skips AQE's per-stage driver latency — see
      // WritePipeline.staticPlan
      val stats = WritePipeline.writeFiles(t.spark, t.basePath,
        WritePipeline.staticPlan(merged), ts, isDelta = false,
        alreadyPartitioned = true, baseFormat = t.cfg.baseFormat,
        dict = t.dictStats)
      (stats, Map.empty, t.latestSchema.map(_.json).getOrElse(""))
    }
    Metrics.refreshIfOn(t)
    ts
  }

  /** The view instant just below the compaction ts, so the merge reads the
    * slices the plan was scheduled against (deltas landing after the
    * compaction instant stay pending and win at read time — same semantics
    * as the reference's instant-time fencing).
    */
  private def preCompactionView(t: GraftTable, ts: String): String = {
    t.timeline.completedInstants().map(_.ts).filter(_ < ts).lastOption.getOrElse("0")
  }

  def compact(t: GraftTable): Option[String] =
    scheduleCompaction(t).map(ts => runCompaction(t, ts))

  /** Run a clustering pass when `everyNCommits` data commits accumulated
    * since the last one — the shared trigger behind inline clustering
    * (GraftTable.postCommit) and the async clustering thread
    * (Streaming.ContinuousIngest). Sort columns default to the table's
    * `graft.cluster.sort.columns` config, so every trigger path produces
    * the layout the table was configured for.
    */
  def clusterIfDue(t: GraftTable, everyNCommits: Long,
      sortColumns: Option[Seq[String]] = None): Option[String] = {
    val completed = t.timeline.completedInstants()
    val lastCluster = completed
      .filter(_.action == Action.ReplaceCommit)
      .filter(i => CommitMetadata.fromJson(t.timeline.readContent(i)).operationType == "cluster")
      .lastOption
    val dataSince = t.timeline.completedDataInstants()
      .count(i => lastCluster.forall(c => i.ts > c.ts))
    val sortCols = sortColumns.getOrElse(
      t.cfg.prop(ConfigKeys.ClusterSortColumns, "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // table-prop curve layout: graft.cluster.zorder.columns (+ optional
    // graft.cluster.curve=hilbert) routes auto-clustering through the
    // space-filling layout instead of a linear sort
    val curveCols = t.cfg.prop(ConfigKeys.ClusterZOrderColumns, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (dataSince >= everyNCommits) {
      if (curveCols.nonEmpty)
        cluster(t, zorderColumns = curveCols,
          hilbert = t.cfg.prop(ConfigKeys.ClusterCurve, "morton") == "hilbert")
      else cluster(t, sortColumns = sortCols)
    } else None
  }

  /** Unschedule a pending compaction plan (reference
    * HoodieCompactionAdminTool UNSCHEDULE_PLAN): removes the requested
    * instant so its deltas merge in a later plan instead. Refuses plans
    * already executing or executed.
    */
  def unscheduleCompaction(t: GraftTable, ts: String): Unit =
    graft.core.TableLock.withLock(t.basePath) {
      val states = t.timeline.listInstants().filter(i => i.ts == ts && i.action == Action.Compaction)
      require(states.nonEmpty, s"no compaction instant $ts")
      require(states.forall(_.state == State.Requested),
        s"compaction $ts is ${states.map(_.state).mkString(",")} — only requested plans unschedule")
      t.timeline.deleteInstantFiles(ts, Action.Compaction)
    }

  /** Validate a pending compaction plan (reference
    * HoodieCompactionAdminTool VALIDATE): one row per planned operation,
    * flagging inputs that no longer exist (e.g. cleaned by mistake).
    */
  def validateCompaction(t: GraftTable, ts: String): org.apache.spark.sql.DataFrame = {
    val plan = Json.read[CompactionPlan](t.timeline.readRequestedContent(ts, Action.Compaction))
    import t.spark.implicits._
    plan.operations.map { op =>
      val baseOk = op.baseFilePath.isEmpty || Storage.exists(t.basePath.resolve(op.baseFilePath))
      val missingDeltas = op.deltaFilePaths.filterNot(p => Storage.exists(t.basePath.resolve(p)))
      (op.partitionPath, op.fileId, baseOk, op.deltaFilePaths.size.toLong,
        missingDeltas.size.toLong, baseOk && missingDeltas.isEmpty)
    }.toDF("partition", "file_id", "base_present", "num_deltas", "missing_deltas", "valid")
  }

  // ------------------------------------------------------------ clustering

  /** Clustering plan strategies — which partitions are eligible for a
    * clustering run (reference plan strategies:
    * SparkRecentDaysClusteringPlanStrategy.java:54-123 filters to the
    * newest partition paths; SparkSelectedPartitionsClusteringPlanStrategy
    * takes an explicit list; default considers everything).
    */
  sealed trait ClusterPlanStrategy
  object ClusterPlanStrategy {
    case object AllPartitions extends ClusterPlanStrategy
    /** Newest `n` partition paths by lexicographic order — the recent-days
      * analog for date-derived partitions.
      */
    final case class RecentPartitions(n: Int) extends ClusterPlanStrategy
    final case class SelectedPartitions(parts: Seq[String]) extends ClusterPlanStrategy
    /** Exactly the named file groups, partition → fileIds — a caller that
      * picks its own merge runs (the dedup index's size tiers).
      */
    final case class FileGroups(groups: Map[String, Seq[String]]) extends ClusterPlanStrategy
  }

  /** Clustering (reference SparkSortAndSizeExecutionStrategy.java:51-68):
    * rewrite many small base files into few sorted, size-targeted file
    * groups via replacecommit. Only slices without pending deltas qualify
    * (reference SparkClusteringPlanActionExecutor filters the same way).
    */
  def cluster(t: GraftTable, sortColumns: Seq[String] = Seq.empty,
      smallFileLimit: Long = -1L,
      strategy: ClusterPlanStrategy = ClusterPlanStrategy.AllPartitions,
      zorderColumns: Seq[String] = Seq.empty,
      hilbert: Boolean = false): Option[String] =
      graft.core.TableLock.withLock(t.basePath) {
    // clustering rewrites groups under fresh ids, which would break the
    // BUCKET layout's hash → group invariant (reference bucket index has
    // the same restriction); re-bulk_insert into a new table to re-bucket
    require(!BucketIndex.enabled(t.cfg),
      "clustering is not supported on BUCKET-indexed tables")
    val limit = if (smallFileLimit > 0) smallFileLimit else t.smallFileLimit
    val slices0 = t.view.fileSlices(None)
    val eligible: FileSlice => Boolean = strategy match {
      case ClusterPlanStrategy.AllPartitions => _ => true
      case ClusterPlanStrategy.RecentPartitions(n) =>
        val recent = slices0.map(_.partitionPath).distinct.sorted.takeRight(n).toSet
        s => recent.contains(s.partitionPath)
      case ClusterPlanStrategy.SelectedPartitions(ps) => s => ps.contains(s.partitionPath)
      case ClusterPlanStrategy.FileGroups(gs) =>
        s => gs.get(s.partitionPath).exists(_.contains(s.fileId))
    }
    val groups = slices0
      .filter(eligible)
      .filter(s => s.deltaFiles.isEmpty && s.baseFile.exists(_.sizeBytes < limit))
      .groupBy(_.partitionPath)
      .filter(_._2.size > 1)
    if (groups.isEmpty) return None
    val ts = InstantTime.newInstant(t.timeline)
    val plan = ClusteringPlan(
      groups.toSeq.map { case (p, ss) =>
        ClusteringGroup(p, ss.map(_.fileId), ss.flatMap(_.baseFile).map(_.relPath))
      }, sortColumns)
    t.timeline.createRequested(ts, Action.ReplaceCommit, Json.write(plan))
    val inst = t.timeline.transitionToInflight(GraftInstant(ts, Action.ReplaceCommit, State.Requested))
    t.commitInflight(inst, "cluster") { _ =>
      val entries = t.view.fileSlices(None)
        .filter(s => plan.groups.exists(g => g.partitionPath == s.partitionPath && g.fileIds.contains(s.fileId)))
        .flatMap(_.baseFile)
      val data = t.readEntriesRaw(entries)
      val perFile = math.max(1L, t.maxFileSize / t.avgRecordSize)
      val totalRows = math.max(1L, entries.map(_.numRecords).sum)
      val stats =
        if (sortColumns.nonEmpty || zorderColumns.nonEmpty) {
          // Sorted layout: rows are RANGE-distributed across size-targeted
          // file groups, then sorted within each — the whole clustering
          // batch is globally ordered, so per-file [min,max] ranges don't
          // overlap and key-range / column-stats skipping actually prunes
          // (reference SparkSortAndSizeExecutionStrategy bulk-inserts with
          // GLOBAL_SORT for the same reason). With z-order columns the sort
          // key is a Morton code, giving EVERY z-column tight per-file
          // ranges instead of only the first sort column.
          val withKey =
            if (zorderColumns.nonEmpty)
              ZOrder.withCurveColumn(data, zorderColumns, hilbert)
            else data
          val sortExprs = Seq(col(MetaCols.PartitionPath)) ++
            (if (zorderColumns.nonEmpty) Seq(col(ZOrder.ZCol))
             else sortColumns.map(col))
          val numFiles = math.max(1L, math.min(
            math.ceil(totalRows.toDouble / perFile).toLong,
            10000L)).toInt
          val prefix = WritePipeline.newFileIdPrefix()
          val fileIdExpr = concat(format_string("%05d", spark_partition_id()), lit("-"),
            substring(md5(col(MetaCols.PartitionPath)), 1, 6), lit("-" + prefix))
          val routed = withKey
            .repartitionByRange(numFiles, sortExprs: _*)
            .sortWithinPartitions(sortExprs: _*)
            .withColumn(WritePipeline.FileIdCol, fileIdExpr)
            .withColumn(MetaCols.FileName,
              WritePipeline.fileNameCol(ts, t.cfg.baseFormat))
            .drop(ZOrder.ZCol)
          // internal plan: file-index scans + explicitly-pinned range
          // exchange (numFiles) — static planning, see staticPlan
          WritePipeline.writeFiles(t.spark, t.basePath,
            WritePipeline.staticPlan(routed), ts, isDelta = false,
            alreadyPartitioned = true, baseFormat = t.cfg.baseFormat,
            dict = t.dictStats)
        } else {
          // pure small-file coalescing: hash-route into fresh size-targeted
          // groups per partition (no ordering requirement, no range shuffle)
          val counts = entries.groupBy(_.partitionPath).map { case (p, es) => p -> es.map(_.numRecords).sum }
          import t.spark.implicits._
          val buckets = counts.toSeq.flatMap { case (p, n) =>
            (0L until math.max(n, 1L) by perFile).map(lo =>
              (p, lo, math.min(lo + perFile, n), math.max(n, 1L), WritePipeline.newFileIdPrefix()))
          }.toDF("_b_part", "_b_lo", "_b_hi", "_b_total", "_b_fid")
          val h = pmod(abs(hash(col(MetaCols.RecordKey))).cast("long"), col("_b_total"))
          val routed = data
            .join(broadcast(buckets),
              col(MetaCols.PartitionPath) === col("_b_part") && h >= col("_b_lo") && h < col("_b_hi"))
            .withColumn(WritePipeline.FileIdCol, col("_b_fid"))
            .drop("_b_part", "_b_lo", "_b_hi", "_b_total", "_b_fid")
            .withColumn(MetaCols.FileName,
              WritePipeline.fileNameCol(ts, t.cfg.baseFormat))
          // internal plan: file-index scans + broadcast-hinted bucket
          // route — static planning, see staticPlan
          WritePipeline.writeFiles(t.spark, t.basePath,
            WritePipeline.staticPlan(routed), ts, isDelta = false,
            baseFormat = t.cfg.baseFormat, dict = t.dictStats)
        }
      (stats, plan.groups.map(g => g.partitionPath -> g.fileIds).toMap,
        t.latestSchema.map(_.json).getOrElse(""))
    }
    Metrics.refreshIfOn(t)
    Some(ts)
  }

  // ------------------------------------------------------------------ clean

  /** Partition TTL (the reference line later shipped this as
    * partition-TTL management, HoodiePartitionTTLConfig): expire whole
    * partitions by age in ONE replacecommit. Two policies:
    *  - `keepLast = n`: keep the n lexicographically-greatest partition
    *    paths (date-shaped layouts sort chronologically) — calendar-window
    *    retention for time-partitioned tables.
    *  - `lastWriteBefore = Some(ts)`: expire partitions whose newest file
    *    instant precedes `ts` — activity-based TTL, no partition-value
    *    parsing, so it works for any layout.
    * Returns the expired partitions (empty = nothing to do, no commit).
    * The drop is logical; the cleaner reclaims bytes once the replacement
    * passes its retention horizon, and as-of reads before the expiry
    * still see the partitions.
    */
  def expirePartitions(t: GraftTable, keepLast: Int = -1,
      lastWriteBefore: Option[String] = None): Seq[String] = {
    require((keepLast > 0) ^ lastWriteBefore.isDefined,
      "pass exactly one policy: keepLast or lastWriteBefore")
    val slices = t.view.fileSlices(None)
    val parts = slices.map(_.partitionPath).distinct.sorted
    val expired =
      if (keepLast > 0) parts.dropRight(keepLast)
      else {
        val cutoff = lastWriteBefore.get
        val lastWrite = slices.groupBy(_.partitionPath)
          .map { case (p, ss) => p -> ss.flatMap(_.allFiles).map(_.instant).max }
        parts.filter(p => lastWrite(p) < cutoff)
      }
    if (expired.nonEmpty) t.deletePartitions(expired)
    expired
  }

  /** CONSISTENT-bucket capacity management, grow direction: split every
    * live bucket group whose total bytes (base + deltas) exceed the
    * threshold — default 1.5x max file size, the reference consistent
    * bucket index's split-threshold discipline
    * (hudi-client-common/.../bucket/ConsistentBucketIdentifier.java).
    * Each split is one replacecommit rewriting only that bucket, so a
    * growing table converges to right-sized groups at O(hot data) cost —
    * the 100 TB answer the FIXED engine's full-rewrite rescale can't
    * give. Returns the (partition, fileId)s split.
    */
  def splitHotBuckets(t: GraftTable,
      thresholdBytes: Option[Long] = None): Seq[(String, String)] = {
    require(ConsistentBuckets.enabled(t.cfg),
      "splitHotBuckets requires graft.index.bucket.engine=CONSISTENT")
    val thr = thresholdBytes.getOrElse(t.cfg.propLong(
      ConfigKeys.BucketSplitBytes, t.maxFileSize * 3 / 2))
    val hot = t.view.fileSlices(None).filter { s =>
      s.allFiles.map(_.sizeBytes).sum > thr &&
        ConsistentBuckets.Node.parse(s.fileId)
          .exists(_.d < ConsistentBuckets.MaxDepth)
    }
    hot.map { s =>
      t.splitBucket(s.partitionPath, s.fileId)
      (s.partitionPath, s.fileId)
    }
  }

  /** Shrink direction of [[splitHotBuckets]]: merge sibling child pairs
    * whose combined live bytes fit under the threshold (default the
    * small-file limit) back into their revived parent — only pairs
    * deeper than the table's initial depth, so the layout converges
    * toward (never past) its creation-time cover. Absent children count
    * zero bytes; a fully-empty pair still merges (pure cover change).
    */
  def mergeColdBuckets(t: GraftTable,
      thresholdBytes: Option[Long] = None): Seq[(String, String)] = {
    require(ConsistentBuckets.enabled(t.cfg),
      "mergeColdBuckets requires graft.index.bucket.engine=CONSISTENT")
    val thr = thresholdBytes.getOrElse(t.smallFileLimit)
    val d0 = ConsistentBuckets.initialDepth(t.cfg)
    val st = ConsistentBuckets.state(t)
    val bytes: Map[(String, String), Long] = t.view.fileSlices(None)
      .map(s => (s.partitionPath, s.fileId) -> s.allFiles.map(_.sizeBytes).sum)
      .toMap
    st.covers.toSeq.sortBy(_._1).flatMap { case (part, cover) =>
      cover.filter(_.d > d0).groupBy(_.parent).collect {
        case (parent, pair) if pair.size == 2 &&
            pair.map(n => bytes.getOrElse((part, n.fileId), 0L)).sum <= thr =>
          parent
      }.toSeq.sortBy(n => (n.d, n.v)).map { parent =>
        t.mergeBuckets(part, parent.fileId)
        (part, parent.fileId)
      }
    }
  }

  /** Record-level TTL: expire rows whose event time fell more than
    * `keepDays` behind the TABLE'S OWN newest event time — one
    * predicate-pruned delete commit (the row-granular complement of
    * [[expirePartitions]], for tables whose partitioning isn't the
    * retention axis). The watermark is data-derived (max of `tsCol`),
    * never wall clock, so retention is deterministic and a stalled
    * ingest never eats its own tail. Returns None when nothing expired.
    *
    * Scale shape: one max() aggregate (pushdown + column pruning), then
    * GraftTable.deleteWhere's two-pass pruned rewrite — column-stats
    * skipping means only file groups whose min event time predates the
    * cutoff are ever opened.
    */
  def expireRecords(t: GraftTable, tsCol: String, keepDays: Int): Option[String] = {
    require(keepDays > 0, s"keepDays must be positive, got $keepDays")
    val snap = graft.read.Readers.snapshot(t)
    require(snap.columns.contains(tsCol), s"TTL column '$tsCol' not in schema")
    val row = snap.agg(max(col(s"`$tsCol`").cast("timestamp")).as("_m")).first()
    if (row.isNullAt(0)) return None
    // epoch-micros arithmetic: timezone-free, exact
    val cutoffMicros = row.getTimestamp(0).getTime * 1000L -
      keepDays.toLong * 86400L * 1000000L
    val cond = s"unix_micros(CAST(`$tsCol` AS TIMESTAMP)) < ${cutoffMicros}"
    if (snap.filter(expr(cond)).limit(1).isEmpty) None
    else Some(t.deleteWhere(cond))
  }

  /** Cleaner retention policies (reference CleanPlanner.java:119-392 /
    * HoodieCleaningPolicy.java): commits-horizon retention (the default),
    * a hard per-group version count, and a wall-clock horizon.
    */
  sealed trait CleanPolicy
  object CleanPolicy {
    /** Keep every file reachable by the last `retainCommits` snapshots. */
    final case class KeepLatestCommits(retainCommits: Int) extends CleanPolicy
    /** Keep the newest `retainVersions` base files per file group — the
      * aggressive space-bound policy: replaced groups and pre-horizon
      * versions go regardless of commit count, so incremental/time-travel
      * reads older than the retained versions fail loudly rather than
      * being silently partial (as in the reference).
      */
    final case class KeepLatestFileVersions(retainVersions: Int) extends CleanPolicy
    /** Keep everything reachable by snapshots in the last `hours` of wall
      * clock (reference KEEP_LATEST_BY_HOURS). `nowMs` is injectable for
      * deterministic tests.
      */
    final case class KeepLatestByHours(hours: Int,
        nowMs: Long = System.currentTimeMillis()) extends CleanPolicy
  }

  /** Delete file slices no longer reachable by any retained snapshot —
    * KEEP_LATEST_COMMITS policy (reference CleanPlanner.java:119-392):
    * a base file is obsolete once a newer base for the same group exists
    * at or before the earliest retained instant; savepointed snapshots are
    * spared.
    */
  def clean(t: GraftTable, retainCommits: Int = ConfigKeys.DefaultCleanerRetained): Option[String] =
    cleanWith(t, CleanPolicy.KeepLatestCommits(retainCommits))

  /** Clean under any [[CleanPolicy]]. */
  def cleanWith(t: GraftTable, policy: CleanPolicy): Option[String] = graft.core.TableLock.withLock(t.basePath) {
    val (deletable, horizonTs) = planClean(t, policy)
    if (deletable.isEmpty) return None
    val dataInstants = t.timeline.completedDataInstants()
    val earliestRetained = horizonTs.getOrElse(
      dataInstants.lastOption.map(_.ts).getOrElse(""))
    val ts = InstantTime.newInstant(t.timeline)
    val inst = t.timeline.createRequested(ts, Action.Clean)
    t.timeline.transitionToInflight(inst)
    // distributed deletion (reference cleans with parallelism 200 through
    // its engine context — HoodieCompactionConfig cleaner.parallelism): a
    // serial driver loop over a 100 TB table's obsolete files would make
    // the clean wall-clock O(files). A cleaned base file's bloom sidecar
    // (computed driver-side) is unreachable too.
    val targets: Seq[String] = deletable.flatMap { f =>
      Seq(f.relPath) ++
        (if (f.isDelta) Nil
         else Seq(Storage.relativize(t.basePath,
           BloomIndex.sidecarPath(t.basePath, f.relPath))))
    }
    distributedDelete(t, targets)
    val md = CleanMetadata(earliestRetained, deletable.map(_.relPath))
    t.timeline.saveAsComplete(inst, Json.write(md))
    Metrics.refreshIfOn(t)
    Some(ts)
  }

  /** The planning half of [[cleanWith]] — the file entries a clean under
    * `policy` would delete right now, plus the horizon instant. Pure
    * read (no lock, no commit): powers `VACUUM ... DRY RUN`. Callers
    * that go on to DELETE must plan under the table lock ([[cleanWith]]
    * does) so a concurrent writer can't move the horizon mid-clean.
    */
  def planClean(t: GraftTable, policy: CleanPolicy)
      : (Seq[graft.core.FileEntry], Option[String]) = {
    import CleanPolicy._
    val dataInstants = t.timeline.completedDataInstants()
    // instant-horizon policies reduce to the same reachability rule with
    // different horizons; the versions policy counts per group instead
    val horizonTs: Option[String] = policy match {
      case KeepLatestCommits(n) =>
        if (dataInstants.size <= n) return (Seq.empty, None)
        Some(dataInstants(dataInstants.size - n).ts)
      case KeepLatestByHours(h, now) =>
        if (dataInstants.isEmpty) return (Seq.empty, None)
        Some(InstantTime.fromEpochMilli(now - h * 3600000L))
      case _: KeepLatestFileVersions => None
    }
    val savepointTs = t.timeline.completedInstants()
      .filter(_.action == Action.Savepoint)
      .map(i => Json.read[SavepointMetadata](t.timeline.readContent(i)).savepointedInstant)
    val protectedPaths: Set[String] = savepointTs.flatMap(sp =>
      t.view.fileSlices(Some(sp)).flatMap(_.allFiles).map(_.relPath)).toSet

    val st = t.view.allEntries()
    val byGroup = st.entries.groupBy(e => (e.partitionPath, e.fileId))
    val deletable = byGroup.values.flatMap { files =>
      // replacement-generation split: files at/before the LAST replacement
      // are superseded (dead in every latest view); files after it are the
      // group's LIVE generation (revived ids — bucket-index layouts reuse
      // stable group ids across delete_partition/truncate/overwrite)
      val history = files.headOption.map(f =>
        st.replacedHistory(f.partitionPath, f.fileId)).getOrElse(Seq.empty)
      val lastRts = history.lastOption
      val (superseded, liveGen) =
        files.partition(f => lastRts.exists(f.instant <= _))
      val bases = liveGen.filterNot(_.isDelta).sortBy(_.instant)
      (policy, horizonTs) match {
        case (KeepLatestFileVersions(n), _) =>
          // superseded files count 0 versions (current behavior); the live
          // generation keeps its newest n bases
          val kept = bases.takeRight(math.max(n, 1)).map(_.instant).toSet
          val oldestKept = bases.takeRight(math.max(n, 1)).headOption
          superseded ++ liveGen.filter(f =>
            if (!f.isDelta) !kept.contains(f.instant)
            // a delta belongs to the newest base at/before it; deltas of
            // deleted bases are unreadable and go with them
            else oldestKept.exists(f.instant < _.instant))
        case (_, Some(earliestRetained)) =>
          // a superseded file is reclaimable once the replacement that
          // killed it (the first at/after its instant) is past the horizon
          // — before that, as-of/incremental reads may still reach it
          val supersededDeletable = superseded.filter(f =>
            history.find(f.instant <= _).exists(_ <= earliestRetained))
          // live generation: newest base at/before the horizon: everything
          // older is unreachable
          val horizon = bases.filter(_.instant <= earliestRetained).lastOption
          supersededDeletable ++ (horizon match {
            case None => Seq.empty
            case Some(hb) =>
              liveGen.filter(f =>
                (!f.isDelta && f.instant < hb.instant) ||
                  (f.isDelta && f.instant <= hb.instant))
          })
        case _ => Seq.empty
      }
    }.filterNot(f => protectedPaths.contains(f.relPath))
      // bootstrap-adopted files live outside the table and are never ours
      // to delete
      .filterNot(f => new org.apache.hadoop.fs.Path(f.relPath).isAbsolute)
      .toSeq
    (deletable, horizonTs)
  }

  /** Dedup as a TABLE SERVICE: apply a pipeline dedup strategy to the
    * snapshot and tombstone the losing records in one commit (SURVEY §7
    * step 10 — the LLM-pipeline operators running against the table
    * format itself, not just raw frames). `keep` maps the snapshot to its
    * SURVIVING rows — any `graft.pipeline.Dedup` operator fits, e.g.
    * `Services.dedupe(t, Dedup.exact(_))`. Returns None when the table
    * was already duplicate-free.
    */
  def dedupe(t: GraftTable, keep: DataFrame => DataFrame): Option[String] = {
    val snap = graft.read.Readers.snapshot(t)
    val keptKeys = keep(snap)
      .select(col(MetaCols.RecordKey), col(MetaCols.PartitionPath))
    val dups = snap.join(keptKeys,
      Seq(MetaCols.RecordKey, MetaCols.PartitionPath), "left_anti")
    if (dups.limit(1).isEmpty) return None
    val dataCols = snap.columns.filterNot(c => MetaCols.All.contains(c)).toSeq
    val resolved = dups.select(
      (Seq(col(MetaCols.RecordKey), col(MetaCols.PartitionPath),
        substring_index(col(MetaCols.FileName), "_", 1).as(WritePipeline.FileIdCol),
        lit(true).as(WritePipeline.DeleteCol)) ++ dataCols.map(col)): _*)
    Some(t.writeResolved(resolved, "dedup"))
  }

  // -------------------------------------------------- rollback / restore

  /** Undo the latest completed data instant (or a pending one): delete the
    * files it wrote, remove its instant files, record a rollback instant
    * (reference BaseRollbackActionExecutor + marker-file strategy — our
    * staging dir is the marker analog for in-flight writes).
    */
  def rollback(t: GraftTable, ts: String): String = graft.core.TableLock.withLock(t.basePath) {
    val all = t.timeline.listInstants().filter(_.ts == ts)
    require(all.nonEmpty, s"no instant $ts")
    val action = all.head.action
    val completedData = t.timeline.completedDataInstants()
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    // a rewind invalidates the consistent-bucket cover CACHE (its
    // watermark may now sit past the timeline's end, which forward-only
    // catch-up cannot detect once newer commits land) — drop it BEFORE
    // touching instants so a crash mid-rollback leaves only a missing
    // cache, which full replay rebuilds exactly
    if (ConsistentBuckets.enabled(t.cfg))
      Storage.deleteIfExists(ConsistentBuckets.stateFile(t.basePath))
    if (all.exists(_.isCompleted)) {
      require(completedData.lastOption.exists(_.ts == ts),
        s"only the latest completed instant can be rolled back (latest=${completedData.lastOption.map(_.ts)})")
      val md = CommitMetadata.fromJson(t.timeline.readContent(all.find(_.isCompleted).get))
      // never touch bootstrap-adopted files outside the table dir; the
      // deletes fan out as one job (a rolled-back bulk load can own
      // thousands of files — reference ListingBasedRollbackHelper also
      // deletes through its distributed engine context). Only files that
      // actually existed are recorded, so the persisted metadata and the
      // rollbacks admin view stay truthful for triage.
      val victims = md.writeStats.map(_.path)
        .filter(p => t.basePath.resolve(p).startsWith(t.basePath))
      deleted ++= distributedDelete(t, victims)
      // undoing a bucket rescale reverts the DATA to the old routing
      // count — the persisted config must follow, or every later write
      // would route keys away from their existing copies (duplicates).
      // Guarded on the config actually holding the rescale's target, so
      // a crash-window rollback (config never flipped) stays a no-op.
      // Callers holding the post-rescale handle must reload, like after
      // renameTable.
      for {
        target <- md.extraMetadata.get(GraftTable.RescaleTargetKey)
        from <- md.extraMetadata.get(GraftTable.RescaleFromKey)
      } {
        val cur = TableConfig.load(t.basePath)
        if (cur.prop(ConfigKeys.BucketIndexNumBuckets,
            ConfigKeys.DefaultBucketIndexNumBuckets.toString) == target)
          TableConfig.save(t.basePath, cur.copy(props =
            cur.props + (ConfigKeys.BucketIndexNumBuckets -> from)))
      }
      // undoing an alter_partition restores the previous expression —
      // same crash-window guard (config holds the new expr only if the
      // alter actually flipped it). The evolved flag stays: earlier
      // evolutions may already have mixed the stored layout.
      for {
        newer <- md.extraMetadata.get(GraftTable.PartitionExprNewKey)
        older <- md.extraMetadata.get(GraftTable.PartitionExprOldKey)
      } {
        val cur = TableConfig.load(t.basePath)
        if (cur.partitionPathExpr == newer)
          TableConfig.save(t.basePath, cur.copy(partitionPathExpr = older))
      }
    }
    // a PENDING target may still have direct-written files at final names
    // (a completed one already listed its files in writeStats above) —
    // the markers name them without a layout walk
    WritePipeline.cleanupFailedWrite(t.basePath, ts)
    recordRollback(t, ts, action, deleted.toSeq)
  }

  /** The last step of both rollbacks: remove the target instant's files,
    * record a rollback instant naming the data files deleted, and refresh
    * the metrics. Returns the rollback instant.
    */
  private def recordRollback(t: GraftTable, ts: String, action: String,
      deleted: Seq[String]): String = {
    t.timeline.deleteInstantFiles(ts, action)
    val rts = t.timeline.publishInstant(InstantTime.newInstant(t.timeline),
      Action.Rollback, Json.write(RollbackMetadata(Seq(ts), deleted))).ts
    Metrics.refreshIfOn(t)
    rts
  }

  /** Distributed file deletion under the table base: one bounded Spark job
    * (≤200 tasks, the reference's cleaner parallelism), IO through Hadoop's
    * FileSystem so the same tasks target hdfs:// and object stores. The
    * driver's full Hadoop configuration ships to the tasks as properties —
    * a bare executor-side `new Configuration()` would drop `spark.hadoop.*`
    * settings (object-store credentials) and re-parse XML per file.
    * Returns the paths that existed and were deleted.
    */
  private def distributedDelete(t: GraftTable, relPaths: Seq[String]): Seq[String] = {
    if (relPaths.isEmpty) return Seq.empty
    val baseUri = Storage.qualified(t.basePath).toString.stripSuffix("/")
    val hadoopProps = shippedHadoopProps(t.spark)
    t.spark.sparkContext
      .parallelize(relPaths, math.max(1, math.min(relPaths.size, 200)))
      .mapPartitions { it =>
        val conf = executorHadoopConf(hadoopProps)
        var fs: org.apache.hadoop.fs.FileSystem = null
        it.filter { rel =>
          val p = new org.apache.hadoop.fs.Path(s"$baseUri/$rel")
          if (fs == null) fs = p.getFileSystem(conf)
          fs.delete(p, false)
        }
      }
      .collect().toSeq
  }

  /** The driver's full Hadoop configuration as plain properties, for
    * shipping into executor tasks — a bare executor-side
    * `new Configuration()` drops `spark.hadoop.*` overrides (object-store
    * credentials) and re-parses XML per use.
    */
  private[table] def shippedHadoopProps(
      spark: org.apache.spark.sql.SparkSession): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
  }

  private[table] def executorHadoopConf(
      props: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    props.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Roll back FAILED (crashed) writes: pending commit/deltacommit
    * instants — and inflight replacecommits — older than `olderThanMs`,
    * deleting any data files the dead writer already moved into the table
    * layout plus its staging dir, then recording a rollback instant. The
    * reference runs this eagerly at every startCommit under its EAGER
    * failed-writes policy (reference AbstractHoodieWriteClient.java:667-668,
    * CleanerUtils.rollbackFailedWrites) and finds the dead writer's files
    * by listing (ListingBasedRollbackHelper).
    *
    * Excluded: compaction instants (a requested compaction is a RETRYABLE
    * plan — runCompaction's failure path deliberately preserves it) and
    * requested-only replacecommits (a scheduled clustering plan awaiting
    * execution).
    *
    * Divergence from the reference's EAGER default: plain and optimistic
    * writers may legally interleave here (an optimistic writer holds an
    * inflight marker while running unlocked), so the auto-hook defaults to
    * LAZY — only pending instants older than the staleness window
    * (`graft.failed.writes.stale.ms`, default 1h — the heartbeat-expiry
    * analog) are reaped. Strict single-writer deployments set
    * `graft.failed.writes.policy=EAGER` to reclaim immediately.
    */
  def rollbackFailedWrites(t: GraftTable, olderThanMs: Long = 0L): Seq[String] =
    graft.core.TableLock.withLock(t.basePath) {
      // Age is measured against max(wall clock, newest completed instant):
      // instants clamp above the timeline max to tolerate writer clock
      // skew, so a pending instant stamped in this host's future must
      // still age out as the (clamped) timeline advances — against wall
      // clock alone it would stay "fresh" for hours.
      val headEpoch = t.timeline.completedInstants().lastOption
        .map(i => instantEpochMs(i.ts)).getOrElse(0L)
      val now = math.max(System.currentTimeMillis(), headEpoch)
      val stale = t.timeline.pendingInstants()
        .filter(i => i.action == Action.Commit || i.action == Action.DeltaCommit ||
          (i.action == Action.ReplaceCommit && i.state == State.Inflight))
        .map(_.ts).distinct
        // a zero window means "all pending" — instants can clamp a tick
        // above wall clock, so a literal age>=0 check would skip them
        .filter(ts => olderThanMs <= 0L || now - instantEpochMs(ts) >= olderThanMs)
      stale.map { ts =>
        val deleted = orphanDataFiles(t, ts).map { p =>
          val rel = Storage.relativize(t.basePath, p)
          Storage.deleteIfExists(p)
          // a reaped base file's bloom sidecar is unreachable too (clean
          // removes sidecars the same way)
          if (!WritePipeline.isDeltaFile(rel))
            Storage.deleteIfExists(BloomIndex.sidecarPath(t.basePath, rel))
          rel
        }
        WritePipeline.deleteRecursively(WritePipeline.stagingDir(t.basePath, ts))
        val action = t.timeline.listInstants().filter(_.ts == ts).map(_.action)
          .headOption.getOrElse(Action.Commit)
        recordRollback(t, ts, action, deleted)
      }
    }

  /** Discovery of a dead writer's already-materialized data files. The
    * cheap path reads the instant's write MARKERS (one listing of
    * `.graft/.temp/<ts>/markers` — every direct-mode file creation was
    * preceded by one, so the set is complete); the layout walk remains as
    * the backstop for writers that ran the staged-rename fallback, whose
    * mid-publish crash leaves final-named files with no markers. Only
    * used on the failure path; normal operation never walks.
    */
  private def orphanDataFiles(t: GraftTable, ts: String): Seq[org.apache.hadoop.fs.Path] = {
    val baseUri = Storage.qualified(t.basePath).toString.stripSuffix("/")
    val marked = graft.spark.GraftCommitProtocol
      .markedRelPaths(Storage.conf, baseUri, ts)
    if (marked.nonEmpty)
      return marked.map(rel => t.basePath.resolve(rel))
        .filter(_.startsWith(t.basePath))
    val suffix = "_" + ts + "."
    Storage.walk(t.basePath)
      .filter(_.isFile)
      .map(_.getPath)
      .filterNot(_.startsWith(t.basePath.resolve(".graft")))
      .filter(_.getName.contains(suffix))
  }

  /** Epoch millis of an instant timestamp (yyyyMMddHHmmssSSS; counter-
    * clamped instants parse the same way). Unparseable (corrupted marker
    * file) ⇒ 0, i.e. maximal age WITHOUT overflowing `now - epoch` — a
    * garbage pending instant must count as stale, not immortal.
    */
  private def instantEpochMs(ts: String): Long =
    try {
      java.time.LocalDateTime.parse(ts.take(17),
          java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    } catch { case _: Exception => 0L }

  /** Pin an instant's files against cleaning (reference
    * SavepointActionExecutor).
    */
  def savepoint(t: GraftTable, ts: String): String = graft.core.TableLock.withLock(t.basePath) {
    require(t.timeline.completedDataInstants().exists(_.ts == ts), s"no completed instant $ts")
    t.timeline.publishInstant(InstantTime.newInstant(t.timeline),
      Action.Savepoint, Json.write(SavepointMetadata(ts))).ts
  }

  /** Delete a savepoint so the cleaner may reclaim the file versions it
    * protected (reference SavepointsCommand `savepoint delete` →
    * SavepointHelpers.deleteSavepoint). `ts` may be the savepoint instant
    * or the savepointed commit it pins.
    */
  def deleteSavepoint(t: GraftTable, ts: String): Unit =
      graft.core.TableLock.withLock(t.basePath) {
    val sp = t.timeline.completedInstants()
      .filter(_.action == Action.Savepoint)
      .find(i => i.ts == ts ||
        Json.read[SavepointMetadata](t.timeline.readContent(i)).savepointedInstant == ts)
      .getOrElse(throw new IllegalArgumentException(s"no savepoint for $ts"))
    t.timeline.deleteInstantFiles(sp.ts, Action.Savepoint)
  }

  /** Restore to an instant: roll back everything after it, newest first
    * (reference BaseRestoreActionExecutor).
    */
  def restore(t: GraftTable, ts: String): String = graft.core.TableLock.withLock(t.basePath) {
    val toUndo = t.timeline.completedDataInstants().filter(_.ts > ts).reverse
    toUndo.foreach(i => rollback(t, i.ts))
    val rts = t.timeline.publishInstant(InstantTime.newInstant(t.timeline),
      Action.Restore, Json.write(RollbackMetadata(toUndo.map(_.ts), Seq.empty))).ts
    Metrics.refreshIfOn(t)
    rts
  }
}
