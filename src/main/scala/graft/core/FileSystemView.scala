package graft.core

import org.apache.hadoop.fs.Path

import graft.core.Storage.PathOps

/** One physical data file tracked by the view. `relPath` is relative to the
  * table base dir.
  */
final case class FileEntry(
    partitionPath: String,
    fileId: String,
    instant: String,
    relPath: String,
    sizeBytes: Long,
    isDelta: Boolean,
    minKey: String = "",
    maxKey: String = "",
    numRecords: Long = 0L,
    colMin: Map[String, String] = Map.empty,
    colMax: Map[String, String] = Map.empty,
    colNulls: Map[String, Long] = Map.empty,
    // exhaustive dictionary value sets (see WriteStat.colValues)
    colValues: Map[String, Seq[String]] = Map.empty)

/** Latest view of one file group at some instant: newest base file plus the
  * delta files written after it (reference model/FileSlice.java:32-53).
  */
final case class FileSlice(
    partitionPath: String,
    fileId: String,
    baseFile: Option[FileEntry],
    deltaFiles: Seq[FileEntry]) {
  def allFiles: Seq[FileEntry] = baseFile.toSeq ++ deltaFiles
  def totalDeltaBytes: Long = deltaFiles.map(_.sizeBytes).sum
}

/** Serializable fold state — persisted as a files-index snapshot when the
  * timeline archives, so the view never needs archived instants (this is
  * the reference's metadata-table idea — hudi-common/.../metadata/ — done
  * as a compacted driver-side index instead of an internal MOR table).
  */
final case class ViewState(
    asOfInstant: String,
    entries: Seq[FileEntry],
    // "partition|fileId" -> ascending ","-joined replacement instants. A
    // replacecommit kills the group's files UP TO that instant; files
    // written after REVIVE the group id (bucket-index layouts reuse
    // stable ids across delete_partition / truncate / overwrite cycles).
    // Single-instant values from pre-history snapshots parse as a
    // one-element history.
    replaced: Map[String, String]) {
  def replacedHistory(partition: String, fileId: String): Seq[String] =
    replaced.get(ViewState.groupKey(partition, fileId))
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
  /** Latest replacement instant (None = never replaced). */
  def replacedAt(partition: String, fileId: String): Option[String] =
    replacedHistory(partition, fileId).lastOption
}

object ViewState {
  /** File groups are identified by (partition, fileId) — a fileId is only
    * unique within its partition (reference model/HoodieFileGroupId.java).
    */
  def groupKey(partition: String, fileId: String): String = s"$partition|$fileId"
}

object FileSystemView {
  /** Entry count above which index snapshots switch to the parquet form. */
  val DefaultParquetThreshold: Long = 50000L

  private[core] final class Cached(val fingerprint: Set[String], val state: ViewState) {
    private val slicesRef = new java.util.concurrent.atomic.AtomicReference[Seq[FileSlice]]()
    /** Memoized slice list for this state (compute-once, thread-safe). */
    def slices(compute: => Seq[FileSlice]): Seq[FileSlice] = {
      val cur = slicesRef.get()
      if (cur != null) cur
      else { val s = compute; slicesRef.compareAndSet(null, s); slicesRef.get() }
    }
  }
  private[core] val cache = new java.util.concurrent.ConcurrentHashMap[Path, Cached]()

  /** Drop the cached fold for one table (tests; external tools that
    * rewrote table metadata out-of-band).
    */
  def invalidate(basePath: Path): Unit = { cache.remove(basePath); () }
}

/** Table file-system view derived purely from commit metadata — zero
  * directory listing, unlike the reference's listing-based
  * AbstractTableFileSystemView. Every commit records the files it added
  * (with key ranges and sizes) and the file groups it replaced; the view is
  * a fold over completed instants. At 100 TB / ~1M files this fold is a
  * driver-side O(files-touched-since-last-index) pass over small JSON, and
  * the periodic index snapshot keeps it bounded.
  *
  * The latest-state fold is cached per table, keyed by the set of completed
  * instant files (one cheap directory listing revalidates it): a write op
  * consults the view several times — index tag, small-file lookup, merge
  * read, replaced-group check — and foreign commits from other writer
  * processes are still picked up because the fingerprint changes. New
  * commits extend the cached fold incrementally; anything that removes
  * instants (rollback, restore, archive) triggers a full refold (which
  * re-seats on the latest index snapshot).
  */
final class FileSystemView(basePath: Path, timeline: Timeline,
    spark: Option[org.apache.spark.sql.SparkSession] = None,
    parquetThreshold: Long = FileSystemView.DefaultParquetThreshold) {
  private val indexDir = basePath.resolve(".graft").resolve("index")

  /** Build the fold state at `asOf` (None ⇒ latest; cached). */
  def state(asOf: Option[String] = None): ViewState = asOf match {
    case Some(_) => computeState(asOf, ViewState("", Seq.empty, Map.empty), useIndex = true)
    case None =>
      val fp = timeline.completedInstants()
        .filter(i => folded(i.action)).map(_.fileName).toSet
      val cached = FileSystemView.cache.get(basePath)
      if (cached != null && cached.fingerprint == fp) cached.state
      else {
        val incremental = cached != null && cached.fingerprint.subsetOf(fp) &&
          (fp -- cached.fingerprint).forall(_.takeWhile(_ != '.') > cached.state.asOfInstant)
        val st =
          if (incremental) computeState(None, cached.state, useIndex = false)
          else computeState(None, ViewState("", Seq.empty, Map.empty), useIndex = true)
        FileSystemView.cache.put(basePath, new FileSystemView.Cached(fp, st))
        st
      }
  }

  /** Actions the fold consumes: data writes extend the entry list; cleans
    * SUBTRACT their deleted paths. Folding cleans keeps `entries` bounded
    * by live files — without it every cleaned version would sit in the
    * driver-side state forever (unbounded over the lifetime of a
    * long-running table) and clean itself would re-plan already-deleted
    * files.
    */
  private def folded(action: String): Boolean =
    Action.DataActions.contains(action) || action == Action.Clean

  private def computeState(asOf: Option[String], seed: ViewState, useIndex: Boolean,
      partitions: Option[Set[String]] = None): ViewState = {
    val base = if (useIndex) {
      val idx = loadIndex(asOf, partitions)
      if (idx.asOfInstant >= seed.asOfInstant) idx else seed
    } else seed
    val instants = timeline.completedInstants()
      .filter(i => folded(i.action))
      .filter(i => i.ts > base.asOfInstant)
      .filter(i => asOf.forall(i.ts <= _))
    val keepPart = (p: String) => partitions.forall(_.contains(p))
    var entries = base.entries
    var replaced = base.replaced
    var last = base.asOfInstant
    instants.foreach { i =>
      if (i.action == Action.Clean) {
        val deleted = Json.read[CleanMetadata](timeline.readContent(i))
          .deletedPaths.toSet
        entries = entries.filterNot(e => deleted.contains(e.relPath))
      } else {
        val md = CommitMetadata.fromJson(timeline.readContent(i))
        entries = entries ++ md.writeStats.filter(ws => keepPart(ws.partitionPath))
          .map(ws => FileEntry(
          ws.partitionPath, ws.fileId, i.ts, ws.path, ws.fileSizeInBytes,
          ws.isDelta, ws.minRecordKey, ws.maxRecordKey, ws.numWrites,
          ws.colMin, ws.colMax, ws.colNulls, ws.colValues))
        md.replacedFileIds.foreach { case (part, fids) =>
          fids.foreach { fid =>
            val k = ViewState.groupKey(part, fid)
            // append: instants fold in ascending order, so the history
            // stays sorted; a revived-then-replaced-again group carries
            // every replacement so as-of reads resolve each window exactly
            replaced = replaced.updated(k,
              replaced.get(k).map(_ + "," + i.ts).getOrElse(i.ts))
          }
        }
      }
      last = i.ts
    }
    ViewState(last, entries, replaced)
  }

  /** Partition-pruned file slices: driver state is bounded by the PRUNED
    * partitions' entry count, not the table's. With a parquet index
    * snapshot, the partition predicate pushes into a distributed scan of
    * the index table, so a 1M-file table's single-partition read
    * materializes only that partition's entries on the driver (the
    * reference's metadata-table partition lookup has the same shape).
    * Small tables (JSON snapshot / no snapshot) fold as usual and filter.
    */
  def fileSlicesPruned(partitions: Set[String],
      asOf: Option[String] = None): Seq[FileSlice] = {
    // an up-to-date full cache already bounds the work — use it
    val cached = FileSystemView.cache.get(basePath)
    val fp = timeline.completedInstants()
      .filter(i => folded(i.action)).map(_.fileName).toSet
    if (asOf.isEmpty && cached != null && cached.fingerprint == fp)
      return fileSlices(None).filter(s => partitions.contains(s.partitionPath))
    val st = computeState(asOf, ViewState("", Seq.empty, Map.empty),
      useIndex = true, partitions = Some(partitions))
    computeSlices(st, asOf).filter(s => partitions.contains(s.partitionPath))
  }

  /** Latest file slice per live file group at `asOf`. The latest view's
    * slice list is memoized next to the cached fold (several view consumers
    * per write op would otherwise each re-group the full entry list).
    */
  def fileSlices(asOf: Option[String] = None): Seq[FileSlice] = {
    if (asOf.isEmpty) {
      val st = state(None) // ensures cache entry is current
      val c = FileSystemView.cache.get(basePath)
      if (c != null && (c.state eq st)) return c.slices(computeSlices(st, None))
    }
    computeSlices(state(asOf), asOf)
  }

  private def computeSlices(st: ViewState, asOf: Option[String]): Seq[FileSlice] = {
    st.entries
      // a file is dead iff some replacement at rts ≥ its instant applies
      // within the read window (rts ≤ asOf); files written AFTER the last
      // applicable replacement revive the group id
      .filter(e => !st.replacedHistory(e.partitionPath, e.fileId)
        .exists(rts => e.instant <= rts && asOf.forall(rts <= _)))
      .groupBy(e => (e.partitionPath, e.fileId))
      .map { case ((part, fid), files) =>
        val bases = files.filterNot(_.isDelta)
        val latestBase = if (bases.isEmpty) None else Some(bases.maxBy(_.instant))
        val deltas = files.filter(_.isDelta)
          .filter(d => latestBase.forall(b => d.instant > b.instant))
          .sortBy(_.instant)
        FileSlice(part, fid, latestBase, deltas)
      }
      .toSeq
      .sortBy(s => (s.partitionPath, s.fileId))
  }

  /** Latest base files only (read-optimized view / COW snapshot). */
  def latestBaseFiles(asOf: Option[String] = None): Seq[FileEntry] =
    fileSlices(asOf).flatMap(_.baseFile)

  /** Base files below the small-file threshold, for upsert bin-packing
    * (reference UpsertPartitioner.getSmallFiles). Only slices with no
    * pending deltas qualify.
    */
  def smallFiles(partition: String, limitBytes: Long): Seq[FileEntry] =
    fileSlices(None)
      .filter(s => s.partitionPath == partition && s.deltaFiles.isEmpty)
      .flatMap(_.baseFile)
      .filter(_.sizeBytes < limitBytes)

  def partitions(asOf: Option[String] = None): Seq[String] =
    fileSlices(asOf).map(_.partitionPath).distinct.sorted

  /** All file entries ever written and not yet cleaned — used by clean to
    * find obsolete slices.
    */
  def allEntries(): ViewState = state(None)

  // ---- files-index snapshot (written at archive time) ----

  /** Persist the current fold. Small tables write one JSON blob; past
    * `parquetThreshold` entries the snapshot becomes a PARQUET table of
    * entries plus a small `.meta.json` (asOf + replaced map) — a
    * multi-GB monolithic JSON parse is exactly the driver wall the
    * reference's metadata table exists to avoid
    * (hudi-common/.../metadata/HoodieMetadataPayload.java:104-126), and
    * the columnar form is what partition-pruned loads push predicates
    * into.
    */
  def writeIndexSnapshot(): Path = {
    val st = state(None)
    Storage.mkdirs(indexDir)
    spark match {
      case Some(ss) if st.entries.size > parquetThreshold =>
        import ss.implicits._
        val dir = indexDir.resolve(s"files_${st.asOfInstant}.parquet")
        ss.createDataset(st.entries)
          .repartition(math.max(1, (st.entries.size / 500000).toInt + 1))
          .write.mode("overwrite").parquet(dir.toString)
        val meta = indexDir.resolve(s"files_${st.asOfInstant}.meta.json")
        Storage.writeString(meta,
          Json.write(ViewState(st.asOfInstant, Seq.empty, st.replaced)))
        dir
      case _ =>
        val p = indexDir.resolve(s"files_${st.asOfInstant}.json")
        Storage.writeString(p, Json.write(st))
        p
    }
  }

  private def loadIndex(asOf: Option[String],
      partitions: Option[Set[String]] = None): ViewState = {
    if (!Storage.isDirectory(indexDir))
      return ViewState("", Seq.empty, Map.empty)
    val names = Storage.listPaths(indexDir).map(_.getName)
    val candidates =
      (names.filter(n => n.startsWith("files_") && n.endsWith(".json") &&
          !n.endsWith(".meta.json"))
        .map(n => (n.stripPrefix("files_").stripSuffix(".json"), "json")) ++
       names.filter(n => n.startsWith("files_") && n.endsWith(".meta.json"))
        .map(n => (n.stripPrefix("files_").stripSuffix(".meta.json"), "parquet")))
      .sortBy(_._1)
    val (atOrBelow, above) = candidates.partition { case (ts, _) => asOf.forall(ts <= _) }
    // the fold from a snapshot S replays the ACTIVE instants after S; once
    // a later archive moved the active horizon past S, instants in
    // (S, asOf] may be gone from the timeline. The oldest snapshot above
    // asOf then holds them: keep its entries written at or before asOf
    // (computeSlices bounds its replacement history to asOf, and the fold
    // adds nothing past a base newer than asOf).
    val horizon = timeline.completedInstants().headOption.map(_.ts)
    val gap = asOf.isDefined && above.nonEmpty &&
      horizon.exists(h => atOrBelow.lastOption.forall(_._1 < h))
    if (gap) {
      val later = read(above.head, partitions)
      return later.copy(entries = later.entries.filter(e => asOf.forall(e.instant <= _)))
    }
    atOrBelow.lastOption match {
      case None => ViewState("", Seq.empty, Map.empty)
      case Some(snapshot) => read(snapshot, partitions)
    }
  }

  /** Load one files-index snapshot (`ts`, "json" | "parquet"). */
  private def read(snapshot: (String, String),
      partitions: Option[Set[String]]): ViewState =
    snapshot match {
      case (ts, "json") =>
        val st = Json.read[ViewState](Storage.readString(indexDir.resolve(s"files_$ts.json")))
        partitions match {
          case Some(ps) => st.copy(entries = st.entries.filter(e => ps.contains(e.partitionPath)))
          case None => st
        }
      case (ts, _) =>
        val ss = spark.getOrElse(throw new IllegalStateException(
          s"files index snapshot at $ts is parquet; a SparkSession is required to load it"))
        import ss.implicits._
        val meta = Json.read[ViewState](
          Storage.readString(indexDir.resolve(s"files_$ts.meta.json")))
        var raw = ss.read.parquet(indexDir.resolve(s"files_$ts.parquet").toString)
        // snapshots written before the dictionary-value-set field lack the
        // column; decode them with an empty map rather than failing
        if (!raw.columns.contains("colValues"))
          raw = raw.withColumn("colValues", org.apache.spark.sql.functions
            .typedLit(Map.empty[String, Seq[String]]))
        var ds = raw.as[FileEntry]
        // partition pruning pushes into the parquet scan — the driver only
        // ever collects the queried partitions' entries
        partitions.foreach(ps =>
          ds = ds.filter(org.apache.spark.sql.functions.col("partitionPath")
            .isin(ps.toSeq: _*)))
        meta.copy(entries = ds.collect().toSeq)
    }
}
