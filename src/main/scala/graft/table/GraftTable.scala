package graft.table

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import graft.core._
import graft.core.Storage.PathOps
import graft.keygen.KeyGen

/** A transactional keyed table on parquet — the engine's central API,
  * reproducing the reference's write-client surface
  * (reference hudi-client/hudi-spark-client/.../SparkRDDWriteClient.java)
  * as DataFrame-in/DataFrame-out operations.
  *
  * Everything is expressed as declarative Spark plans: key generation is a
  * Catalyst expression, batch dedup is a window, index tagging is a
  * left-outer join against a key/fileId scan with key-range file skipping,
  * file-group routing is a computed column + one `repartition`, and the
  * per-file merge is `unionByName` + `row_number` (Spark's shuffle handles
  * spill — no ExternalSpillableMap analog needed).
  */
final class GraftTable(
    val spark: SparkSession,
    val basePath: Path,
    val cfg: TableConfig) {

  import WritePipeline._

  val timeline = new Timeline(basePath)
  timeline.init()

  def view = new FileSystemView(basePath, timeline, Some(spark),
    cfg.propLong(ConfigKeys.FilesIndexParquetThreshold,
      FileSystemView.DefaultParquetThreshold))

  def maxFileSize: Long = cfg.propLong(ConfigKeys.MaxFileSize, ConfigKeys.DefaultMaxFileSize)
  def smallFileLimit: Long = cfg.propLong(ConfigKeys.SmallFileLimit, ConfigKeys.DefaultSmallFileLimit)

  // ---------------------------------------------------------------- schema

  /** Table schema (incl. meta columns) from the last commit's metadata —
    * the schema-resolution strategy of the reference
    * (reference hudi-common/.../TableSchemaResolver.java:71-165), minus the
    * file-footer fallback which we never need because every commit records
    * its writer schema.
    */
  def latestSchema: Option[StructType] = schemaAsOf(None)

  /** Schema as of an instant — time-travel reads resolve the schema the
    * table HAD at the queried commit (the reference's TableSchemaResolver
    * reads the queried commit's metadata the same way), so a snapshot
    * below an ALTER shows the pre-ALTER columns. Instants archived off
    * the active timeline resolve to the oldest active schema (their files
    * are cleaned before their schemas matter).
    */
  def schemaAsOf(asOf: Option[String]): Option[StructType] = {
    def parse(m: CommitMetadata) =
      org.apache.spark.sql.types.DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    timeline.completedDataInstants().reverse.iterator
      .filter(i => asOf.forall(i.ts <= _))
      .map(i => CommitMetadata.fromJson(timeline.readContent(i)))
      .find(_.schemaJson.nonEmpty)
      .map(parse)
      // asOf below the active horizon (its commits archived): the OLDEST
      // active schema is the closest survivor — never the newest, which
      // would leak later ALTERs into the pinned past
      .orElse(if (asOf.isEmpty) None
      else timeline.completedDataInstants().iterator
        .map(i => CommitMetadata.fromJson(timeline.readContent(i)))
        .find(_.schemaJson.nonEmpty)
        .map(parse))
  }

  def dataSchema: Option[StructType] =
    latestSchema.map(s => StructType(s.fields.filterNot(f => MetaCols.All.contains(f.name))))

  /** Additive schema evolution: incoming frame gains null columns for
    * table columns it lacks; brand-new incoming columns are appended.
    * NESTED adds evolve too (reference TableSchemaResolver.java:71-165 /
    * TestCOWDataSource.scala:707 testSchemaEvolution): a struct column
    * whose incoming shape differs ADDITIVELY from the table's merges —
    * table nested fields first (padded with typed nulls when the batch
    * lacks them), incoming extras appended — recursively through
    * struct/array/map nesting, so the commit's writer schema never
    * silently drops a nested field a narrow batch didn't carry. A
    * non-additive nested change (type conflict, struct vs scalar)
    * refuses with a named error instead of failing deep in the plan.
    */
  private def alignToTableSchema(df: DataFrame): DataFrame = dataSchema match {
    case None => df
    case Some(ts) =>
      var out = df
      ts.fields.foreach { f =>
        if (!out.columns.contains(f.name))
          out = out.withColumn(f.name, lit(null).cast(f.dataType))
        else {
          val inDt = df.schema(f.name).dataType
          if (inDt != f.dataType &&
              (SchemaEvolution.containsStruct(f.dataType) ||
                SchemaEvolution.containsStruct(inDt))) {
            val merged = SchemaEvolution.mergeEvolvedType(f.name, f.dataType, inDt)
            out = out.withColumn(f.name,
              SchemaEvolution.evolveColumn(col(s"`${f.name}`"), inDt, merged))
          }
        }
      }
      val newCols = df.columns.filterNot(c => ts.fieldNames.contains(c))
      out.select((ts.fieldNames ++ newCols).toIndexedSeq.map(col): _*)
  }

  /** Average record size from recent commit stats (reference
    * UpsertPartitioner.averageBytesPerRecord, HoodieCompactionConfig:220).
    */
  def avgRecordSize: Long = {
    val stats = timeline.completedDataInstants().reverse.take(5)
      .map(i => CommitMetadata.fromJson(timeline.readContent(i)))
      .flatMap(_.writeStats)
      .filterNot(_.isDelta)
    val (bytes, recs) = (stats.map(_.fileSizeInBytes).sum, stats.map(_.numWrites).sum)
    if (recs > 100) math.max(1L, bytes / recs)
    else cfg.propLong(ConfigKeys.RecordSizeEstimate, ConfigKeys.DefaultRecordSize)
  }

  // ------------------------------------------------------------ write ops

  /** Initial/large load: sized file groups, no index lookup (reference
    * SparkRDDWriteClient.bulkInsert :223-243). `sortMode` mirrors the
    * reference's bulk-insert sort modes (execution/bulkinsert package):
    * GLOBAL_SORT (range-partition + sort — clustered layout, best
    * key-range file skipping), PARTITION_SORT (hash-partition, sort within
    * tasks — cheaper shuffle, still locally ordered), NONE (hash-partition
    * only — fastest load, no layout guarantees).
    */
  def bulkInsert(df: DataFrame, sortMode: String = SortMode.GlobalSort,
      zorderColumns: Seq[String] = Seq.empty, hilbert: Boolean = false,
      extraMetadata: Map[String, String] = Map.empty): String = {
    enforceConstraints(df, "bulk_insert")
    require(sortMode != SortMode.SpatialCurve || zorderColumns.nonEmpty,
      "SPATIAL_CURVE bulk_insert needs zorderColumns")
    require(sortMode != SortMode.SpatialCurve || !BucketIndex.enabled(cfg),
      "SPATIAL_CURVE is incompatible with BUCKET layouts (hash routing " +
        "fixes the file grouping)")
    runCommit(commitAction, "bulk_insert", extraMetadata) { instant =>
    val keyed = KeyGen.withKeyColumns(alignToTableSchema(df), cfg)
    val targetBytes = math.max(1L,
      keyed.queryExecution.optimizedPlan.stats.sizeInBytes.toLong / 3) // in-mem est. ≈ 3x parquet
    // Size-driven file count, but floored so a load smaller than one target
    // file still fans out across the cluster instead of funneling the whole
    // write through one task (file-size targets govern at scale; parallelism
    // governs below it).
    val sizeFiles = math.ceil(targetBytes.toDouble / maxFileSize).toInt
    // 128 KB per task floor: a load under one target file still spreads
    // across the cluster (a 2 MB load serialized through one task wastes
    // the cluster; at real scale sizeFiles >> parallelism and governs)
    val parFloor = math.min(spark.sparkContext.defaultParallelism,
      math.ceil(targetBytes / (128.0 * 1024)).toInt)
    val numFiles = math.max(1, math.max(sizeFiles, parFloor))
    val prefix = newFileIdPrefix()
    // fileId embeds a partition-path hash: a spark partition straddling two
    // partition paths must not share one file-group id across them
    val fileIdExpr = concat(format_string("%05d", spark_partition_id()), lit("-"),
      substring(md5(col(MetaCols.PartitionPath)), 1, 6), lit("-" + prefix))
    // BUCKET layout: rows route to their bucket's stable group id, one
    // task per (partition, bucket) so each group writes one file. A
    // non-empty table refuses — writing base v2 of an existing bucket
    // would SHADOW its rows (bulk_insert has no merge pass); use
    // insert/upsert to grow a bucketed table.
    if (BucketIndex.enabled(cfg)) {
      require(view.fileSlices(None).isEmpty,
        "bulk_insert on a non-empty BUCKET table would shadow existing " +
          "rows; use insert or upsert")
      val routed0 = bucketTag(keyed)
        .repartition(col(MetaCols.PartitionPath), col(FileIdCol))
      val routed =
        if (sortMode == SortMode.NoSort) routed0
        else routed0.sortWithinPartitions(
          col(MetaCols.PartitionPath), col(FileIdCol), col(MetaCols.RecordKey))
      val stats = writeFiles(spark, basePath,
        withCommitMeta(routed, instant, isDelta = false, baseFormat = cfg.baseFormat),
        instant, isDelta = false, alreadyPartitioned = true,
        baseFormat = cfg.baseFormat, dict = dictStats)
      (stats, Map.empty[String, Seq[String]], schemaJsonFor(keyed))
    } else {
    val ranged = sortMode match {
      case SortMode.GlobalSort =>
        keyed.repartitionByRange(numFiles, col(MetaCols.PartitionPath), col(MetaCols.RecordKey))
          .withColumn(FileIdCol, fileIdExpr)
          .sortWithinPartitions(col(MetaCols.PartitionPath), col(MetaCols.RecordKey))
      case SortMode.PartitionSort =>
        keyed.repartition(numFiles, col(MetaCols.PartitionPath))
          .withColumn(FileIdCol, fileIdExpr)
          .sortWithinPartitions(col(MetaCols.PartitionPath), col(MetaCols.RecordKey))
      case SortMode.NoSort =>
        keyed.repartition(numFiles)
          .withColumn(FileIdCol, fileIdExpr)
      // initial load already laid out on a space-filling curve: every
      // zorder column gets tight per-file [min,max] ranges from day one,
      // so multi-column filters skip files without a later OPTIMIZE
      // ZORDER rewrite paying a second full-table pass
      case SortMode.SpatialCurve =>
        ZOrder.withCurveColumn(keyed, zorderColumns, hilbert)
          .repartitionByRange(numFiles, col(MetaCols.PartitionPath), col(ZOrder.ZCol))
          .withColumn(FileIdCol, fileIdExpr)
          .sortWithinPartitions(col(MetaCols.PartitionPath), col(ZOrder.ZCol))
          .drop(ZOrder.ZCol)
      case other => throw new IllegalArgumentException(s"unknown sort mode '$other'")
    }
    val stats = writeFiles(spark, basePath,
      withCommitMeta(ranged, instant, isDelta = false, baseFormat = cfg.baseFormat),
      instant, isDelta = false, alreadyPartitioned = true,
      baseFormat = cfg.baseFormat, dict = dictStats)
    (stats, Map.empty[String, Seq[String]], schemaJsonFor(keyed))
    }
    }
  }

  /** Insert without combine-with-storage; still packs small files
    * (reference SparkRDDWriteClient.insert :172-178).
    */
  def insert(df: DataFrame, dropDups: Boolean = false,
      extraMetadata: Map[String, String] = Map.empty): String = {
    enforceConstraints(df, "insert")
    runCommit(commitAction, "insert", extraMetadata) { instant =>
      val keyed = KeyGen.withKeyColumns(alignToTableSchema(df), cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val input = if (dropDups) antiJoinExisting(keyed) else keyed
        val (routed, touched) = assignInsertBucketsWithIds(
          input.withColumn(FileIdCol, lit(null).cast("string")))
        writeMerged(routed, instant, knownTouched = Some(touched))
      } finally keyed.unpersist()
    }
  }

  /** [[insert]] without the small-file top-up: every row lands in a fresh
    * file group, so no existing file is rewritten. For insert-only tables
    * that bound their own file count (the dedup posting index merges its
    * files by size tier).
    */
  private[graft] def insertFresh(df: DataFrame): String = {
    require(!BucketIndex.enabled(cfg), "BUCKET layouts route inserts to their bucket's group")
    enforceConstraints(df, "insert")
    runCommit(commitAction, "insert") { instant =>
      val (routed, _) = assignInsertBucketsFresh(KeyGen.withKeyColumns(alignToTableSchema(df), cfg))
      // fresh ids only: no live group is read back or rewritten
      writeMerged(routed, instant, knownTouched = Some(Set.empty))
    }
  }

  /** Upsert: batch precombine-dedup → index tag → route → per-group merge
    * (reference SparkRDDWriteClient.upsert :149-159 and the §2.2 pipeline).
    */
  def upsert(df: DataFrame, extraMetadata: Map[String, String] = Map.empty): String = {
    requireKeyed("upsert")
    enforceConstraints(df, "upsert")
    // delete-marker convention (reference OverwriteWithLatestAvroPayload
    // .isDeleteRecord — a boolean `_hoodie_is_deleted` field in the
    // incoming data): marker-true rows tombstone their record in the SAME
    // commit the rest of the batch upserts. Null/absent marker = upsert.
    // Marker batches route through the CDC mixed path (no global-index
    // partition migration — a marked row deletes in place, like the
    // reference, where the payload decides after tagging).
    val input =
      if (df.columns.contains(MetaCols.DeleteFlag))
        Some(df.withColumn(MetaCols.DeleteFlag,
          coalesce(col(MetaCols.DeleteFlag).cast("boolean"), lit(false))))
      else None
    // a partition-EVOLVED table's stored partition can't be recomputed
    // from the row, so key-addressed writes tag globally (and migrate)
    if (partitionEvolved)
      runCommit(commitAction, "upsert", extraMetadata)(
        globalMixedBody(input.getOrElse(df)))
    else input match {
      case Some(marked) =>
        runCommit(commitAction, "upsert", extraMetadata)(mixedWriteBody(marked))
      case None =>
        runCommit(commitAction, "upsert", extraMetadata)(upsertBody(df))
    }
  }

  /** True once [[alterPartitionExpr]] ran: stored partition values may
    * disagree with the current expression, so per-partition index tagging
    * is unsound and key-addressed writes must tag globally.
    */
  private def partitionEvolved: Boolean =
    cfg.prop(ConfigKeys.PartitionEvolved, "false") == "true"

  /** Key-addressed operations need real record keys; a keyless table's
    * uuid keys (reference UuidKeyGenerator) never match anything, so
    * refusing beats silently degrading to append/no-op.
    */
  private def requireKeyed(op: String): Unit =
    require(cfg.recordKeyFields.nonEmpty,
      s"$op needs record keys; this table is keyless (uuid record keys) — " +
        "use insert/bulk_insert, or filter-addressed SQL UPDATE/DELETE")

  /** Optimistic-concurrency upsert (reference TransactionManager +
    * SimpleConcurrentFileWritesConflictResolutionStrategy.java:44-85):
    * the expensive tag/route/write work runs WITHOUT the table lock; only
    * instant allocation and the conflict-check + publish serialize.
    * Throws [[WriteConflictException]] when a commit that completed after
    * this writer's read point touched any of the same file groups —
    * callers retry.
    */
  def upsertOptimistic(df: DataFrame): String = {
    requireKeyed("upsertOptimistic")
    enforceConstraints(df, "upsert")
    runCommit(commitAction, "upsert", optimistic = true)(
      if (partitionEvolved) globalMixedBody(df) else upsertBody(df))
  }

  private def upsertBody(df: DataFrame)(instant: String)
      : (Seq[WriteStat], Map[String, Seq[String]], String) = {
    // persist the keyed batch AND the tagged join: tagging, profiling,
    // routing and the write each launch a job, and without the caches the
    // source scan + index join would re-run per job (the reference
    // persists at the same point —
    // BaseSparkCommitActionExecutor.java:115-120).
    // COW skips the standalone precombine window: writeMerged's fused
    // dedup (same precombine-then-seqno ordering) collapses within-batch
    // duplicates in the write shuffle itself, one exchange cheaper. MOR
    // must dedup up front or duplicate rows would persist into delta files.
    val keyed = maybePrecombine(KeyGen.withKeyColumns(alignToTableSchema(df), cfg))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tagged = tagLocation(keyed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cfg.isMor) morWrite(tagged, instant)
      else {
        val (routed, touched) = assignInsertBucketsWithIds(tagged)
        writeMerged(routed, instant, knownTouched = Some(touched))
      }
    } finally { tagged.unpersist(); keyed.unpersist() }
  }

  /** GLOBAL-index upsert (reference SparkHoodieGlobalSimpleIndex.java
    * :62-120 with `hoodie.simple.index.update.partition.path=true`): keys
    * are unique across the WHOLE table, and an incoming row whose
    * partition value changed migrates the record — tombstone in the old
    * partition + insert in the new one, atomically in one commit.
    */
  def upsertGlobal(df: DataFrame): String = {
    requireKeyed("upsertGlobal")
    enforceConstraints(df, "upsert_global")
    runCommit(commitAction, "upsert_global")(globalMixedBody(df))
  }

  /** Global-tagged mixed upsert+delete, one commit: rows join existing
    * locations by record key ALONE (whole-table uniqueness), migrating
    * records whose partition value changed and honoring an optional
    * incoming tombstone flag. Shared by [[upsertGlobal]] and every
    * key-addressed write on a partition-EVOLVED table, where the stored
    * partition can no longer be recomputed from the row.
    */
  private def globalMixedBody(df: DataFrame)(instant: String)
      : (Seq[WriteStat], Map[String, Seq[String]], String) = {
    import org.apache.spark.sql.expressions.Window
    val flagged = if (df.columns.contains(DeleteCol)) df
      else df.withColumn(DeleteCol, lit(false))
    val keyed0 = KeyGen.withKeyColumns(alignToTableSchema(flagged), cfg)
    // global precombine: one winner per record key across partitions
    val keyed = (if (cfg.precombineField.isEmpty) keyed0.dropDuplicates(MetaCols.RecordKey)
      else {
        val w = Window.partitionBy(col(MetaCols.RecordKey)).orderBy(col(cfg.precombineField).desc)
        keyed0.withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") === 1).drop("_graft_rn")
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // global tag: join on record key only, against every partition (with
    // GLOBAL_BLOOM probe-pruning of the candidate files when enabled)
    val existing = existingKeys(None, None, bloomProbe = Some(keyed), bloomGlobal = true)
      .withColumnRenamed(MetaCols.PartitionPath, "_g_old_part")
      .withColumnRenamed(FileIdCol, "_g_old_fid")
    val joined = keyed.join(existing, Seq(MetaCols.RecordKey), "left_outer")
      // a delete for an ABSENT key is a no-op, never an insert
      .filter(col("_g_old_part").isNotNull || !col(DeleteCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stay = joined
        .filter(col("_g_old_part").isNull || col("_g_old_part") === col(MetaCols.PartitionPath))
        .withColumn(FileIdCol,
          when(col("_g_old_part") === col(MetaCols.PartitionPath), col("_g_old_fid")))
      val moved = joined
        .filter(col("_g_old_part").isNotNull && col("_g_old_part") =!= col(MetaCols.PartitionPath))
      // a moved row that is itself a delete only tombstones the old copy
      val movedInserts = moved.filter(!col(DeleteCol))
        .withColumn(FileIdCol, lit(null).cast("string"))
      val tombstones = moved
        .withColumn(MetaCols.PartitionPath, col("_g_old_part"))
        .withColumn(FileIdCol, col("_g_old_fid"))
        .withColumn(DeleteCol, lit(true))
      val all = stay.unionByName(movedInserts).unionByName(tombstones)
        .drop("_g_old_part", "_g_old_fid")
      if (cfg.isMor) morWrite(all, instant)
      else {
        val (routed, touched) = assignInsertBucketsWithIds(all)
        writeMerged(routed, instant, knownTouched = Some(touched))
      }
    } finally { joined.unpersist(); keyed.unpersist() }
  }

  /** Delete by key: incoming rows only need the record-key (and partition
    * source) fields; they become tombstones that win the merge and drop the
    * row (reference SparkDeleteHelper.java — EmptyHoodieRecordPayload).
    */
  def delete(df: DataFrame): String = {
    requireKeyed("delete")
    // evolved layout: the key's stored partition is unknowable from the
    // row — locate it globally
    if (partitionEvolved) return deleteGlobal(df)
    runCommit(commitAction, "delete") { instant =>
    val keyed = maybePrecombine(KeyGen.withKeyColumns(alignToTableSchema(df), cfg)
        .withColumn(DeleteCol, lit(true)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tagged = tagLocation(keyed)
      .filter(col(FileIdCol).isNotNull) // deleting a missing key is a no-op
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cfg.isMor) morWrite(tagged, instant, allDeletes = true)
      else writeMerged(tagged, instant)
    } finally { tagged.unpersist(); keyed.unpersist() }
    }
  }

  /** Apply a CDC batch in ONE commit (reference AWSDmsTransformer, which
    * maps a change-op column onto the delete payload): rows whose `opCol`
    * is D/DELETE tombstone the record, everything else upserts. Deletes
    * for keys the table doesn't hold are no-ops.
    */
  def applyCdc(df: DataFrame, opCol: String = "Op",
      extraMetadata: Map[String, String] = Map.empty): String = {
    // a keyless destination would give CDC rows uuid keys: deletes
    // silently no-op and update images pile up as duplicates
    requireKeyed("applyCdc")
    // constraints see only the rows that land (delete images are removals)
    enforceConstraints(df.filter(
      !upper(coalesce(col(opCol).cast("string"), lit(""))).isin("D", "DELETE")),
      "cdc_apply")
    runCommit(commitAction, "cdc_apply", extraMetadata) { instant =>
      val isDel = upper(coalesce(col(opCol).cast("string"), lit(""))).isin("D", "DELETE")
      val flagged = df.withColumn(DeleteCol, isDel).drop(opCol)
      if (partitionEvolved) globalMixedBody(flagged)(instant)
      else mixedWriteBody(flagged)(instant)
    }
  }

  /** One-commit mixed upsert+delete: the batch already carries the
    * internal tombstone flag. Shared by [[applyCdc]] (op-column CDC) and
    * the delete-marker upsert path.
    */
  private def mixedWriteBody(dfWithFlag: DataFrame)(instant: String)
      : (Seq[WriteStat], Map[String, Seq[String]], String) = {
    val keyed = maybePrecombine(KeyGen.withKeyColumns(
        alignToTableSchema(dfWithFlag), cfg))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tagged = tagLocation(keyed)
      // a delete for an absent key must not become an insert row
      .filter(col(FileIdCol).isNotNull || !col(DeleteCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cfg.isMor) morWrite(tagged, instant)
      else {
        val (routed, touched) = assignInsertBucketsWithIds(tagged)
        writeMerged(routed, instant, knownTouched = Some(touched))
      }
    } finally { tagged.unpersist(); keyed.unpersist() }
  }

  /** Replace all file groups of the partitions the batch touches
    * (reference SparkInsertOverwriteCommitActionExecutor — replacecommit).
    * `replaceScope` adds partitions to replace even when the batch writes
    * no rows into them — SQL static `INSERT OVERWRITE ... PARTITION
    * (p='a')` must empty partition 'a' even for an empty SELECT, so the
    * statement's partition predicate lands here, not just the batch's
    * touched set.
    */
  def insertOverwrite(df: DataFrame, extraMetadata: Map[String, String] = Map.empty,
      replaceScope: Set[String] = Set.empty): String = {
    enforceConstraints(df, "insert_overwrite")
    runCommit(Action.ReplaceCommit, "insert_overwrite", extraMetadata) { instant =>
      val keyed = KeyGen.withKeyColumns(alignToTableSchema(df), cfg)
      // ONE profile job yields both the touched-partition set and the
      // per-partition counts that size the fresh file groups — the
      // separate distinct() pass this fuses away was a second full scan
      // of the batch per overwrite commit (BUCKET routing is row-local
      // and profile-free, so that branch keeps the distinct)
      val (routed, batchParts) =
        if (BucketIndex.enabled(cfg))
          (bucketTag(keyed), staticPlan(
            keyed.select(MetaCols.PartitionPath).distinct()).collect()
            .map(_.getString(0)).toSet)
        else {
          val profile = staticPlan(
            keyed.groupBy(MetaCols.PartitionPath).count()).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          (assignFreshWithProfile(keyed, profile), profile.keySet)
        }
      val touched = batchParts ++ replaceScope
      val stats = writeFiles(spark, basePath,
        withCommitMeta(routed, instant, isDelta = false, baseFormat = cfg.baseFormat),
        instant, isDelta = false, baseFormat = cfg.baseFormat, dict = dictStats)
      // BUCKET layout reuses stable group ids: a rewritten bucket's new
      // base SHADOWS the old one (same group, newer instant) and must NOT
      // be listed as replaced — only old groups this overwrite did not
      // rewrite die. Fresh-id layouts never collide, so the written-id
      // subtraction is a no-op there.
      val written = stats.map(s => (s.partitionPath, s.fileId)).toSet
      val replaced = view.fileSlices(None)
        .filter(s => touched.contains(s.partitionPath))
        .filterNot(s => written.contains((s.partitionPath, s.fileId)))
        .groupBy(_.partitionPath).map { case (p, ss) => p -> ss.map(_.fileId) }
      (stats, replaced, schemaJsonFor(keyed))
    }
  }

  /** Replace every live file group (reference
    * SparkInsertOverwriteTableCommitActionExecutor).
    */
  def insertOverwriteTable(df: DataFrame,
      extraMetadata: Map[String, String] = Map.empty): String = {
    enforceConstraints(df, "insert_overwrite_table")
    runCommit(Action.ReplaceCommit, "insert_overwrite_table", extraMetadata) { instant =>
      val keyed = KeyGen.withKeyColumns(alignToTableSchema(df), cfg)
      val routed = assignFreshBuckets(keyed)
      val stats = writeFiles(spark, basePath,
        withCommitMeta(routed, instant, isDelta = false, baseFormat = cfg.baseFormat),
        instant, isDelta = false, baseFormat = cfg.baseFormat, dict = dictStats)
      // see insertOverwrite: bucket layouts shadow rewritten group ids
      val written = stats.map(s => (s.partitionPath, s.fileId)).toSet
      val replaced = view.fileSlices(None)
        .filterNot(s => written.contains((s.partitionPath, s.fileId)))
        .groupBy(_.partitionPath).map { case (p, ss) => p -> ss.map(_.fileId) }
      (stats, replaced, schemaJsonFor(keyed))
    }
  }

  /** BUCKET-layout rescale: re-route EVERY live row to `bkt<hash mod
    * newBuckets>` in one replacecommit, then flip the persisted bucket
    * count. The capability the reference line's fixed-bucket index lacks
    * (its consistent-hashing successor exists for exactly this); here the
    * offline form — a full rewrite, priced like insert_overwrite_table —
    * keeps the mod-N routing's zero-IO tagging while letting a table
    * outgrow its creation-time count.
    *
    * Layout semantics mirror clustering, not a fresh write: per-row meta
    * columns (commit time/seqno) are PRESERVED, so time travel and
    * incremental reads see a layout change, not new data. Bucket ids both
    * layouts share (growth: bkt0..old-1) shadow their old generation;
    * ids only the old layout had (shrink) are replaced and die; target
    * ids no row hashes to simply don't exist yet and open on first write.
    *
    * Crash safety: the commit and the config flip cannot be one atomic
    * step, so a `rescale.pending` marker (target + timeline watermark)
    * lands first and [[GraftTable.load]] heals the gap — if the marked
    * replacecommit published but the config never flipped, load flips it;
    * if the commit never published, load just clears the marker (failed-
    * writes reaping owns the files). The body runs under the table lock,
    * and the config flips before the lock-free postlude returns.
    */
  def rescaleBuckets(newBuckets: Int): GraftTable = {
    require(BucketIndex.enabled(cfg),
      "rescaleBuckets requires graft.index.type=BUCKET")
    require(!ConsistentBuckets.enabled(cfg),
      "rescaleBuckets is the FIXED bucket engine's full-rewrite path; " +
        "CONSISTENT tables grow by splitBucket / splitHotBuckets instead")
    require(newBuckets > 0, s"bucket count must be positive, got $newBuckets")
    val old = BucketIndex.numBuckets(cfg)
    require(newBuckets != old, s"table already has $old buckets")
    val marker = GraftTable.rescaleMarker(basePath)
    Storage.writeString(marker, Json.write(GraftTable.RescalePending(
      newBuckets, timeline.completedInstants().lastOption.map(_.ts).getOrElse("0"))))
    runCommit(Action.ReplaceCommit, "rescale_buckets",
        Map(GraftTable.RescaleTargetKey -> newBuckets.toString,
          GraftTable.RescaleFromKey -> old.toString)) { instant =>
      val snap = graft.read.Readers.snapshot(this)
      val routed = snap
        .withColumn(FileIdCol,
          BucketIndex.fileIdColFor(newBuckets, col(MetaCols.RecordKey)))
        .withColumn(MetaCols.FileName,
          fileNameCol(instant, cfg.baseFormat))
      val stats = writeFiles(spark, basePath, routed, instant,
        isDelta = false, baseFormat = cfg.baseFormat, dict = dictStats)
      val written = stats.map(s => (s.partitionPath, s.fileId)).toSet
      val replaced = view.fileSlices(None)
        .filterNot(s => written.contains((s.partitionPath, s.fileId)))
        .groupBy(_.partitionPath).map { case (p, ss) => p -> ss.map(_.fileId) }
      (stats, replaced, latestSchema.map(_.json).getOrElse(""))
    }
    val updated = cfg.copy(props =
      cfg.props + (ConfigKeys.BucketIndexNumBuckets -> newBuckets.toString))
    TableConfig.save(basePath, updated)
    Storage.deleteIfExists(marker)
    new GraftTable(spark, basePath, updated)
  }

  /** CONSISTENT-engine bucket SPLIT: rewrite ONE live bucket group's rows
    * into its two children (`hash mod 2^(d+1)`) in a single
    * replacecommit — capacity management that stays O(hot bucket) where
    * [[rescaleBuckets]] rewrites the whole table (reference
    * hudi-client-common/.../bucket/ConsistentBucketIdentifier.java
    * splitBucket; its clustering-driven resizing rewrites only the
    * affected buckets for the same reason). Layout semantics match
    * rescale/clustering: per-row meta columns are preserved, so
    * incremental/CDC readers see a layout change, not new data. The
    * commit's extras carry (partition, parent), which IS the split's
    * authoritative record — covers replay from the timeline; the
    * `bucket_covers.json` cache refresh below is best-effort (a crash
    * before it heals via catch-up). A child no rows hash to opens lazily
    * on first write, like any bucket group.
    */
  def splitBucket(partition: String, fileId: String): String = {
    require(ConsistentBuckets.enabled(cfg),
      "splitBucket requires graft.index.bucket.engine=CONSISTENT")
    val node = ConsistentBuckets.Node.parse(fileId).getOrElse(
      throw new IllegalArgumentException(s"not a consistent bucket id: $fileId"))
    require(node.d < ConsistentBuckets.MaxDepth,
      s"$fileId is at the split depth cap (${ConsistentBuckets.MaxDepth})")
    val ts = runCommit(Action.ReplaceCommit, ConsistentBuckets.OpSplit,
        Map(ConsistentBuckets.PartitionKey -> partition,
          ConsistentBuckets.ParentKey -> fileId)) { instant =>
      val st = ConsistentBuckets.state(this)
      require(st.coverFor(cfg, partition).contains(node),
        s"$fileId is not in partition '$partition''s current cover")
      require(view.fileSlices(None)
          .exists(s => s.partitionPath == partition && s.fileId == fileId),
        s"$fileId has no live file group in '$partition' — nothing to split")
      val (a, b) = node.children
      val routed = graft.read.Readers.snapshotGroups(this, Set((partition, fileId)))
        .withColumn(FileIdCol,
          when(pmod(abs(xxhash64(col(MetaCols.RecordKey))),
            lit(1L << (node.d + 1))) === lit(node.v), lit(a.fileId))
            .otherwise(lit(b.fileId)))
        .withColumn(MetaCols.FileName,
          fileNameCol(instant, cfg.baseFormat))
      val stats = writeFiles(spark, basePath, routed, instant,
        isDelta = false, baseFormat = cfg.baseFormat, dict = dictStats)
      (stats, Map(partition -> Seq(fileId)), latestSchema.map(_.json).getOrElse(""))
    }
    ConsistentBuckets.saveState(basePath, ConsistentBuckets.state(this))
    ts
  }

  /** CONSISTENT-engine bucket MERGE: rewrite two cold sibling children
    * back into their REVIVED parent id (replacement history makes the
    * revived generation visible) — the shrink direction of
    * [[splitBucket]], same one-replacecommit / meta-preserving
    * discipline. Children with no live files contribute no rows; merging
    * two empty children is a pure cover change.
    */
  def mergeBuckets(partition: String, parentFileId: String): String = {
    require(ConsistentBuckets.enabled(cfg),
      "mergeBuckets requires graft.index.bucket.engine=CONSISTENT")
    val parent = ConsistentBuckets.Node.parse(parentFileId).getOrElse(
      throw new IllegalArgumentException(s"not a consistent bucket id: $parentFileId"))
    val ts = runCommit(Action.ReplaceCommit, ConsistentBuckets.OpMerge,
        Map(ConsistentBuckets.PartitionKey -> partition,
          ConsistentBuckets.ParentKey -> parentFileId)) { instant =>
      val st = ConsistentBuckets.state(this)
      val cover = st.coverFor(cfg, partition)
      val (a, b) = parent.children
      require(cover.contains(a) && cover.contains(b),
        s"both children of $parentFileId must be in partition " +
          s"'$partition''s current cover to merge")
      val live = view.fileSlices(None).filter(s =>
        s.partitionPath == partition &&
          (s.fileId == a.fileId || s.fileId == b.fileId))
      val stats =
        if (live.isEmpty) Seq.empty[WriteStat]
        else {
          val routed = graft.read.Readers.snapshotGroups(this,
              live.map(s => (partition, s.fileId)).toSet)
            .withColumn(FileIdCol, lit(parentFileId))
            .withColumn(MetaCols.FileName,
              fileNameCol(instant, cfg.baseFormat))
          writeFiles(spark, basePath, routed, instant,
            isDelta = false, baseFormat = cfg.baseFormat, dict = dictStats)
        }
      val replaced =
        if (live.isEmpty) Map.empty[String, Seq[String]]
        else Map(partition -> live.map(_.fileId).distinct)
      (stats, replaced, latestSchema.map(_.json).getOrElse(""))
    }
    ConsistentBuckets.saveState(basePath, ConsistentBuckets.state(this))
    ts
  }

  /** Evolve the partition LAYOUT (beyond the reference — Iceberg-style
    * partition-spec evolution for a Hudi-shaped table): subsequent writes
    * compute partition paths from `newExpr`; existing data stays under
    * its old directories, fully readable and partition-prunable (the
    * partition value rides in commit metadata per file and is never
    * re-derived from rows). Records migrate LAZILY: key-addressed writes
    * on an evolved table tag globally, so an upsert touching a row whose
    * recomputed partition differs tombstones the old copy and inserts
    * the new one in the same commit. The audit commit carries old/new
    * expressions; the persisted config flips only after it publishes
    * (crash-safe, same discipline as [[rescaleBuckets]]), and stale
    * handles are refused at their next commit. Returns the re-loaded
    * handle — the receiver keeps the old expression.
    */
  def alterPartitionExpr(newExpr: String): GraftTable = {
    require(newExpr != cfg.partitionPathExpr,
      s"partition expression is already '$newExpr'")
    // the new expression must resolve against the table schema now, not
    // at first write (analysis-only probe)
    if (newExpr.nonEmpty) dataSchema.foreach { s =>
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s)
      probe.select(expr(newExpr))
    }
    runCommit(commitAction, "alter_partition", Map(
      GraftTable.PartitionExprOldKey -> cfg.partitionPathExpr,
      GraftTable.PartitionExprNewKey -> newExpr)) { _ =>
      (Seq.empty, Map.empty, latestSchema.map(_.json).getOrElse(""))
    }
    val updated = cfg.copy(partitionPathExpr = newExpr,
      props = cfg.props + (ConfigKeys.PartitionEvolved -> "true"))
    TableConfig.save(basePath, updated)
    new GraftTable(spark, basePath, updated)
  }

  /** Logically drop whole partitions via replacecommit
    * (reference SparkRDDWriteClient.deletePartitions :255-259).
    */
  def deletePartitions(partitions: Seq[String]): String =
    runCommit(Action.ReplaceCommit, "delete_partition") { _ =>
      val parts = partitions.toSet
      val replaced = view.fileSlices(None)
        .filter(s => parts.contains(s.partitionPath))
        .groupBy(_.partitionPath).map { case (p, ss) => p -> ss.map(_.fileId) }
      (Seq.empty, replaced, latestSchema.map(_.json).getOrElse(""))
    }

  /** ANSI MERGE INTO builder (reference MergeIntoHoodieTableCommand). */
  def mergeInto(source: DataFrame): MergeInto = new MergeInto(this, source)

  /** SQL UPDATE analog: read-filter-assign-rewrite (reference
    * UpdateHoodieTableCommand). Rows carry their file location from the
    * snapshot scan, so no index join is needed.
    *
    * COW runs two passes: a pruned probe (predicate pushdown + column
    * stats skipping find the file groups with matching rows — most groups
    * are never opened) then a full read of ONLY those groups, assignments
    * applied in place, complete-group rewrite with no dedup. MOR appends
    * just the changed rows as deltas instead (subset path).
    */
  def update(condition: String, set: Map[String, String]): String = {
    // dotted keys assign NESTED struct fields (`meta.pri`): validated
    // against the schema and applied via withField — sibling fields keep
    // their values, a NULL struct stays NULL (ANSI semantics). A dotted
    // key over a missing path refuses named instead of silently no-oping.
    val (topSet, nestedSet) = SchemaEvolution.splitAssignments(
      dataSchema.getOrElse(StructType(Nil)), set)
    // the assigned value for column c, or None when this UPDATE leaves it
    def assignFor(c: String, base: Column): Option[Column] =
      (topSet.get(c), nestedSet.get(c)) match {
        case (None, None) => None
        case (direct, nested) =>
          val start = direct.map(expr).getOrElse(base)
          Some(nested.map(SchemaEvolution.applyNestedAssignments(start, _, expr))
            .getOrElse(start))
      }
    if (cfg.isMor) {
      val snap = graft.read.Readers.snapshot(this).filter(expr(condition))
      val dataCols = snap.columns.filterNot(c => MetaCols.All.contains(c)).toSeq
      val assigned = dataCols.foldLeft(snap) { (df, c) =>
        assignFor(c, col(s"`$c`")).map(df.withColumn(c, _)).getOrElse(df)
      }
      val resolved = assigned.select(
        (Seq(col(MetaCols.RecordKey), col(MetaCols.PartitionPath),
          substring_index(col(MetaCols.FileName), "_", 1).as(FileIdCol),
          lit(false).as(DeleteCol)) ++ dataCols.map(col)): _*)
      writeResolved(resolved, "update")
    } else {
      val cond = coalesce(expr(condition), lit(false))
      val rows = readTouchedGroups(expr(condition))
      val dataCols = rows.columns.filterNot(c => MetaCols.All.contains(c)).toSeq
      val resolved = rows.select(
        (Seq(
          when(cond, lit(null)).otherwise(col(MetaCols.CommitTime)).as(MetaCols.CommitTime),
          when(cond, lit(null)).otherwise(col(MetaCols.CommitSeqno)).as(MetaCols.CommitSeqno),
          col(MetaCols.RecordKey), col(MetaCols.PartitionPath),
          substring_index(col(MetaCols.FileName), "_", 1).as(FileIdCol),
          lit(false).as(DeleteCol), cond.as(ModifiedCol)) ++
          dataCols.map(c => assignFor(c, col(s"`$c`"))
            .map(a => when(cond, a.cast(rows.schema(c).dataType)).otherwise(col(s"`$c`")))
            .getOrElse(col(s"`$c`")).as(c))): _*)
      writeCompleteGroups(resolved, "update")
    }
  }

  /** SQL DELETE analog (reference DeleteHoodieTableCommand). Same pruned
    * two-pass complete-group shape as [[update]] on COW.
    */
  def deleteWhere(condition: String): String = {
    if (cfg.isMor) {
      val snap = graft.read.Readers.snapshot(this).filter(expr(condition))
      val dataCols = snap.columns.filterNot(c => MetaCols.All.contains(c)).toSeq
      val resolved = snap.select(
        (Seq(col(MetaCols.RecordKey), col(MetaCols.PartitionPath),
          substring_index(col(MetaCols.FileName), "_", 1).as(FileIdCol),
          lit(true).as(DeleteCol)) ++ dataCols.map(col)): _*)
      writeResolved(resolved, "delete")
    } else {
      val cond = coalesce(expr(condition), lit(false))
      val rows = readTouchedGroups(expr(condition))
      val dataCols = rows.columns.filterNot(c => MetaCols.All.contains(c)).toSeq
      val resolved = rows.select(
        (Seq(col(MetaCols.CommitTime), col(MetaCols.CommitSeqno),
          col(MetaCols.RecordKey), col(MetaCols.PartitionPath),
          substring_index(col(MetaCols.FileName), "_", 1).as(FileIdCol),
          cond.as(DeleteCol), cond.as(ModifiedCol)) ++ dataCols.map(col)): _*)
      writeCompleteGroups(resolved, "delete")
    }
  }

  /** Pruned probe + full read of only the file groups holding rows that
    * match `cond` — the read side of the COW complete-group DML path.
    */
  private def readTouchedGroups(cond: Column): DataFrame = {
    val snap = graft.read.Readers.snapshot(this)
    val touched = staticPlan(snap.filter(cond)
      .select(substring_index(col(MetaCols.FileName), "_", 1).as(FileIdCol))
      .distinct()).collect().map(_.getString(0)).toSet
    readEntriesRaw(view.fileSlices(None).flatMap(_.baseFile)
      .filter(b => touched.contains(b.fileId)))
  }

  /** Write a batch whose rows are already key'd, located (`_graft_file_id`
    * nullable = insert) and delete-flagged — the entry point for MERGE /
    * UPDATE / DELETE rewrites.
    */
  private[table] def writeResolved(resolved: DataFrame, opType: String): String = {
    // covers MERGE INTO and SQL UPDATE/DELETE: the resolved frame carries
    // the internal tombstone flag, so delete rows are already exempt
    enforceConstraints(resolved, opType)
    runCommit(commitAction, opType) { instant =>
      val cast = dataSchema match {
        case Some(s) =>
          val metaPart = Seq(MetaCols.RecordKey, MetaCols.PartitionPath, FileIdCol, DeleteCol)
          // columns beyond the stored schema are additive evolution
          // (schema-evolving MERGE) — keep them, in batch order
          val extras = resolved.columns.toSeq
            .filterNot(c => metaPart.contains(c) || s.fieldNames.contains(c))
          resolved.select(
            (metaPart.map(col) ++ s.fields.toSeq.map(f =>
              col(f.name).cast(f.dataType).as(f.name)) ++ extras.map(col)): _*)
        case None => resolved
      }
      val cached = cast.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (cfg.isMor) morWrite(cached, instant)
        else {
          val (routed, touched) = assignInsertBucketsWithIds(cached)
          writeMerged(routed, instant, knownTouched = Some(touched))
        }
      } finally cached.unpersist()
    }
  }

  // ---------------------------------------------------- CHECK constraints

  /** Declared CHECK constraints as `(name, boolean SQL expr)` pairs,
    * parsed from [[ConfigKeys.CheckConstraints]] (`name:expr;...` — the
    * split is on each entry's FIRST colon, so expressions may contain
    * colons).
    */
  def checkConstraints: Seq[(String, String)] =
    cfg.prop(ConfigKeys.CheckConstraints, "").split(';').toSeq
      .map(_.trim).filter(_.nonEmpty).map { entry =>
        val i = entry.indexOf(':')
        require(i > 0, s"malformed CHECK constraint entry: $entry")
        (entry.take(i).trim, entry.drop(i + 1).trim)
      }

  /** ANSI table CHECK constraint (reference-plus: the 0.x line has no
    * constraint surface — this is the Delta-invariant analog an ingest
    * pipeline otherwise reimplements as ad-hoc pre-commit validators).
    * Validates the expression against EXISTING rows first (one snapshot
    * aggregation — adding a constraint the data already violates is
    * refused, the ALTER ADD CONSTRAINT contract), persists it in table
    * config, and enforces it on every subsequent write through any entry
    * point. Returns a handle with the updated config (this one keeps the
    * old, like [[rescaleBuckets]]).
    */
  def addCheckConstraint(name: String, exprSql: String): GraftTable = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad constraint name: $name")
    require(!exprSql.contains(";"),
      s"CHECK expression may not contain ';' (the entry separator): $exprSql")
    require(!checkConstraints.exists(_._1 == name),
      s"CHECK constraint $name already exists on ${cfg.tableName}")
    val existing = graft.read.Readers.snapshot(this)
      .filter(!coalesce(expr(exprSql).cast("boolean"), lit(true)))
      .limit(1).count()
    require(existing == 0,
      s"existing rows of ${cfg.tableName} violate CHECK ($exprSql) — clean first")
    val entry = s"$name:$exprSql"
    val cur = cfg.prop(ConfigKeys.CheckConstraints, "")
    val updated = cfg.copy(props = cfg.props +
      (ConfigKeys.CheckConstraints -> (if (cur.isEmpty) entry else s"$cur;$entry")))
    TableConfig.save(basePath, updated)
    new GraftTable(spark, basePath, updated)
  }

  /** Removes a CHECK constraint by name; future writes stop enforcing it. */
  def dropCheckConstraint(name: String): GraftTable = {
    val cs = checkConstraints
    require(cs.exists(_._1 == name),
      s"no CHECK constraint named $name on ${cfg.tableName}")
    val rest = cs.filterNot(_._1 == name)
      .map { case (n, e) => s"$n:$e" }.mkString(";")
    val updated = cfg.copy(props =
      if (rest.isEmpty) cfg.props - ConfigKeys.CheckConstraints
      else cfg.props + (ConfigKeys.CheckConstraints -> rest))
    TableConfig.save(basePath, updated)
    new GraftTable(spark, basePath, updated)
  }

  /** Enforcement: ANSI CHECK semantics — a row passes when the predicate
    * is TRUE or UNKNOWN (null); only FALSE violates. ONE aggregation job
    * over the incoming batch counts violations of every constraint at
    * once (map-side combining — one extra scan per write, nothing at read
    * time), and the whole write refuses BEFORE an instant is requested,
    * so nothing to roll back. Delete-flagged rows are exempt: they remove
    * data, and constraints govern rows that land. Bootstrap adoption is
    * deliberately unchecked (it adopts external files as-is).
    */
  private def enforceConstraints(df: DataFrame, op: String): Unit = {
    val cs = checkConstraints
    if (cs.isEmpty) return
    val rows =
      if (df.columns.contains(MetaCols.DeleteFlag))
        df.filter(!coalesce(col(MetaCols.DeleteFlag).cast("boolean"), lit(false)))
      else df
    val counts = rows.select(cs.map { case (n, e) =>
      sum(when(coalesce(expr(e).cast("boolean"), lit(true)), 0L).otherwise(1L)).as(n)
    }: _*).head()
    val bad = cs.zipWithIndex.collect {
      case ((n, e), i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
        s"$n CHECK ($e): ${counts.getLong(i)} row(s)"
    }
    require(bad.isEmpty,
      s"$op refused — batch violates CHECK constraint(s) on ${cfg.tableName}: " +
        bad.mkString("; "))
  }

  /** ALTER TABLE ADD COLUMNS analog (reference
    * AlterHoodieTableAddColumnsCommand): records the widened schema in a
    * commit with no data files. Readers fill the new columns with null
    * for all existing rows; subsequent writes may populate them.
    *
    * A DOTTED name (`meta.flags`) adds a NESTED field: the terminal
    * struct gains the field (appended last, nullable), routed through the
    * SAME [[SchemaEvolution.mergeEvolvedType]] contract the write path
    * uses — the altered shape must absorb the current one additively, so
    * the commit schema a pre-declared ALTER produces is byte-identical to
    * what a wide batch would have evolved to. Old files typed-null-pad
    * the new field at scan (parquet schema clipping); a stale narrow
    * writer after the ALTER pads instead of regressing the schema.
    */
  def addColumns(cols: Seq[StructField]): String = {
    val current = latestSchema.getOrElse(throw new IllegalStateException(
      "cannot alter a table with no commits"))
    val (nested, top) = cols.partition(_.name.contains("."))
    val dup = top.map(_.name).intersect(current.fieldNames.toSeq)
    require(dup.isEmpty, s"columns already exist: ${dup.mkString(", ")}")
    var schema = StructType(current.fields ++ top.map(_.copy(nullable = true)))
    nested.foreach { nf =>
      val segs = nf.name.split('.').toSeq
      val leaf = segs.last
      schema = rewriteNestedColumn(schema, segs, "add") { (curType, colName) =>
        val altered = SchemaEvolution.rewriteStructAt(colName, curType,
          segs.tail.dropRight(1), { (p, s) =>
            require(!s.fieldNames.contains(leaf), s"field already exists: $p.$leaf")
            StructType(s.fields :+ StructField(leaf, nf.dataType, nullable = true))
          })
        // the write path's merge contract validates additivity and
        // normalizes nested nullability exactly as an evolving batch would
        SchemaEvolution.mergeEvolvedType(colName, altered, curType)
      }
    }
    runCommit(commitAction, "alter_add_columns") { _ =>
      (Seq.empty, Map.empty, schema.json)
    }
  }

  /** Shared scaffolding for nested-path DDL: resolves the root column of
    * a dotted path, guards meta columns, applies `alter` to its type, and
    * splices the result back into the table schema.
    */
  private def rewriteNestedColumn(schema: StructType, segs: Seq[String],
      op: String)(alter: (org.apache.spark.sql.types.DataType, String) => org.apache.spark.sql.types.DataType): StructType = {
    require(segs.length >= 2, s"nested $op needs a dotted path, got ${segs.mkString(".")}")
    val colName = segs.head
    val idx = schema.fieldNames.indexOf(colName)
    require(idx >= 0, s"column not found: $colName")
    require(!MetaCols.All.contains(colName), s"cannot alter meta column $colName")
    val f = schema.fields(idx)
    StructType(schema.fields.updated(idx,
      StructField(colName, alter(f.dataType, colName), nullable = true, f.metadata)))
  }

  /** ALTER TABLE CHANGE COLUMN analog (reference
    * AlterHoodieTableChangeColumnCommand): widen a column's type via a
    * schema-evolution commit with no data files. Only loss-free upcasts are
    * allowed (int→long, float→double, …— `Cast.canUpCast`, the same rule
    * Spark applies for store assignment); existing files keep the narrow
    * physical type and the parquet reader widens at scan time.
    */
  def changeColumn(name: String, newType: org.apache.spark.sql.types.DataType): String = {
    val current = latestSchema.getOrElse(throw new IllegalStateException(
      "cannot alter a table with no commits"))
    if (name.contains(".")) {
      // nested leaf widening: same loss-free rule, applied at the dotted
      // path; [[SchemaEvolution.mergeEvolvedType]] re-validates that the
      // current shape upcasts into the widened one — the exact check the
      // write path would run on a batch already carrying the wide leaf
      val segs = name.split('.').toSeq
      val leaf = segs.last
      val schema = rewriteNestedColumn(current, segs, "change") { (curType, colName) =>
        val altered = SchemaEvolution.rewriteStructAt(colName, curType,
          segs.tail.dropRight(1), { (p, s) =>
            val i = s.fieldNames.indexOf(leaf)
            require(i >= 0, s"no field '$leaf' at '$p' (has: ${s.fieldNames.mkString(", ")})")
            val old = s.fields(i).dataType
            require(old == newType ||
              org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(old, newType),
              s"cannot change $p.$leaf from ${old.simpleString} to " +
                s"${newType.simpleString}: only loss-free widening is supported")
            StructType(s.fields.updated(i, s.fields(i).copy(dataType = newType)))
          })
        SchemaEvolution.mergeEvolvedType(colName, altered, curType)
      }
      return runCommit(commitAction, "alter_change_column") { _ =>
        (Seq.empty, Map.empty, schema.json)
      }
    }
    val idx = current.fieldNames.indexOf(name)
    require(idx >= 0, s"column not found: $name")
    require(!MetaCols.All.contains(name), s"cannot alter meta column $name")
    val oldType = current.fields(idx).dataType
    require(oldType == newType ||
      org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(oldType, newType),
      s"cannot change $name from ${oldType.simpleString} to ${newType.simpleString}: " +
        "only loss-free widening is supported")
    runCommit(commitAction, "alter_change_column") { _ =>
      val fields = current.fields.updated(idx, current.fields(idx).copy(dataType = newType))
      (Seq.empty, Map.empty, StructType(fields).json)
    }
  }

  /** ALTER TABLE DROP COLUMN analog (beyond the reference's 0.x ALTER
    * surface; full schema evolution added it publicly later): a schema
    * commit excluding the column. Data files keep their bytes — reads
    * project the live schema, so the column vanishes at plan time with
    * zero rewrite, and schema-as-of time travel before the drop still
    * shows it. Key, precombine and partition-source columns are load-
    * bearing and refuse to drop.
    */
  def dropColumn(name: String): String = {
    val current = latestSchema.getOrElse(throw new IllegalStateException(
      "cannot alter a table with no commits"))
    if (name.contains(".")) {
      // nested drop is the one deliberately NON-additive schema commit:
      // the terminal struct loses the field, data files keep their bytes,
      // and reads project the narrowed schema (parquet clipping) — same
      // zero-rewrite plan-time vanish as a top-level drop, and time
      // travel before the drop still shows the field. A stale wide
      // writer after the drop re-adds it (the additive write-path merge),
      // mirroring top-level column resurrection semantics.
      val segs = name.split('.').toSeq
      val leaf = segs.last
      require(!cfg.partitionPathExpr.contains(name),
        s"cannot drop partition-source field $name")
      val schema = rewriteNestedColumn(current, segs, "drop") { (curType, colName) =>
        SchemaEvolution.rewriteStructAt(colName, curType,
          segs.tail.dropRight(1), { (p, s) =>
            require(s.fieldNames.contains(leaf),
              s"no field '$leaf' at '$p' (has: ${s.fieldNames.mkString(", ")})")
            require(s.fields.length > 1,
              s"cannot drop '$p.$leaf' — the struct's only field; " +
                s"drop the column '$colName' instead")
            StructType(s.fields.filterNot(_.name == leaf))
          })
      }
      return runCommit(commitAction, "alter_drop_column") { _ =>
        (Seq.empty, Map.empty, schema.json)
      }
    }
    require(current.fieldNames.contains(name), s"column not found: $name")
    require(!MetaCols.All.contains(name), s"cannot drop meta column $name")
    require(!cfg.recordKeyFields.contains(name), s"cannot drop key column $name")
    require(cfg.precombineField != name, s"cannot drop precombine column $name")
    require(!cfg.partitionPathExpr.contains(name),
      s"cannot drop partition-source column $name")
    runCommit(commitAction, "alter_drop_column") { _ =>
      (Seq.empty, Map.empty,
        StructType(current.fields.filterNot(_.name == name)).json)
    }
  }

  /** ALTER TABLE RENAME analog (reference AlterHoodieTableRenameCommand):
    * updates the table name recorded in table config — the base path and
    * data are untouched (catalog re-registration is the caller's job, as in
    * the reference where the Hive sync handles it).
    */
  def renameTable(newName: String): GraftTable = {
    require(newName.nonEmpty, "table name must be non-empty")
    val updated = cfg.copy(tableName = newName)
    TableConfig.save(basePath, updated)
    new GraftTable(spark, basePath, updated)
  }

  /** Point lookup: the snapshot rows for an explicit record-key set —
    * the needle-in-100-TB read path. With the RECORD index on, the probe
    * prunes to the keys' hash buckets (plan-time partition pruning on the
    * index table) and then reads ONLY the mapped file groups via
    * [[Readers.snapshotGroups]] — IO ∝ keys, not table. Without it, the
    * key filter still pushes into every base-file scan (the record-key
    * meta column is physical, so parquet stats/dictionaries skip
    * non-matching files) but listing is snapshot-wide.
    *
    * `keys` is a driver-resident list by contract — point lookups are
    * small; key-to-key joins at scale go through [[Readers.snapshot]] +
    * an equi-join instead.
    */
  def lookup(keys: Seq[String]): DataFrame = {
    requireKeyed("lookup")
    val base = if (ConsistentBuckets.enabled(cfg)) {
      // CONSISTENT buckets: a key's group depends on the partition's
      // cover, so derive (partition, key) -> group over the live
      // partitions (driver-resident set) — still no job and no index
      val st = ConsistentBuckets.state(this)
      val slices = view.fileSlices(None)
      val parts = slices.map(_.partitionPath).distinct
      val groups = (for { p <- parts; k <- keys }
        yield (p, ConsistentBuckets.bucketIdOf(st, cfg, p, k))).toSet
      graft.read.Readers.snapshotGroups(this, groups)
    } else if (BucketIndex.enabled(cfg)) {
      // BUCKET: the hash IS the location — derive each key's group id on
      // the driver (no job, no index) and read only those buckets' groups
      // across partitions (non-global key: the partition is unknown, but
      // the bucket bounds IO to |buckets probed| / n of the table)
      val buckets = keys.map(k => BucketIndex.bucketIdOf(cfg, k)).toSet
      val groups = view.fileSlices(None)
        .filter(s => buckets(s.fileId))
        .map(s => (s.partitionPath, s.fileId)).toSet
      graft.read.Readers.snapshotGroups(this, groups)
    } else if (RecordIndex.enabled(cfg)) {
      // a failed sync degrades to the filtered full path, as tag falls
      // back to SIMPLE
      DerivedIndex.probeSynced(this, RecordIndex.descriptor(this), keys) match {
        case Some(groups) => graft.read.Readers.snapshotGroups(this, groups)
        case None => graft.read.Readers.snapshot(this)
      }
    } else graft.read.Readers.snapshot(this)
    base.filter(col(MetaCols.RecordKey).isin(keys: _*)).drop(MetaCols.All: _*)
  }

  /** Point lookup by a NON-KEY column: the snapshot rows whose `column`
    * string-casts to one of `values`. With a secondary index maintained
    * for the column (`graft.index.secondary.columns`), the probe prunes
    * to the values' hash buckets and reads ONLY the mapped file groups —
    * IO ∝ matching groups, the arbitrary-column analog of [[lookup]].
    * Without one (or when sync degrades), the filter still pushes into
    * every base-file scan, where parquet stats/dictionaries skip
    * non-matching files. Matching is by exact STRING cast — intended for
    * string / integral / date / decimal columns, not floating point.
    */
  def lookupBy(target: String, values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "lookupBy needs at least one value")
    // `target` is a maintained index name (plain column or expression
    // index) or any bare column; the residual filter always re-applies
    // the predicate, so a degraded probe only costs IO
    val spec = SecondaryIndex.specOf(cfg, target)
      .getOrElse(SecondaryIndex.IndexSpec(target, s"`$target`"))
    val base = SecondaryIndex.probeGroups(this, target, values) match {
      case Some(groups) => graft.read.Readers.snapshotGroups(this, groups)
      case None => graft.read.Readers.snapshot(this) // unindexed, or sync failed
    }
    base.filter(spec.valueCol.isin(values: _*))
      .drop(MetaCols.All: _*)
  }

  /** TRUNCATE TABLE analog: a replacecommit logically dropping every live
    * file group (reference TruncateHoodieTableCommand).
    */
  def truncate(): String =
    runCommit(Action.ReplaceCommit, "truncate") { _ =>
      val replaced = view.fileSlices(None)
        .groupBy(_.partitionPath).map { case (p, ss) => p -> ss.map(_.fileId) }
      (Seq.empty, replaced, latestSchema.map(_.json).getOrElse(""))
    }

  /** Global delete (reference GlobalDeleteKeyGenerator): remove records
    * by record key alone — the incoming frame only needs the key fields,
    * and the record is tombstoned in whatever partition it lives in.
    */
  def deleteGlobal(df: DataFrame): String = {
    requireKeyed("deleteGlobal")
    runCommit(commitAction, "delete_global") { instant =>
    val incoming = df
      .withColumn(MetaCols.RecordKey, KeyGen.recordKeyCol(cfg.recordKeyFields))
      .select(MetaCols.RecordKey).distinct()
    // locate each key anywhere in the table; partition comes from storage
    val located = graft.read.Readers.snapshot(this)
      .join(incoming, Seq(MetaCols.RecordKey), "left_semi")
    val dataCols = located.columns.filterNot(c => MetaCols.All.contains(c)).toSeq
    val tombstones = located.select(
      (Seq(col(MetaCols.RecordKey), col(MetaCols.PartitionPath),
        substring_index(col(MetaCols.FileName), "_", 1).as(FileIdCol),
        lit(true).as(DeleteCol)) ++ dataCols.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cfg.isMor) morWrite(tombstones, instant, allDeletes = true)
      else writeMerged(tombstones, instant)
    } finally tombstones.unpersist()
    }
  }

  /** METADATA_ONLY bootstrap (reference BootstrapMode.java:24-34,
    * SparkBootstrapCommitActionExecutor): adopt existing parquet files
    * without rewriting a byte. Each source file becomes a file group whose
    * base file points OUTSIDE the table (absolute path); meta columns are
    * synthesized at read time from the key generator, and the first
    * upsert/delete touching a group rewrites it as a normal slice (the
    * external file is never modified or deleted). Nonpartitioned tables
    * only — adopting a hive-partitioned tree needs a per-file partition
    * mapping, which callers can do by invoking this per partition.
    */
  def bootstrapCommit(sourceFiles: Seq[String]): String = {
    require(cfg.partitionPathExpr.isEmpty,
      "METADATA_ONLY bootstrap adopts files into the root partition; " +
        "partitioned sources need a per-file partition mapping")
    runCommit(commitAction, "bootstrap") { _ =>
      val stats = sourceFiles.map { f =>
        val p = new Path(f)
        require(p.isAbsolute && Storage.exists(p), s"bootstrap source not found: $f")
        val fileId = "boot-" + java.util.UUID.nameUUIDFromBytes(
          f.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString.take(12)
        WriteStat(fileId, f, "", WritePipeline.footerRowCount(p), 0L,
          Storage.size(p), "", "", isDelta = false)
      }
      val srcSchema = spark.read.parquet(sourceFiles: _*).schema
      val metaFields = MetaCols.All.map(n =>
        StructField(n, org.apache.spark.sql.types.StringType, nullable = true))
      (stats, Map.empty[String, Seq[String]],
        StructType(metaFields ++ srcSchema.fields).json)
    }
  }

  /** Prune records whose key already exists in the table
    * (reference SparkRDDWriteClient.filterExists :131-141).
    */
  def filterExists(df: DataFrame): DataFrame =
    antiJoinExisting(KeyGen.withKeyColumns(df, cfg))
      .drop(MetaCols.RecordKey, MetaCols.PartitionPath)

  // -------------------------------------------------------- write internals

  private def commitAction: String = if (cfg.isMor) Action.DeltaCommit else Action.Commit

  private def schemaJsonFor(keyed: DataFrame): String = {
    val metaFields = MetaCols.All.map(n => StructField(n, org.apache.spark.sql.types.StringType, nullable = true))
    val dataFields = keyed.schema.fields
      .filterNot(f => MetaCols.All.contains(f.name) || f.name == FileIdCol || f.name == DeleteCol)
      // stored as nullable AT EVERY NESTING LEVEL: schema evolution
      // backfills old files with null, and parquet reads are nullable
      // regardless of the writer frame
      .map(f => f.copy(nullable = true,
        dataType = SchemaEvolution.asDeepNullable(f.dataType)))
    StructType(metaFields ++ dataFields).json
  }

  /** Collapse duplicate keys within the batch, highest precombine value
    * wins (reference SparkWriteHelper.java:50-66 reduceByKey → here a
    * window, or dropDuplicates when no precombine field is configured).
    */
  /** Batch dedup for paths whose write fuses its own (COW writeMerged):
    * only MOR pays the standalone window, since its delta append would
    * otherwise persist duplicate rows.
    */
  private def maybePrecombine(keyed: DataFrame): DataFrame =
    if (cfg.isMor) precombineDedup(keyed) else keyed

  private def precombineDedup(keyed: DataFrame): DataFrame =
    if (cfg.precombineField.isEmpty)
      keyed.dropDuplicates(MetaCols.RecordKey :: MetaCols.PartitionPath :: Nil)
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col(MetaCols.PartitionPath), col(MetaCols.RecordKey))
        .orderBy(col(cfg.precombineField).desc)
      keyed.withColumn("_graft_rn", row_number().over(w))
        .filter(col("_graft_rn") === 1).drop("_graft_rn")
    }

  /** Key → live file scan of the affected partitions, for index tagging and
    * exists-filtering. Key-range file skipping: files whose recorded
    * [minKey, maxKey] cannot overlap the incoming batch's key range are
    * never opened (the reference reads parquet footers for the same bounds,
    * SparkHoodieBloomIndex.java:165-191 — ours come from commit metadata).
    */
  private def existingKeys(affectedPartitions: Option[Set[String]],
      incomingKeyRange: Option[(String, String)],
      bloomProbe: Option[DataFrame] = None,
      bloomGlobal: Boolean = false): DataFrame = {
    val slices = view.fileSlices(None)
      .filter(s => affectedPartitions.forall(_.contains(s.partitionPath)))
    val ranged = slices.flatMap(_.baseFile)
      .filter(b => incomingKeyRange.forall { case (lo, hi) =>
        // UTF-8 byte order, matching both the footer-derived file range and
        // Spark's min/max over the incoming keys (graft.core.Utf8Order)
        b.minKey.isEmpty || b.maxKey.isEmpty ||
          graft.core.Utf8Order.rangesOverlap(b.minKey, b.maxKey, lo, hi)
      })
    // BLOOM index: probe incoming keys against per-file bloom sidecars to
    // drop range-overlapping files that contain none of the batch's keys
    val bases = bloomProbe match {
      case Some(incoming) if BloomIndex.enabled(cfg) =>
        BloomIndex.prune(spark, basePath, incoming, ranged, global = bloomGlobal)
      case _ => ranged
    }
    if (bases.isEmpty) {
      import org.apache.spark.sql.types.StringType
      val s = StructType(Seq(MetaCols.RecordKey, MetaCols.PartitionPath, FileIdCol)
        .map(n => StructField(n, StringType, nullable = true)))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    readEntriesRaw(bases)
      .select(col(MetaCols.RecordKey), col(MetaCols.PartitionPath),
        substring_index(col(MetaCols.FileName), "_", 1).as(FileIdCol))
  }

  /** Index tagging dispatch: RECORD uses the persisted key → file-group
    * index (O(changeset), no data-file scan — see [[RecordIndex]]), with
    * SIMPLE as the always-correct fallback when the index can't sync.
    */
  private def tagLocation(keyed: DataFrame): DataFrame = {
    // BUCKET: the group id IS the key hash — row-local, no lookup IO at
    // all (see BucketIndex). The bucket group may not exist yet; the COW
    // merge write finds no live base and simply creates it, and morWrite
    // splits live/missing groups itself.
    if (BucketIndex.enabled(cfg)) return bucketTag(keyed)
    if (RecordIndex.enabled(cfg))
      RecordIndex.tag(this, keyed) match {
        case Some(tagged) => return tagged
        case None => // fall through to SIMPLE
      }
    simpleTag(keyed)
  }

  /** SIMPLE-index tagging (reference SparkHoodieSimpleIndex.java:91-109):
    * left-outer equi-join of the batch against the affected partitions'
    * key scan; matched rows carry their file group id. Affected partitions
    * and the incoming key range come from ONE aggregation job.
    */
  private def simpleTag(keyed: DataFrame): DataFrame = {
    val pr = staticPlan(keyed.groupBy(MetaCols.PartitionPath)
      .agg(min(MetaCols.RecordKey).as("mn"), max(MetaCols.RecordKey).as("mx"))).collect()
    val parts = pr.map(_.getString(0)).toSet
    val mins = pr.flatMap(r => Option(r.getString(1)))
    val maxs = pr.flatMap(r => Option(r.getString(2)))
    val kr = if (mins.isEmpty) None else Some((mins.min, maxs.max))
    val existing = existingKeys(Some(parts), kr, bloomProbe = Some(keyed))
    keyed.join(existing, Seq(MetaCols.RecordKey, MetaCols.PartitionPath), "left_outer")
  }

  private def antiJoinExisting(keyed: DataFrame): DataFrame =
    if (partitionEvolved)
      // stored partitions may differ from recomputed ones: a key's
      // existing copy can live anywhere — dedup by key alone
      keyed.join(existingKeys(None, None), Seq(MetaCols.RecordKey), "left_anti")
    else {
      val parts = staticPlan(
        keyed.select(MetaCols.PartitionPath).distinct()).collect()
        .map(_.getString(0)).toSet
      keyed.join(existingKeys(Some(parts), None),
        Seq(MetaCols.RecordKey, MetaCols.PartitionPath), "left_anti")
    }

  /** Small-file bin packing (reference UpsertPartitioner.assignInserts
    * :157-290): per partition, insert records first top up base files under
    * the small-file limit, then fill fresh file groups sized
    * maxFileSize/avgRecordSize. The bucket table is tiny (one row per
    * target file) and broadcast; rows pick a bucket via
    * `hash(key) mod totalWeight` against cumulative weight ranges, so
    * routing is one broadcast join — no custom Partitioner, no skew pin.
    */
  private def assignInsertBuckets(tagged: DataFrame): DataFrame =
    assignInsertBucketsWithIds(tagged)._1

  /** Routes insert rows into small-file / fresh buckets and returns the
    * full set of touched file-group ids alongside — ONE workload-profile
    * job yields both the per-partition insert counts and the updated
    * fileIds (the reference's countByKey profile,
    * BaseSparkCommitActionExecutor.java:148-179).
    */
  private def assignInsertBucketsWithIds(tagged: DataFrame)
      : (DataFrame, Set[(String, String)]) = {
    val profile = staticPlan(
      tagged.groupBy(MetaCols.PartitionPath, FileIdCol).count()).collect()
    // (partition, fileId) PAIRS throughout: bucket layouts reuse the same
    // fileId across partitions, so a bare-id set would alias groups
    val updatedIds = profile.filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1))).toSet
    val insertCounts = profile.filter(_.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val (routed, newIds) = routeInserts(tagged, insertCounts)
    (routed, updatedIds ++ newIds)
  }

  /** Routes the frame's null-fileId rows into small-file top-up buckets
    * then fresh size-targeted buckets; the bucket table (one row per
    * target file) is broadcast. Returns the routed frame plus the bucket
    * fileIds used.
    */
  private def routeInserts(frame: DataFrame,
      insertCounts: Map[String, Long]): (DataFrame, Set[(String, String)]) = {
    if (insertCounts.isEmpty) return (frame, Set.empty)
    // BUCKET layout: inserts route to their key's bucket group — never a
    // fresh or packed id, or the partition would grow a second group
    // family able to hold a key twice. The distinct is bounded by
    // buckets × touched partitions.
    if (BucketIndex.enabled(cfg)) {
      val routed =
        if (ConsistentBuckets.enabled(cfg))
          ConsistentBuckets.route(this, frame, preserveExisting = true)
        else frame.withColumn(FileIdCol,
          coalesce(col(FileIdCol), BucketIndex.fileIdCol(cfg, col(MetaCols.RecordKey))))
      val ids = staticPlan(
        routed.select(MetaCols.PartitionPath, FileIdCol).distinct()).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      return (routed, ids)
    }
    val recSize = avgRecordSize
    val perNew = math.max(1L, maxFileSize / recSize)
    val rows = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Long, String)]()
    insertCounts.foreach { case (part, n) =>
      var lo = 0L
      view.smallFiles(part, smallFileLimit).foreach { f =>
        val cap = math.max(1L, (maxFileSize - f.sizeBytes) / recSize)
        if (lo < n) { rows += ((part, lo, math.min(lo + cap, n), n, f.fileId)); lo += cap }
      }
      while (lo < n) {
        rows += ((part, lo, math.min(lo + perNew, n), n, newFileIdPrefix()))
        lo += perNew
      }
    }
    import spark.implicits._
    val buckets = rows.toSeq.toDF("_b_part", "_b_lo", "_b_hi", "_b_total", "_b_fid")
    val h = pmod(abs(hash(col(MetaCols.RecordKey))).cast("long"), col("_b_total"))
    // single pass: located rows fail the join condition and keep their
    // fileId; insert rows match exactly one bucket range
    val routed = frame
      .join(broadcast(buckets),
        col(FileIdCol).isNull && col(MetaCols.PartitionPath) === col("_b_part") &&
          h >= col("_b_lo") && h < col("_b_hi"),
        "left_outer")
      .withColumn(FileIdCol, coalesce(col(FileIdCol), col("_b_fid")))
      .drop("_b_part", "_b_lo", "_b_hi", "_b_total", "_b_fid")
    (routed, rows.map(r => (r._1, r._5)).toSet)
  }

  /** Route every row to a fresh, size-targeted file group (overwrite ops —
    * never touches existing groups).
    */
  private def assignFreshBuckets(keyed: DataFrame): DataFrame =
    // BUCKET layout: overwrite groups ARE the buckets (stable ids; the
    // caller subtracts written ids from the replaced set so rewrites
    // shadow instead of dying)
    if (BucketIndex.enabled(cfg)) bucketTag(keyed)
    else assignInsertBucketsFresh(keyed)._1

  /** Bucket-layout routing dispatch: the fixed engine's global `mod N`
    * projection, or the consistent engine's per-partition cover routing
    * (see [[ConsistentBuckets]]).
    */
  private def bucketTag(keyed: DataFrame): DataFrame =
    if (ConsistentBuckets.enabled(cfg)) ConsistentBuckets.route(this, keyed)
    else BucketIndex.tag(cfg, keyed)

  /** Returns (routed, hasRows) — the profile job already knows whether the
    * frame is empty, so callers can skip launching a write job for an
    * empty insert side (common for pure-update MOR upserts).
    */
  private def assignInsertBucketsFresh(keyed: DataFrame): (DataFrame, Boolean) = {
    val profile = staticPlan(
      keyed.groupBy(MetaCols.PartitionPath).count()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (assignFreshWithProfile(keyed, profile), profile.nonEmpty)
  }

  /** Fresh-bucket routing from a precomputed per-partition count profile —
    * lets callers that already ran a batch aggregation (insert_overwrite's
    * touched-partition pass) reuse it instead of launching a second one.
    */
  private def assignFreshWithProfile(keyed: DataFrame,
      profile: Map[String, Long]): DataFrame = {
    val perNew = math.max(1L, maxFileSize / avgRecordSize)
    val rows = profile.toSeq.flatMap { case (part, n) =>
      (0L until n by perNew).map(lo =>
        (part, lo, math.min(lo + perNew, n), n, newFileIdPrefix()))
    }
    if (rows.isEmpty)
      return keyed.withColumn(FileIdCol, lit(newFileIdPrefix()))
    import spark.implicits._
    val buckets = rows.toDF("_b_part", "_b_lo", "_b_hi", "_b_total", "_b_fid")
    val h = pmod(abs(hash(col(MetaCols.RecordKey))).cast("long"), col("_b_total"))
    keyed.join(broadcast(buckets),
        col(MetaCols.PartitionPath) === col("_b_part") && h >= col("_b_lo") && h < col("_b_hi"))
      .withColumn(FileIdCol, col("_b_fid"))
      .drop("_b_part", "_b_lo", "_b_hi", "_b_total", "_b_fid")
  }

  /** COW merge write: rewrite every touched file group as
    * `old ∪ new → latest-wins dedup → drop tombstones` — the DataFrame
    * equivalent of the reference's per-file HoodieMergeHandle streaming
    * merge (HoodieMergeHandle.java:201-326), with Spark's shuffle providing
    * the spill the reference gets from ExternalSpillableMap.
    *
    * The dedup shares its ONE shuffle with the write layout: rows are
    * hash-distributed by (partition, fileId) — which also co-locates each
    * key, since a key maps to exactly one file group — sorted so every
    * key's winner comes first, then collapsed by a linear per-partition
    * scan (the same repartitionAndSortWithinPartitions + streaming-merge
    * shape as the reference, BaseSparkCommitActionExecutor.java:190-210).
    * A window over (partition, key) would add a second full exchange
    * before the write's (partition, fileId) distribution.
    */
  private def writeMerged(routed: DataFrame, instant: String,
      knownTouched: Option[Set[(String, String)]] = None)
      : (Seq[WriteStat], Map[String, Seq[String]], String) = {
    val withDel =
      if (routed.columns.contains(DeleteCol)) routed
      else routed.withColumn(DeleteCol, lit(false))
    val newData = withCommitMeta(withDel, instant, isDelta = false,
      baseFormat = cfg.baseFormat)

    // file groups being rewritten = every group any row routes to (the
    // caller's profile job usually already knows this set). PAIRS, not
    // bare fileIds: bucket layouts share ids across partitions
    val touchedIds = knownTouched.getOrElse(staticPlan(
      routed.select(MetaCols.PartitionPath, FileIdCol).distinct()).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet)
    val liveBases = view.fileSlices(None).flatMap(_.baseFile)
      .filter(b => touchedIds.contains((b.partitionPath, b.fileId)))
    val unioned =
      if (liveBases.isEmpty) newData
      else readEntriesRaw(liveBases)
        .withColumn(FileIdCol, substring_index(col(MetaCols.FileName), "_", 1))
        .withColumn(DeleteCol, lit(false))
        .unionByName(newData, allowMissingColumns = true)
    // PARTIAL_UPDATE resolves each column down the version stack, which
    // needs per-key window frames — one (partition, key) exchange, then
    // re-clustered for the write. The simple payloads fuse dedup into the
    // write exchange itself (dedupLatestWins).
    val deduped =
      if (Payload.of(cfg) == Payload.PartialUpdate)
        Payload.mergeVersions(cfg, unioned, DeleteCol)
          .repartition(col(MetaCols.PartitionPath), col(FileIdCol))
      else dedupLatestWins(unioned)
    val merged = deduped
      // rewritten rows land in a new physical file: refresh the name column
      .withColumn(MetaCols.FileName,
        fileNameCol(instant, cfg.baseFormat))

    // internal plan: tagged-cache scan ∪ file-index scans, broadcast-
    // hinted routing only, files keyed by pre-assigned (partition, fileId)
    // — static planning skips AQE's per-stage driver latency (see
    // WritePipeline.staticPlan)
    val stats = writeFiles(spark, basePath, staticPlan(merged), instant,
      isDelta = false, alreadyPartitioned = true, baseFormat = cfg.baseFormat,
      dict = dictStats)
    // a group whose merge produced NO rows (every record tombstoned) writes
    // no file — record it as replaced or its old base would stay the
    // latest slice and the deleted rows would resurrect. Pair-keyed: the
    // same bucket id emptied in one partition and written in another must
    // still be replaced where it emptied.
    val written = stats.map(s => (s.partitionPath, s.fileId)).toSet
    val replaced = liveBases
      .filter(b => touchedIds.contains((b.partitionPath, b.fileId)) &&
        !written.contains((b.partitionPath, b.fileId)))
      .groupBy(_.partitionPath)
      .map { case (p, es) => p -> es.map(_.fileId).distinct }
    (stats, replaced, schemaJsonFor(routed))
  }

  /** Latest-wins key dedup fused with the write distribution: one shuffle
    * by (partition, fileId), sort placing each key's winner first
    * (commit time desc, precombine desc, seqno desc — the same ordering
    * the MOR read-side window uses), then a linear first-row-per-key scan
    * that also drops tombstone winners. (partition, key) → fileId is
    * functional — an old row's location and an update's tagged location
    * agree, and routed inserts are new keys — so co-locating by fileId
    * co-locates keys; Catalyst can't infer that dependency, hence the
    * explicit scan instead of a window (which would re-exchange).
    */
  private def dedupLatestWins(unioned: DataFrame): DataFrame =
    Payload.mergeFusedWithWriteLayout(cfg, unioned, DeleteCol)

  /** Complete-group rewrite (COW MERGE / UPDATE / DELETE fast path): the
    * caller supplies EVERY row of every candidate group — values already
    * merged, keys already unique — plus insert rows with a null fileId,
    * and a boolean [[WritePipeline.ModifiedCol]] marking rows an action
    * actually changed. Groups with no modified row are skipped (left
    * untouched on disk); the rest are rewritten with NO dedup pass and no
    * read-back — one profile job, one shuffle, one distributed write,
    * reading the target exactly once (upstream, in the caller's join).
    *
    * Frame contract: `_hoodie_commit_time`/`_hoodie_commit_seqno` carry
    * the ORIGINAL stamps on carried-over rows and null on modified or
    * inserted rows (nulls are stamped with this commit's instant), which
    * preserves incremental-query semantics: only genuinely changed rows
    * advance their commit time.
    */
  private[table] def writeCompleteGroups(resolved: DataFrame, opType: String): String = {
    // only rows an action MODIFIED can introduce violations (carried rows
    // were validated when the constraint was added); delete images exempt
    enforceConstraints(resolved.filter(col(ModifiedCol)), opType)
    runCommit(commitAction, opType) { instant =>
      {
        // NOT cached deliberately (re-measured r17): persisting the
        // resolution join A/B'd as a wash locally (13 interleaved pairs,
        // first sweep −11%, confirmation +9%), and at scale the cache
        // materializes FULL-width touched rows while the extra pass it
        // saves is the column-pruned (partition, fileId, modified)
        // profile scan — the narrow double-scan stays cheaper
        val cached = resolved
        // the profile projects only (partition, fileId, modified) — column
        // pruning reaches through the caller's join, so this pass scans the
        // target narrowly; only the write pass below evaluates full rows
        // (cheaper than materializing the whole resolved frame to a cache)
        val profile = cached.groupBy(MetaCols.PartitionPath, FileIdCol)
          .agg(count(lit(1)).as("n"), max(col(ModifiedCol)).as("m")).collect()
        val insertCounts = profile.filter(_.isNullAt(1))
          .map(r => r.getString(0) -> r.getLong(2)).toMap
        // (partition, fileId) pairs: bucket layouts share ids across
        // partitions, a bare-id set would alias groups
        val modifiedIds = profile
          .filter(r => !r.isNullAt(1) && r.getBoolean(3))
          .map(r => (r.getString(0), r.getString(1))).toSet
        // untouched groups (no action applied to any row) stay on disk as-is
        val modifiedKeys = modifiedIds.map { case (p, f) => s"$p|$f" }.toSeq
        val kept = cached.filter(col(FileIdCol).isNull ||
          concat_ws("|", col(MetaCols.PartitionPath), col(FileIdCol))
            .isin(modifiedKeys: _*))
        val (routed, insertTargetIds) = routeInserts(kept, insertCounts)
        // small-file packing may direct inserts into live groups whose rows
        // are NOT in the frame — union those groups' bases in (keys stay
        // unique: packed inserts matched nothing)
        val live = view.fileSlices(None).flatMap(_.baseFile)
        val extraIds = (insertTargetIds -- modifiedIds)
          .intersect(live.map(b => (b.partitionPath, b.fileId)).toSet)
        val withExtra =
          if (extraIds.isEmpty) routed
          else routed.unionByName(
            readEntriesRaw(live.filter(b => extraIds.contains((b.partitionPath, b.fileId))))
              .withColumn(FileIdCol, substring_index(col(MetaCols.FileName), "_", 1))
              .withColumn(DeleteCol, lit(false))
              .withColumn(ModifiedCol, lit(false)),
            allowMissingColumns = true)
        val stamped = withExtra
          .filter(!col(DeleteCol)).drop(DeleteCol, ModifiedCol)
          .withColumn(MetaCols.CommitTime, coalesce(col(MetaCols.CommitTime), lit(instant)))
          .withColumn(MetaCols.CommitSeqno, coalesce(col(MetaCols.CommitSeqno),
            concat(lit(instant + "_"), monotonically_increasing_id().cast("string"))))
          .withColumn(MetaCols.FileName,
            fileNameCol(instant, cfg.baseFormat))
        val dataCols = stamped.columns.filterNot(c => MetaCols.All.contains(c))
        val framed = stamped.select((MetaCols.All ++ dataCols).map(col): _*)
        val stats = writeFiles(spark, basePath, framed, instant, isDelta = false,
          baseFormat = cfg.baseFormat, dict = dictStats)
        val written = stats.map(s => (s.partitionPath, s.fileId)).toSet
        // a rewritten group that wrote no file (all rows deleted) must be
        // recorded as replaced or its old base stays the latest slice
        val replaced = live
          .map(b => (b.partitionPath, b.fileId))
          .filter(k => (modifiedIds.contains(k) || extraIds.contains(k)) &&
            !written.contains(k))
          .groupBy(_._1).map { case (p, ks) => p -> ks.map(_._2).distinct }
        (stats, replaced, schemaJsonFor(framed))
      }
    }
  }

  /** MOR write: updates/deletes append to per-group delta files (the
    * log-append analog, reference HoodieAppendHandle.java — ours are small
    * parquet files, not Avro blocks); inserts open fresh base files.
    */
  private def morWrite(tagged: DataFrame, instant: String, allDeletes: Boolean = false)
      : (Seq[WriteStat], Map[String, Seq[String]], String) = {
    val withDel =
      if (tagged.columns.contains(DeleteCol)) tagged
      else tagged.withColumn(DeleteCol, lit(false))
    // BUCKET: every row carries its bucket id, but only LIVE groups can
    // take a delta append (a delta with no base is unreadable). Split by
    // the live group set — missing-group rows become base-creating
    // inserts KEEPING their bucket id, except tombstones for missing
    // groups, which are no-ops (deleting an absent key), never rows.
    val (updates, inserts) =
      if (BucketIndex.enabled(cfg)) {
        import spark.implicits._
        val liveDf = broadcast(view.fileSlices(None)
          .map(s => (s.partitionPath, s.fileId)).toDF("_bx_part", "_bx_fid"))
        val joined = withDel.join(liveDf,
          col(MetaCols.PartitionPath) === col("_bx_part") &&
            col(FileIdCol) === col("_bx_fid"), "left_outer")
        (joined.filter(col("_bx_fid").isNotNull).drop("_bx_part", "_bx_fid"),
          joined.filter(col("_bx_fid").isNull).drop("_bx_part", "_bx_fid")
            .filter(!col(DeleteCol)))
      } else
        (withDel.filter(col(FileIdCol).isNotNull), withDel.filter(col(FileIdCol).isNull))

    // delta/base writes read the commit's cached tagged frame (hinted
    // bucket joins only) — static planning, same rationale as writeMerged
    val deltaStats = writeFiles(spark, basePath,
      staticPlan(withCommitMeta(updates, instant, isDelta = true)), instant,
      isDelta = true, allDeletes = allDeletes, dict = dictStats)
    val (insertRouted, hasInserts) =
      if (BucketIndex.enabled(cfg)) {
        val r = inserts.drop(DeleteCol) // bucket id already routed
        (r, !r.isEmpty)
      } else assignInsertBucketsFresh(inserts.drop(FileIdCol, DeleteCol))
    val baseStats =
      if (!hasInserts) Seq.empty
      else writeFiles(spark, basePath, staticPlan(
        withCommitMeta(insertRouted, instant, isDelta = false, baseFormat = cfg.baseFormat)),
        instant, isDelta = false, baseFormat = cfg.baseFormat, dict = dictStats)
    (deltaStats ++ baseStats, Map.empty, schemaJsonFor(tagged))
  }

  /** Read a set of committed files with the table schema (schema evolution:
    * files written before a column was added surface nulls). Bootstrap
    * entries (absolute paths outside the table) are read raw and their
    * meta columns synthesized from the key generator.
    */
  def readEntriesRaw(entries: Seq[FileEntry], asOf: Option[String] = None): DataFrame = {
    val schema = schemaAsOf(asOf)
    if (entries.isEmpty) {
      // pre-first-commit (or emptied) table: the DECLARED CREATE schema
      // (+ meta columns, which every committed schema carries) answers —
      // UPDATE/DELETE/MERGE on an empty table must be a no-op, never an
      // unresolved-column error over a zero-column frame
      val s = schema.orElse(
        cfg.props.get(ConfigKeys.CreateSchema).map { j =>
          val declared = org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType]
          StructType(MetaCols.All.map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.StringType, nullable = true)) ++
            declared.fields)
        }).getOrElse(StructType(Nil))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    val (ext, internal) = entries.partition(e => new Path(e.relPath).isAbsolute)
    // per-format scan (ORC base files coexist with parquet delta files;
    // commit metadata records full names, so each file reads natively)
    val internalFrames = internal.groupBy(e => WritePipeline.formatOf(e.relPath))
      .toSeq.sortBy(_._1).map { case (fmt, es) =>
        val withDelete = es.exists(_.isDelta)
        val readSchema = schema.map { s =>
          if (withDelete) StructType(s.fields :+ StructField(DeleteCol, BooleanType, nullable = true))
          else s
        }
        readSchema match {
          case Some(s) =>
            // metadata-driven scan (GraftFileIndex): sizes/partitions come
            // from commit metadata, so planning does ZERO file-system calls —
            // the spark.read.load(paths) form below re-resolves the source
            // per call (checkFilesExist stats every path, InMemoryFileIndex
            // re-lists it, possibly as a whole extra job past the
            // parallel-discovery threshold), a per-read driver tax this
            // path pays several times per commit (index tag, merge read,
            // MOR/incremental pulls)
            val dataSchema = StructType(
              s.fields.filterNot(_.name == MetaCols.PartitionPath))
            // allowStatsAnswer=false: this raw path serves asOf/time-travel
            // callers whose entry lists may reference cleaner-deleted files;
            // a bare count(*) answered from metadata would silently succeed
            // where the scan itself throws (Readers.fileIndexScan threads
            // the cleaner-retention check instead — bare aggregates over
            // raw internal reads don't need the shortcut)
            org.apache.spark.sql.GraftSqlBridge.fileScan(
                spark, new graft.read.GraftFileIndex(spark, basePath, es,
                  allowStatsAnswer = false),
                dataSchema, fmt)
              .select(s.fieldNames.toIndexedSeq.map(col): _*)
          case None =>
            // pre-first-commit fallback: no recorded schema — infer
            val paths = es.map(e => basePath.resolve(e.relPath).toString)
            spark.read.format(fmt).load(paths: _*)
        }
      }
    val frames = internalFrames ++
      (if (ext.isEmpty) None else Some(readExternal(ext, schema)))
    frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Bootstrap read path: raw source files + synthesized meta columns
    * (reference HoodieBootstrapRelation stitches a skeleton file instead;
    * computing the key expressions inline avoids writing skeletons at all).
    */
  private def readExternal(ext: Seq[FileEntry], schema: Option[StructType]): DataFrame = {
    val dataSchema0 = schema.map(s =>
      StructType(s.fields.filterNot(f => MetaCols.All.contains(f.name))))
    val reader = spark.read
    val raw = dataSchema0.map(reader.schema).getOrElse(reader).parquet(ext.map(_.relPath): _*)
      // the hidden file-metadata column, NOT input_file_name(): requesting
      // _metadata makes this scan's plan distinct from any user-cached
      // plain scan of the same files, so the CacheManager never substitutes
      // an InMemoryRelation (whose input_file_name() is empty — the lookup
      // below would tag every row null); it is also the supported per-file
      // provenance API
      .withColumn("_graft_src_file", col("_metadata.file_path"))
    val keyed = KeyGen.withKeyColumns(raw, cfg)
    // per-file (fileId, instant) via a file-path lookup map
    val kv = ext.flatMap(e => Seq(lit(e.relPath), lit(s"${e.fileId}|${e.instant}")))
    val tag = element_at(map(kv: _*),
      regexp_replace(col("_graft_src_file"), "^file:/+", "/"))
    val fid = split(tag, "\\|").getItem(0)
    val instant = split(tag, "\\|").getItem(1)
    val withMeta = keyed
      .withColumn(MetaCols.CommitTime, instant)
      .withColumn(MetaCols.CommitSeqno, concat(instant, lit("_ext")))
      .withColumn(MetaCols.FileName, concat(fid, lit("_0_"), instant, lit(".parquet")))
      .drop("_graft_src_file")
    val dataCols = withMeta.columns.filterNot(c => MetaCols.All.contains(c))
    withMeta.select((MetaCols.All ++ dataCols).map(col): _*)
  }

  // ------------------------------------------------------------- commit

  /** instant => (write stats, replaced file groups, schema JSON) */
  private[table] type CommitBody =
    String => (Seq[WriteStat], Map[String, Seq[String]], String)

  /** The commit protocol, in six phases. A lock-held write (`upsert` and
    * every other write but `upsertOptimistic`) holds the table lock from
    * phase 1 through phase 4; an optimistic write (`optimistic = true`)
    * takes it only for phases 1 and 4.
    *  1. Begin, under the lock: reap failed writes, check routing,
    *     allocate the instant, move it from requested to inflight.
    *  2. Body: write the files.
    *  3. Validate: the pre-commit validators, then the bloom sidecars.
    *  4. Publish, under the lock: the conflict check (optimistic writes
    *     only), the duration stamp, the completed instant, finalize,
    *     dictionary poisons, then `postCommit`.
    *  5. Abort, on any failure before publish: [[abortCommit]].
    *  6. After the lock: record-index, secondary-index and view syncs,
    *     then callbacks.
    * Phases 3-5 are [[commitInflight]], which compaction and clustering
    * enter directly with their planned instants.
    */
  private def runCommit(action: String, opType: String,
      extraMetadata: Map[String, String] = Map.empty, optimistic: Boolean = false)(
      body: CommitBody): String = {
    def begin(): GraftInstant = {
      reapFailedWritesPerPolicy()
      requireRoutingCurrent()
      val ts = InstantTime.newInstant(timeline) // clamped above all timeline instants
      timeline.transitionToInflight(timeline.createRequested(ts, action))
    }
    val (inst, stats) =
      if (optimistic) {
        val readPoint = timeline.completedDataInstants().lastOption.map(_.ts).getOrElse("0")
        val inst = TableLock.withLock(basePath)(begin())
        (inst, commitInflight(inst, opType, extraMetadata, dataCommit = true,
          Some(optimisticConflicts(readPoint) _))(body))
      } else TableLock.withLock(basePath) {
        val inst = begin()
        (inst, commitInflight(inst, opType, extraMetadata, dataCommit = true)(body))
      }
    // callbacks fire OUTSIDE the table lock: a slow notification transport
    // must not stall other writers or the async service threads. Eager
    // index maintenance also runs unlocked — best-effort,
    // changeset-sized; a failure only defers to the next read's catch-up
    DerivedIndex.maybeSync(this, RecordIndex.descriptors(this) ++ SecondaryIndex.descriptors(this))
    MaterializedView.maybeSyncRegistered(this)
    fireCommitCallbacks(inst.ts, opType, stats)
    inst.ts
  }

  /** Phases 3-5 of [[runCommit]] for an instant already inflight; returns
    * the write stats. Only data commits run the validators and
    * `postCommit`. A failure after the completed instant lands propagates
    * without un-publishing the commit.
    */
  private[table] def commitInflight(inst: GraftInstant, opType: String,
      extraMetadata: Map[String, String] = Map.empty, dataCommit: Boolean = false,
      conflicts: Option[(String, Seq[WriteStat], Map[String, Seq[String]]) => Unit] = None)(
      body: CommitBody): Seq[WriteStat] = {
    val ts = inst.ts
    var written: Seq[WriteStat] = Seq.empty
    var published = false
    val t0 = System.nanoTime()
    try {
      val (stats, replaced, schemaJson) = body(ts)
      written = stats
      // unlocked for an optimistic writer: a validator may scan the new files
      if (dataCommit) firePreCommitValidators(ts, opType, stats)
      if (BloomIndex.enabled(cfg)) BloomIndex.buildSidecars(spark, basePath, stats, cfg)
      if (conflicts.isDefined) beforeOptimisticPublish()
      TableLock.withLock(basePath) {
        conflicts.foreach(_(ts, stats, replaced))
        // commit duration rides in the metadata itself (reference
        // hudi-client-common/.../metrics/HoodieMetrics.java
        // updateCommitMetrics publishes the same figure to a registry; a
        // registry is a sidecar service, the commit log is already durable)
        val durMs = (System.nanoTime() - t0) / 1000000L
        timeline.saveAsComplete(inst, Json.write(CommitMetadata(opType, stats, replaced,
          schemaJson, extraMetadata + (GraftTable.DurationMsKey -> durMs.toString))))
        published = true
        // the markers' crash-reconciliation duty ends at publish
        WritePipeline.finalizeInstant(basePath, ts)
        persistNewDictPoisons(stats)
        if (dataCommit) postCommit()
      }
      stats
    } catch {
      case e: Throwable =>
        if (!published) abortCommit(inst, written)
        throw e
    }
  }

  /** Phase 5, the only code that deletes a commit's files when it fails
    * before publish: the marker-listed files and the staging dir, then
    * every file the body reported (a staged-fallback write leaves
    * final-named files without markers) with its bloom sidecar, then the
    * instant files. A compaction keeps its requested plan, which stays
    * retryable.
    */
  private def abortCommit(inst: GraftInstant, written: Seq[WriteStat]): Unit = {
    WritePipeline.cleanupFailedWrite(basePath, inst.ts)
    written.foreach { ws =>
      val p = basePath.resolve(ws.path)
      if (p.startsWith(basePath)) {
        Storage.deleteIfExists(p)
        if (!ws.isDelta && BloomIndex.enabled(cfg))
          Storage.deleteIfExists(BloomIndex.sidecarPath(basePath, ws.path))
      }
    }
    if (inst.action == Action.Compaction)
      Storage.deleteIfExists(timeline.dir.resolve(s"${inst.ts}.${inst.action}.${State.Inflight}"))
    else timeline.deleteInstantFiles(inst.ts, inst.action)
  }

  /** Phase-4 conflict check of an optimistic write (reference
    * SimpleConcurrentFileWritesConflictResolutionStrategy.java:44-85),
    * run under the publish lock. Throws [[WriteConflictException]] when a
    * failed-writes reap rolled this writer back mid-flight, or when a
    * commit completed since `readPoint` touched one of its file groups.
    */
  private def optimisticConflicts(readPoint: String)(ts: String,
      stats: Seq[WriteStat], replaced: Map[String, Seq[String]]): Unit = {
    // a reap past graft.failed.writes.stale.ms removed the inflight marker
    // and the files: publishing would commit dangling file refs
    if (!timeline.listInstants().exists(i =>
      i.ts == ts && i.state == State.Inflight))
      throw new WriteConflictException(
        s"commit $ts was rolled back while in flight (failed-writes reap " +
          "— the write outlived graft.failed.writes.stale.ms); retry")
    val mine: Set[(String, String)] =
      stats.map(s => (s.partitionPath, s.fileId)).toSet ++
        replaced.toSeq.flatMap { case (p, fids) => fids.map(p -> _) }
    val conflict = timeline.completedDataInstants()
      .filter(i => i.ts > readPoint && i.ts != ts)
      .find { i =>
        val md = CommitMetadata.fromJson(timeline.readContent(i))
        val theirs = md.writeStats.map(s => (s.partitionPath, s.fileId)).toSet ++
          md.replacedFileIds.toSeq.flatMap { case (p, fids) => fids.map(p -> _) }
        mine.exists(theirs.contains)
      }
    conflict.foreach { c =>
      throw new WriteConflictException(
        s"commit $ts conflicts with ${c.ts}: overlapping file groups " +
          s"written after read point $readPoint")
    }
  }

  /** Guard against the one config drift that CORRUPTS data: a handle
    * loaded before another writer's bucket rescale would route keys by
    * the OLD count, landing a key's new copy in a group its existing
    * copy never lived in (silent duplicates). Checked under the table
    * lock before every commit on bucket layouts — one tiny config read;
    * the rescale's own commit passes because the persisted count only
    * flips AFTER its replacecommit publishes. Other config drift
    * (rename, TTL knobs) is benign and not policed.
    */
  private def requireRoutingCurrent(): Unit =
    if (TableConfig.exists(basePath)) {
      val persisted = TableConfig.load(basePath)
      if (BucketIndex.enabled(cfg)) {
        val p = BucketIndex.numBuckets(persisted)
        val mine = BucketIndex.numBuckets(cfg)
        require(p == mine,
          s"bucket count changed by a concurrent rescale (handle has $mine, " +
            s"table has $p) — reload the table with GraftTable.load")
      }
      // the same corruption class: a handle loaded before another
      // writer's alterPartitionExpr computes OLD partition values, so its
      // per-partition tagging misses keys the newer layout migrated
      require(persisted.partitionPathExpr == cfg.partitionPathExpr,
        "partition expression changed by a concurrent alterPartitionExpr " +
          s"(handle has '${cfg.partitionPathExpr}', table has " +
          s"'${persisted.partitionPathExpr}') — reload the table with GraftTable.load")
    }

  /** Dictionary-stat policy for this handle's writes. Newly-discovered
    * poisoned columns take effect IMMEDIATELY on this handle (no reload
    * needed) and persist to the table config for future handles.
    */
  @volatile private var dictPoisonExtra: Set[String] = Set.empty
  private[table] def dictStats: WritePipeline.DictStats =
    WritePipeline.DictStats.of(cfg, dictPoisonExtra)

  /** Carry sticky dictionary poisons (high cardinality / plain-page
    * fallback, reported per file in the write stats) into the table
    * config, so the NEXT commit does zero dictionary IO for them. Runs
    * under the table lock, post-publish; a no-op in the steady state
    * (poisoned columns never re-report — their pages are never opened).
    */
  private def persistNewDictPoisons(stats: Seq[WriteStat]): Unit = {
    val np = stats.iterator.flatMap(_.colDictPoisoned).toSet -- dictPoisonExtra
    if (np.isEmpty) return
    dictPoisonExtra ++= np
    val cur = TableConfig.load(basePath)
    val have = WritePipeline.DictStats.parsePoisoned(
      cur.prop(ConfigKeys.DictionaryPoisoned, ""))
    if (!np.subsetOf(have))
      TableConfig.save(basePath, cur.copy(props = cur.props +
        (ConfigKeys.DictionaryPoisoned -> (have ++ np).toSeq.sorted.mkString(","))))
  }

  /** Reap crashed writers before starting (reference startCommit runs
    * rollbackFailedWrites the same way; see Services.rollbackFailedWrites
    * for the EAGER/LAZY policy semantics). Optimistic-only deployments
    * reclaim crashed writers here too: LAZY's staleness window keeps live
    * unlocked writers safe. Costs one pending-instant listing when the
    * timeline is clean.
    */
  private def reapFailedWritesPerPolicy(): Unit =
    cfg.prop(ConfigKeys.FailedWritesPolicy, "LAZY") match {
      case "EAGER" => Services.rollbackFailedWrites(this, 0L)
      case "LAZY" => Services.rollbackFailedWrites(this,
        cfg.propLong(ConfigKeys.FailedWritesStaleMs, 3600000L))
      case _ => () // NEVER: explicit admin calls only
    }

  /** Test hook: runs between the optimistic body and the publish lock. */
  private[graft] var beforeOptimisticPublish: () => Unit = () => ()

  // -------------------------------------------------------- commit callbacks

  /** Register a commit callback — the analog of the reference's
    * HoodieWriteCommitCallback (reference hudi-client-common/.../callback/
    * HoodieWriteCommitCallback.java + HoodieWriteCommitCallbackMessage):
    * invoked once per SUCCESSFUL data commit, after the instant publishes
    * and before control returns to the writer. The reference ships HTTP
    * and Kafka transports; here the transport is the caller's function
    * (zero-egress environment), the message carries the same fields. A
    * callback failure propagates like the reference's default
    * (the commit itself is already durable — callers choosing at-least-once
    * notification should catch inside the callback).
    */
  def registerCommitCallback(cb: GraftTable.CommitCallbackMessage => Unit): GraftTable = {
    commitCallbacks :+= cb
    this
  }
  private var commitCallbacks: Seq[GraftTable.CommitCallbackMessage => Unit] = Seq.empty

  /** Pre-commit validator (the reference line later grew the same hook as
    * SparkPreCommitValidator / SqlQueryEqualityPreCommitValidator, after
    * the surveyed snapshot): runs after the write's files land but BEFORE
    * the instant publishes. A throw ABORTS the commit — the new files are
    * deleted and the table is observationally untouched; a data pipeline
    * refuses a bad batch instead of publishing it. `newData` lazily reads
    * exactly this commit's output files.
    */
  def registerPreCommitValidator(v: GraftTable.PreCommitContext => Unit): GraftTable = {
    preCommitValidators :+= v
    this
  }
  private var preCommitValidators: Seq[GraftTable.PreCommitContext => Unit] = Seq.empty

  private def firePreCommitValidators(instant: String, opType: String,
      stats: Seq[WriteStat]): Unit =
    if (preCommitValidators.nonEmpty) {
      val ctx = GraftTable.PreCommitContext(instant, cfg.tableName, opType, stats,
        () => readEntriesRaw(stats.map(ws => FileEntry(ws.partitionPath, ws.fileId,
          instant, ws.path, ws.fileSizeInBytes, ws.isDelta,
          ws.minRecordKey, ws.maxRecordKey, ws.numWrites))))
      preCommitValidators.foreach(_(ctx))
    }

  private def fireCommitCallbacks(instant: String, opType: String,
      stats: Seq[WriteStat]): Unit =
    if (commitCallbacks.nonEmpty) {
      val msg = GraftTable.CommitCallbackMessage(
        instant, cfg.tableName, basePath.toString, opType,
        stats.map(_.numWrites).sum, stats.map(_.numDeletes).sum)
      commitCallbacks.foreach(_(msg))
    }

  /** Inline table services after a successful commit: MOR compaction every
    * N delta commits (reference inline compaction,
    * HoodieCompactionConfig.java:79-95) and timeline archiving.
    */
  private def postCommit(): Unit = {
    if (cfg.isMor && cfg.prop("graft.compact.inline", "true") == "true") {
      val n = cfg.propLong(ConfigKeys.CompactDeltaCommits, ConfigKeys.DefaultCompactDeltaCommits)
      val completed = timeline.completedInstants()
      val lastCompaction = completed.filter(_.action == Action.Compaction).lastOption
      val deltasSince = completed
        .filter(i => i.action == Action.DeltaCommit)
        .count(i => lastCompaction.forall(c => i.ts > c.ts))
      if (deltasSince >= n) Services.compact(this)
    }
    // inline clustering every N data commits (reference
    // HoodieClusteringConfig: hoodie.clustering.inline +
    // inline.max.commits, default 4) — small-file coalescing keeps pace
    // with ingest without a separate scheduler
    if (cfg.prop(ConfigKeys.ClusterInline, "false") == "true")
      Services.clusterIfDue(this,
        cfg.propLong(ConfigKeys.ClusterInlineMaxCommits, 4L))
    // CONSISTENT-bucket auto split (opt-in, the auto form of
    // Services.splitHotBuckets): hot buckets split as soon as a commit
    // grows them past the threshold, so capacity management keeps pace
    // with ingest hands-off. The re-entrancy guard keeps each split
    // replacecommit's own postCommit from re-running the service under a
    // pass that still holds the pre-split candidate list; the loop
    // converges within the commit (a single-commit overshoot >2x the
    // threshold leaves hot children, re-listed fresh each round) and the
    // depth cap bounds the rounds absolutely.
    if (ConsistentBuckets.enabled(cfg) &&
        cfg.prop(ConfigKeys.BucketSplitAuto, "false") == "true" &&
        !GraftTable.inAutoSplit.get()) {
      GraftTable.inAutoSplit.set(true)
      try while (Services.splitHotBuckets(this).nonEmpty) ()
      finally GraftTable.inAutoSplit.set(false)
    }
    // partition TTL after data commits (opt-in, the auto form of
    // Services.expirePartitions): calendar-window retention keeps pace
    // with ingest on date-partitioned tables. Recursion terminates: the
    // expiry replacecommit's own postCommit finds nothing left to expire.
    val ttlKeep = cfg.propLong(ConfigKeys.PartitionTtlKeepLast, -1L).toInt
    if (ttlKeep > 0) Services.expirePartitions(this, keepLast = ttlKeep)
    // record-level TTL (opt-in, the auto form of Services.expireRecords).
    // Terminates the same way: the expiry delete leaves no row below the
    // unchanged watermark, so ITS postCommit expires nothing.
    val ttlCol = cfg.prop(ConfigKeys.RecordTtlColumn, "")
    val ttlDays = cfg.propLong(ConfigKeys.RecordTtlKeepDays, -1L).toInt
    if (ttlCol.nonEmpty && ttlDays > 0)
      Services.expireRecords(this, ttlCol, ttlDays)
    // auto-clean after data commits (reference hoodie.clean.automatic,
    // CleanerUtils — runs with every commit there). Opt-in here: clean
    // bounds incremental-read lag to the retention window, and graft's
    // services are otherwise explicitly scheduled; flipping the default
    // would silently cap how far back incremental consumers may resume.
    if (cfg.prop(ConfigKeys.AutoClean, "false") == "true") {
      val retained = cfg.propLong(ConfigKeys.CleanerCommitsRetained,
        ConfigKeys.DefaultCleanerRetained.toLong).toInt
      // policy selection mirrors the reference's hoodie.cleaner.policy:
      // the retained count doubles as the version/hour budget
      val policy = cfg.prop(ConfigKeys.CleanPolicy, "KEEP_LATEST_COMMITS") match {
        case "KEEP_LATEST_FILE_VERSIONS" => Services.CleanPolicy.KeepLatestFileVersions(retained)
        case "KEEP_LATEST_BY_HOURS" => Services.CleanPolicy.KeepLatestByHours(retained)
        case _ => Services.CleanPolicy.KeepLatestCommits(retained)
      }
      Services.cleanWith(this, policy)
    }
    val maxCommits = cfg.propLong(ConfigKeys.ArchiveMaxCommits, 30L).toInt
    val minCommits = cfg.propLong(ConfigKeys.ArchiveMinCommits, 20L).toInt
    val completed = timeline.completedInstants()
    if (completed.size > maxCommits) {
      view.writeIndexSnapshot()
      val keepFrom = completed(completed.size - minCommits).ts
      timeline.archiveBefore(keepFrom)
    }
    // metrics publish LAST: the registry folds this commit plus anything
    // the inline services above committed, in one incremental refresh
    // (reference HoodieMetrics.updateCommitMetrics at end of commit)
    Metrics.refreshIfOn(this)
  }
}

/** Optimistic-concurrency conflict: another writer committed an
  * overlapping file group first (reference ConcurrentModificationException
  * from SimpleConcurrentFileWritesConflictResolutionStrategy). Retry the
  * write.
  */
final class WriteConflictException(msg: String) extends RuntimeException(msg)

/** Bulk-insert layout modes (reference execution/bulkinsert Partitioners). */
object SortMode {
  val GlobalSort = "GLOBAL_SORT"
  val PartitionSort = "PARTITION_SORT"
  val NoSort = "NONE"
  // Z-order / Hilbert initial layout (pass zorderColumns to bulkInsert)
  val SpatialCurve = "SPATIAL_CURVE"
}

object GraftTable {
  /** Re-entrancy guard for the auto bucket-split postCommit hook: the
    * split replacecommits it issues must not restart the service under
    * the pass that is still iterating the pre-split cover.
    */
  private[table] val inAutoSplit: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** extraMetadata key holding the commit's wall-clock duration. */
  val DurationMsKey = "graft.commit.durationMs"

  /** extraMetadata key stamped on a rescale replacecommit: the target
    * bucket count, matched against the `rescale.pending` marker by the
    * load-time heal.
    */
  val RescaleTargetKey = "graft.rescale.buckets"

  /** extraMetadata key holding the PRE-rescale bucket count — a rollback
    * that undoes the rescale commit flips the persisted config back to it
    * (files and config must never disagree on the routing count).
    */
  val RescaleFromKey = "graft.rescale.from"

  /** extraMetadata keys on an alter_partition audit commit: the previous
    * and the new partition expression. A rollback that undoes the commit
    * restores the previous expression (Services.rollbackInstant), and the
    * evolved flag stays — stored partitions may already be mixed-layout.
    */
  val PartitionExprOldKey = "graft.partition.expr.old"
  val PartitionExprNewKey = "graft.partition.expr.new"

  /** Marker persisted before a bucket rescale's commit starts: target
    * count + the timeline watermark at start (the heal only accepts a
    * marked replacecommit ABOVE the watermark as proof the rescale
    * published).
    */
  final case class RescalePending(target: Int, watermark: String)

  private[graft] def rescaleMarker(base: Path): Path =
    base.resolve(".graft").resolve("rescale.pending")

  /** Load-time heal for the rescale commit/config-flip gap (see
    * [[GraftTable.rescaleBuckets]]): a dangling marker whose commit
    * published flips the config now; one whose commit never landed is
    * simply cleared.
    */
  private def healPendingRescale(base: Path, cfg0: TableConfig): TableConfig = {
    val marker = rescaleMarker(base)
    if (!Storage.exists(marker)) cfg0
    else {
      val pending = Json.read[RescalePending](Storage.readString(marker))
      val tl = new Timeline(base)
      tl.init()
      val landed = tl.completedInstants().exists { i =>
        i.action == Action.ReplaceCommit && i.ts > pending.watermark &&
          CommitMetadata.fromJson(tl.readContent(i))
            .extraMetadata.get(RescaleTargetKey).contains(pending.target.toString)
      }
      val cfg =
        if (landed) {
          val updated = cfg0.copy(props = cfg0.props +
            (ConfigKeys.BucketIndexNumBuckets -> pending.target.toString))
          TableConfig.save(base, updated)
          updated
        } else cfg0
      Storage.deleteIfExists(marker)
      cfg
    }
  }

  /** What a commit callback receives (reference
    * HoodieWriteCommitCallbackMessage: commitTime + tableName + basePath;
    * operation and row counts added because every consumer immediately
    * wants them).
    */
  final case class CommitCallbackMessage(
      commitTime: String,
      tableName: String,
      basePath: String,
      operationType: String,
      numWrites: Long,
      numDeletes: Long)

  /** What a pre-commit validator sees: the pending commit's identity, its
    * write stats, and a lazy reader over EXACTLY the new files (call it
    * only if the check needs row-level data — stats-only validators stay
    * IO-free).
    */
  final case class PreCommitContext(
      commitTime: String,
      tableName: String,
      operationType: String,
      stats: Seq[WriteStat],
      newData: () => org.apache.spark.sql.DataFrame)

  /** Accept plain paths, file: URIs (the session catalog hands LOCATIONs
    * to data sources in URI form — often UNENCODED, so URI parsing gets a
    * textual fallback), and any Hadoop-resolvable scheme (hdfs://, s3a://),
    * which passes through untouched to FileSystem resolution.
    */
  def normalize(path: String): String =
    if (path.startsWith("file:"))
      try java.net.URI.create(path).getPath
      catch {
        case _: IllegalArgumentException =>
          val raw = path.stripPrefix("file:")
          if (raw.startsWith("/")) "/" + raw.dropWhile(_ == '/') else raw
      }
    else path

  /** Bootstrap modes (reference client/bootstrap/BootstrapMode.java:24-34). */
  object BootstrapMode {
    /** Adopt files in place — zero data rewrite, meta columns synthesized
      * at read. Requires a non-partitioned target.
      */
    val MetadataOnly = "METADATA_ONLY"
    /** Rewrite the source into table-owned, size-targeted, sorted base
      * files (one bulk insert). Pays the copy once; afterwards the table
      * is indistinguishable from a native load — partitioned layouts,
      * key-range clustering and footer stats all apply.
      */
    val FullRecord = "FULL_RECORD"
  }

  /** Create a table from existing parquet files (see [[BootstrapMode]]). */
  def bootstrap(spark: SparkSession, path: String, cfg: TableConfig,
      sourceFiles: Seq[String],
      mode: String = BootstrapMode.MetadataOnly): GraftTable = {
    val abs = sourceFiles.map { f =>
      if (new Path(f).isAbsolute) f else new java.io.File(f).getAbsolutePath
    }
    // adopted external files are not bucket-routed; a bucketed table must
    // load through bulk_insert/insert so every row lands in its bucket
    require(!(BucketIndex.enabled(cfg) && mode == BootstrapMode.MetadataOnly),
      "METADATA_ONLY bootstrap is not supported on BUCKET-indexed tables " +
        "(adopted files are not bucket-routed); use FULL_RECORD")
    val t = create(spark, path, cfg)
    mode match {
      case BootstrapMode.MetadataOnly => t.bootstrapCommit(abs)
      case BootstrapMode.FullRecord => t.bulkInsert(spark.read.parquet(abs: _*))
      case other => throw new IllegalArgumentException(s"unknown bootstrap mode '$other'")
    }
    t
  }

  /** Create a new table (errors if one exists at the path). */
  def create(spark: SparkSession, path0: String, cfg: TableConfig): GraftTable = {
    val path = normalize(path0)
    val base = new Path(path)
    require(!TableConfig.exists(base), s"table already exists at $path")
    Storage.mkdirs(base)
    // stamp the layout version (reference hoodie.table.version) so a
    // future layout change can refuse/upgrade instead of misreading
    val versioned =
      if (cfg.props.contains(ConfigKeys.TableVersion)) cfg
      else cfg.copy(props = cfg.props +
        (ConfigKeys.TableVersion -> ConfigKeys.CurrentTableVersion.toString))
    TableConfig.save(base, versioned)
    val t = new GraftTable(spark, base, versioned)
    // a NEW table at a reused path must not inherit the old table's
    // cached metrics fold (registry is JVM-wide, keyed by path)
    Metrics.reset(t)
    t
  }

  def load(spark: SparkSession, path0: String): GraftTable = {
    val base = new Path(normalize(path0))
    val cfg = TableConfig.load(base)
    // absent = version 1 (pre-versioning tables open normally); a FUTURE
    // version must refuse, not misread the newer layout
    val v = cfg.propLong(ConfigKeys.TableVersion, 1L)
    require(v <= ConfigKeys.CurrentTableVersion,
      s"table at $path0 has layout version $v, this build reads up to " +
        s"${ConfigKeys.CurrentTableVersion} — upgrade the library or run " +
        "TableAdmin.downgradeTable on a build that writes that version")
    new GraftTable(spark, base, healPendingRescale(base, cfg))
  }

  def createOrLoad(spark: SparkSession, path: String, cfg: TableConfig): GraftTable = {
    val base = new Path(normalize(path))
    if (TableConfig.exists(base)) load(spark, path) else create(spark, path, cfg)
  }
}
