package graft.table

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.read.Readers

/** The timeline fold behind every value → file-group index ([[RecordIndex]],
  * [[SecondaryIndex]]): an INTERNAL copy-on-write graft table, partitioned
  * `b=<bucket>` with `bucket = xxhash64(value) mod buckets`, whose commits
  * record the outer instant they applied — the reference's HBase index
  * keeps the same key → fileId map, housed the way its metadata table is.
  *
  * The index is derived purely from the OUTER timeline:
  *  - after each data commit the freshly written files (base and delta)
  *    are read back and their (value → group) pairs upserted, the applied
  *    outer instant stamped into the inner commit's `extraMetadata`.
  *    Replacecommits (clustering, insert_overwrite) remap every surviving
  *    row the same way; compaction keeps group ids, so mappings stay valid;
  *  - instants the index has not applied (foreign writers, inline services)
  *    are CAUGHT UP at the next sync by replaying their commit metadata in
  *    timestamp order;
  *  - a timeline rewind (rollback/restore removed the applied instant) or a
  *    catch-up that outlived its inputs (cleaned files) REBUILDS from the
  *    current snapshot. The index is disposable derived state, never the
  *    source of truth.
  *
  * Nothing here depends on which index a [[Descriptor]] describes.
  */
object DerivedIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One maintained index. Every stored string is the on-disk contract —
    * changing one orphans the indexes already persisted under it.
    *  - `path`: the inner table's base path;
    *  - `appliedKey`: the inner-commit `extraMetadata` key holding the
    *    outer instant applied;
    *  - `tableName`, `recordKey`: the inner table's name and record key;
    *  - `prefix`: the inner columns are `<prefix>part`, `<prefix>fid`,
    *    `<prefix>bucket`, `<prefix>ord` (the applied outer instant, the
    *    precombine field) and the value column `valueCol`;
    *  - `bucketsKey`: the OUTER config key that pins the bucket count;
    *  - `value`: the mapping projection over outer rows carrying the meta
    *    columns. Null values are not indexed.
    */
  final case class Descriptor(path: Path, appliedKey: String, tableName: String,
      prefix: String, valueCol: String, recordKey: Seq[String], bucketsKey: String,
      value: Column) {
    val partCol: String = s"${prefix}part"
    val fidCol: String = s"${prefix}fid"
    val bucketCol: String = s"${prefix}bucket"
    val ordCol: String = s"${prefix}ord"

    /** The inner table's config; the bucket count is pinned HERE so every
      * later probe and replay hashes exactly like the persisted layout.
      * The inner table's own index stays SIMPLE (ends the recursion).
      */
    def innerCfg(buckets: Int): TableConfig = TableConfig(
      tableName, TableType.CopyOnWrite, recordKey, s"concat('b=', $bucketCol)", ordCol,
      Map(ConfigKeys.IndexType -> "SIMPLE",
        ConfigKeys.RecordIndexBuckets -> buckets.toString))

    /** The mapping frame's columns in stored order. */
    private[table] def columns: Seq[String] =
      recordKey.filterNot(_ == fidCol) ++ Seq(bucketCol, fidCol, ordCol)
  }

  // ---------------------------------------------------------------- buckets

  /** Bucket count AT REBUILD TIME: the outer table's explicit `bucketsKey`
    * wins; otherwise one bucket per ~keys.per.bucket live rows, floor 16,
    * cap 65536 — a fixed 16 would make each index file group ~table-size/16,
    * far past target file sizes on big tables (the reference's metadata
    * table sizes its file groups the same stats-driven way). Live row
    * counts come from commit stats — zero IO.
    */
  private def autoBuckets(t: GraftTable, d: Descriptor): Int =
    t.cfg.props.get(d.bucketsKey).map(_.toInt).getOrElse {
      val perBucket = math.max(1L, t.cfg.propLong(
        ConfigKeys.RecordIndexKeysPerBucket, ConfigKeys.DefaultRecordIndexKeysPerBucket))
      val liveRows = t.view.fileSlices(None).flatMap(_.baseFile).map(_.numRecords).sum
      val n = math.ceil(liveRows.toDouble / perBucket).toLong
      math.max(ConfigKeys.DefaultRecordIndexBuckets,
        math.min(ConfigKeys.MaxRecordIndexBuckets, n)).toInt
    }

  /** The count a PERSISTED index was built with — hashing must stay
    * consistent with its `b=<bucket>` layout until the next rebuild.
    */
  def storedBuckets(inner: GraftTable): Int =
    inner.cfg.propLong(ConfigKeys.RecordIndexBuckets,
      ConfigKeys.DefaultRecordIndexBuckets).toInt

  /** The persisted bucket expression. */
  def bucketOf(value: Column, n: Int): Column =
    pmod(abs(xxhash64(value)), lit(n.toLong)).cast("int")

  /** [[bucketOf]] for driver-resident values: the same Catalyst expression,
    * resolved once against a one-string-column relation and interpreted
    * per value on the driver — no Spark job, and parity with the stored
    * layout holds by construction.
    */
  def bucketsOf(spark: SparkSession, values: Seq[String], n: Int): Seq[Int] = {
    val in = spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(Seq(StructField("_v", StringType))))
    val plan = in.select(bucketOf(col("_v"), n)).queryExecution.analyzed
    val e = plan.expressions.head match {
      case a: Alias => a.child
      case other => other
    }
    val bound = BindReferences.bindReference(e, plan.children.head.output)
    values.map(v => bound.eval(InternalRow(UTF8String.fromString(v))).asInstanceOf[Int])
  }

  // ---------------------------------------------------------------- sync

  /** The outer instant the inner table last applied. Applied instants only
    * grow across inner commits (a rewind deletes and recreates the inner
    * table), so the newest commit carrying the key holds the watermark.
    */
  def lastApplied(inner: GraftTable, d: Descriptor): Option[String] =
    IncrementalSync.marks(inner, d.appliedKey).get(d.appliedKey)

  /** Bring the index up to date with the outer timeline: load-or-rebuild,
    * then replay unapplied instants.
    */
  private[table] def sync(t: GraftTable, d: Descriptor): GraftTable = {
    val outer = t.timeline.completedDataInstants()
    val loaded =
      if (TableConfig.exists(d.path)) {
        val inner = GraftTable.load(t.spark, d.path.toString)
        // applied instant gone from the timeline ⇒ rollback/restore undid
        // state the index absorbed; mappings may point at resurrected old
        // groups — rebuild (so does a virgin index)
        lastApplied(inner, d).filter(ts => outer.exists(_.ts == ts)).map(inner -> _)
      } else None
    loaded match {
      case None => rebuild(t, d)
      case Some((inner, ts)) =>
        val unapplied = outer.filter(_.ts > ts)
        if (unapplied.isEmpty) inner
        else
          try replay(t, d, inner, unapplied)
          catch {
            case NonFatal(e) =>
              // catch-up can outlive its inputs (cleaned files) — rebuild
              log.info(s"index catch-up failed for ${d.path} (${e.getMessage}); rebuilding")
              rebuild(t, d)
          }
    }
  }

  /** [[sync]], degrading to None with one warning naming `fallback`. */
  private[table] def synced(t: GraftTable, d: Descriptor, fallback: String): Option[GraftTable] =
    try Some(sync(t, d))
    catch {
      case NonFatal(e) =>
        log.warn(s"index sync failed for ${d.path}; $fallback: $e")
        None
    }

  /** Best-effort eager maintenance after a published commit: pays the
    * (changeset-sized) replay at write time so reads stay flat. A failure
    * only defers the work to the next read's sync. No descriptors, no IO.
    */
  private[table] def maybeSync(t: GraftTable, ds: Seq[Descriptor]): Unit =
    ds.foreach(d => synced(t, d, "the commit is durable, the next read catches up"))

  /** Replay `instants` (ascending) in ONE upsert: read back each commit's
    * written files — the scan is the changeset, not the table — and upsert
    * their mappings. Delta delete rows carry no mapping (the tombstone
    * lives in the row's current group, so the existing mapping stays
    * correct). A projection that does not resolve against the changeset
    * (files predating a referenced column) contributes nothing; the
    * watermark still advances, as it does for metadata-only commits
    * (`deletePartitions`), which would otherwise replay forever.
    */
  private def replay(t: GraftTable, d: Descriptor, inner: GraftTable,
      instants: Seq[GraftInstant]): GraftTable = {
    val entries = instants.flatMap { i =>
      val md = CommitMetadata.fromJson(t.timeline.readContent(i))
      md.writeStats.filter(_.numWrites > 0).map(ws => FileEntry(
        ws.partitionPath, ws.fileId, i.ts, ws.path, ws.fileSizeInBytes, ws.isDelta,
        ws.minRecordKey, ws.maxRecordKey, ws.numWrites))
    }
    val frame =
      if (entries.isEmpty) emptyMappings(t.spark, d)
      else {
        val raw = t.readEntriesRaw(entries)
        val rows =
          if (raw.columns.contains(WritePipeline.DeleteCol))
            raw.filter(!coalesce(col(WritePipeline.DeleteCol), lit(false)))
          else raw
        try mappings(rows, d, storedBuckets(inner), col(MetaCols.CommitTime))
        catch { case _: org.apache.spark.sql.AnalysisException => emptyMappings(t.spark, d) }
      }
    inner.upsert(frame, Map(d.appliedKey -> instants.map(_.ts).max))
    inner
  }

  /** Full rebuild from the current snapshot: one distributed scan of the
    * mapped value, then the index restarts from the latest instant. MOR
    * tombstones are already merged out of the snapshot.
    */
  private def rebuild(t: GraftTable, d: Descriptor): GraftTable = {
    WritePipeline.deleteRecursively(d.path)
    val n = autoBuckets(t, d)
    val inner = GraftTable.create(t.spark, d.path.toString, d.innerCfg(n))
    t.timeline.completedDataInstants().lastOption.foreach { last =>
      inner.upsert(mappings(Readers.snapshot(t), d, n, lit(last.ts)),
        Map(d.appliedKey -> last.ts))
    }
    inner
  }

  /** Project (value, partition, fileGroup) mappings out of rows carrying
    * the meta columns. The fileId prefix of `_hoodie_file_name` is the
    * file-group id ([[WritePipeline.newFileIdPrefix]] guarantees it is
    * `_`-free); a merged MOR row's latest file is a delta of the SAME
    * group, so the derived id is the group id either way.
    */
  private def mappings(rows: DataFrame, d: Descriptor, buckets: Int, ord: Column): DataFrame = {
    val byName = Map(
      d.valueCol -> d.value,
      d.partCol -> col(MetaCols.PartitionPath),
      d.bucketCol -> bucketOf(d.value, buckets),
      d.fidCol -> substring_index(col(MetaCols.FileName), "_", 1),
      d.ordCol -> ord.cast("string"))
    rows.filter(d.value.isNotNull).select(d.columns.map(c => byName(c).as(c)): _*)
  }

  private def emptyMappings(spark: SparkSession, d: Descriptor): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), StructType(d.columns.map(c =>
      if (c == d.bucketCol) StructField(c, IntegerType, nullable = false)
      else StructField(c, StringType))))

  // ---------------------------------------------------------------- probe

  /** The LIVE groups that may hold rows whose value is in `values`: bucket
    * the values on the driver, plan-time-prune the index read to those
    * buckets, and intersect the mapped groups with the live group set —
    * mappings into dead groups (clustering remaps, dropped partitions)
    * must not count as IO. Driver state is bounded by the MATCHING groups.
    */
  def probe(t: GraftTable, inner: GraftTable, d: Descriptor,
      values: Seq[String]): Set[(String, String)] =
    if (values.isEmpty || inner.timeline.completedDataInstants().isEmpty) Set.empty
    else {
      val buckets = bucketsOf(t.spark, values, storedBuckets(inner)).distinct.map(b => s"b=$b")
      val mapped = Readers.snapshot(inner, partitions = Some(buckets))
        .filter(col(d.valueCol).isin(values: _*))
        .select(col(d.partCol), col(d.fidCol)).distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      mapped.intersect(t.view.fileSlices(None).map(s => (s.partitionPath, s.fileId)).toSet)
    }

  /** Sync, then [[probe]]; None (one warning logged) when the sync failed —
    * the caller falls back to a filtered snapshot scan.
    */
  def probeSynced(t: GraftTable, d: Descriptor,
      values: Seq[String]): Option[Set[(String, String)]] =
    synced(t, d, "falling back to a filtered snapshot scan").map(probe(t, _, d, values))
}
