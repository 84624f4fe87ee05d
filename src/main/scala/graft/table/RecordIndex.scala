package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.read.Readers

/** Opt-in RECORD-level index (`graft.index.type=RECORD`) — an exact
  * key → file-group mapping persisted as an INTERNAL graft table, the
  * metadata-table evolution of the reference's index hierarchy (the
  * reference's HBaseIndex holds the same key → fileId mapping in an
  * external store, reference hudi-client/hudi-spark-client/.../index/
  * hbase/SparkHoodieHBaseIndex.java:120-215; housing it in an internal
  * transactional table keeps the engine self-contained the way the
  * reference's metadata table houses its file listings,
  * hudi-common/.../metadata/).
  *
  * Why it exists: SIMPLE tagging scans the key column of every
  * range-surviving base file in the batch's partitions, and BLOOM still
  * probes per-file membership before a verification scan. Both are
  * O(affected-partition data). The record index makes tagging
  * O(changeset): the incoming batch equi-joins one bucketed index table
  * whose touched buckets prune at plan time, and the mapping is
  * authoritative — no verification scan at all. At 100 TB / ~10^9 keys,
  * with `graft.index.record.buckets` sized to a few thousand, a tag reads
  * only the probed buckets' parquet — megabytes, not terabytes.
  *
  * Layout: `<base>/.graft/record_index` is a COPY_ON_WRITE graft table,
  * record key (`_ri_part`, `_ri_key`), partitioned `b=<bucket>` where
  * `bucket = xxhash64(recordKey) mod buckets`, precombine `_ri_ord` (the
  * outer instant that produced the mapping, so replays and catch-up
  * batches resolve to the newest location).
  *
  * Maintenance is the [[DerivedIndex]] fold over the OUTER timeline:
  * eager replay of each commit's written files, catch-up of foreign
  * instants at the next tag, and a full rebuild — one distributed key
  * scan, the cost of a single SIMPLE tag — after a timeline rewind.
  *
  * Staleness semantics at tag time: mappings are validated against the
  * live file-group set, so a key whose group was replaced and not
  * rewritten (dropped partitions, deleted keys) degrades to an insert —
  * never a write into a dead group. A deleted key's surviving mapping to
  * a LIVE group is harmless: the merge finds no stored row and the
  * incoming record lands in that group as an insert.
  *
  * Tagging is per-(partition, key) — non-global semantics, matching
  * SIMPLE. [[GraftTable.upsertGlobal]] keeps its global key scan.
  */
object RecordIndex {

  def enabled(cfg: TableConfig): Boolean =
    cfg.prop(ConfigKeys.IndexType, "SIMPLE") == "RECORD"

  def indexPath(t: GraftTable): org.apache.hadoop.fs.Path = {
    import graft.core.Storage.PathOps
    t.basePath.resolve(".graft").resolve("record_index")
  }

  /** The inner table of the layout note above. */
  def descriptor(t: GraftTable): DerivedIndex.Descriptor = DerivedIndex.Descriptor(
    indexPath(t), "graft.record.index.applied", "record_index", "_ri_",
    "_ri_key", Seq("_ri_part", "_ri_key"), ConfigKeys.RecordIndexBuckets,
    col(MetaCols.RecordKey))

  /** The descriptors the post-commit hook syncs. */
  private[table] def descriptors(t: GraftTable): Seq[DerivedIndex.Descriptor] =
    if (enabled(t.cfg)) Seq(descriptor(t)) else Nil

  /** The bucket count a persisted index was built with. */
  def storedBuckets(inner: GraftTable): Int = DerivedIndex.storedBuckets(inner)

  // ------------------------------------------------------------- tagging

  /** Tag the keyed batch via the record index: sync (catch-up or rebuild
    * as needed), probe the touched buckets, validate mapped groups against
    * the live set. Returns None — caller falls back to SIMPLE tagging —
    * only when sync itself failed (and logs why).
    */
  private[table] def tag(t: GraftTable, keyed: DataFrame): Option[DataFrame] = {
    val d = descriptor(t)
    val inner = DerivedIndex.synced(t, d, "falling back to SIMPLE tagging")
      .getOrElse(return None)
    // empty index (outer table has no commits yet): everything inserts
    if (inner.timeline.completedDataInstants().isEmpty)
      return Some(keyed.withColumn(WritePipeline.FileIdCol, lit(null).cast("string")))
    val n = storedBuckets(inner)
    // touched buckets → plan-time partition pruning on the index read; the
    // distinct is bounded by the bucket count, one narrow pass
    val touched = keyed
      .select(DerivedIndex.bucketOf(col(MetaCols.RecordKey), n).as("_b")).distinct()
      .collect().map(r => s"b=${r.getInt(0)}").toSeq
    val idx = Readers.snapshot(inner, partitions = Some(touched))
      .select(col(d.partCol), col(d.valueCol), col(d.fidCol))
    val joined = keyed.join(idx,
      col(MetaCols.RecordKey) === col(d.valueCol) &&
        col(MetaCols.PartitionPath) === col(d.partCol),
      "left_outer")
    // validate against live groups: a mapping into a replaced/cleaned
    // group (dropped partition, deleted key whose group died) must become
    // an insert — entries for dead groups are invisible to every reader,
    // so writing into one would lose the rows. The live set is the
    // driver-resident view state (same residency as FileSystemView).
    val live = t.view.fileSlices(None).map(s => (s.partitionPath, s.fileId))
    val spark = t.spark
    import spark.implicits._
    val liveDf = live.toDF("_lv_part", "_lv_fid")
    Some(joined
      .join(liveDf,
        col(MetaCols.PartitionPath) === col("_lv_part") &&
          col(d.fidCol) === col("_lv_fid"),
        "left_outer")
      .withColumn(WritePipeline.FileIdCol,
        when(col("_lv_fid").isNotNull, col(d.fidCol)))
      .drop(d.partCol, d.valueCol, d.fidCol, "_lv_part", "_lv_fid"))
  }
}
