package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TableConfig, TableType}
import graft.read.Readers
import graft.table.{GraftTable, IncrementalSync}

/** INCREMENTAL near-dup dedup service for 64-BIT HASH operators — the
  * [[DedupService]] (MinHash) mechanics generalized to any row-local
  * id → hash extractor: image pHash ([[ImageHash]]), audio fingerprints
  * ([[AudioHash]]), SimHash. Maintains a near-dup-free `clean` table from
  * an append-shaped `source`, per-tick cost proportional to the NEW data.
  *
  * The persisted state is ONE graft table under `indexPath`:
  *
  *  - `bands` (band, bucket, doc_id, hash) — one row per 16-bit hash
  *    slice per doc EVER SEEN (kept and dropped: a dropped doc keeps
  *    vetoing its later near-dups, matching from-scratch semantics).
  *    PARTITIONED BY `pmod(bucket, P)` so a tick's probe reads only the
  *    partitions its own slice values hash into (plan-time pruning —
  *    probe IO ∝ tick fan-out, not corpus). The full hash rides in the
  *    band row, so candidate verification (`bit_count(xor) <= maxDist`)
  *    needs no second lookup table — unlike MinHash signatures, the
  *    verifier is 8 bytes.
  *
  * Each tick ([[graft.table.IncrementalSync]] plans it and owns the
  * checkpoint marks): pull the new rows → hash (rows the extractor
  * cannot hash — undecodable media — pass through unhashed: they are
  * kept and not indexed) → candidates from an in-batch band self-join
  * plus the pruned index probe → Hamming verify → losers dropped,
  * survivors upserted into `clean` with the marks, and the tick's band
  * rows appended to the index.
  *
  * Crash/replay and rollback-rewind behavior are identical to
  * [[DedupService]] (index appends land first; duplicate band rows are
  * harmless — replayed self-postings are anti-joined out of the probe;
  * a source rollback wipes index+clean once and rebuilds from the
  * surviving snapshot). When batches arrive in nondecreasing id order
  * the clean table is bit-identical to a from-scratch pairwise hash
  * dedup of the full corpus; out of order it is first-seen-wins — an
  * already-indexed doc vetoes any later near-dup arrival regardless of
  * id order, so the clean table stays near-dup-free either way.
  */
object HashDedupService {

  val SyncKeys = IncrementalSync.Keys("graft.hashdedup.source")
  private val BucketPartsKey = "graft.hashdedup.bucket.partitions"
  private val MaxDistKey = "graft.hashdedup.max.dist"
  private val BandsKey = "graft.hashdedup.bands"

  final case class HashIndex(bands: GraftTable) {
    def bucketParts: Int = bands.cfg.propLong(BucketPartsKey, 64L).toInt
    def maxDist: Int = bands.cfg.propLong(MaxDistKey, 3L).toInt
    def numBands: Int = bands.cfg.propLong(BandsKey, 4L).toInt
  }

  def openIndex(spark: SparkSession, indexPath: String,
      bucketParts: Int = 64, maxDist: Int = 3, bands: Int = 4): HashIndex = {
    require(64 % bands == 0 && maxDist < bands,
      s"need bands | 64 and maxDist < bands for exact banded recall (got $bands, $maxDist)")
    HashIndex(GraftTable.createOrLoad(spark, s"$indexPath/bands", TableConfig(
      "hashdedup_bands", TableType.CopyOnWrite,
      Seq("band", "bucket", "doc_id"),
      s"concat('p=', cast(pmod(bucket, $bucketParts) as string))", "",
      Map(BucketPartsKey -> bucketParts.toString, MaxDistKey -> maxDist.toString,
        BandsKey -> bands.toString))))
  }

  def lastCheckpoint(clean: GraftTable): Option[String] =
    IncrementalSync.checkpoint(clean, SyncKeys)

  /** One tick. `hashOf` maps a frame of source rows to (idCol, hash:
    * LONG), at most one row per input row; inputs it drops are kept
    * unconditionally (nothing to compare). Returns the clean-table commit
    * ts, or None when the source has nothing new. Matching parameters
    * come from the INDEX (persisted at openIndex).
    */
  def sync(source: GraftTable, clean: GraftTable, index: HashIndex,
      hashOf: DataFrame => DataFrame, idCol: String = "doc_id"): Option[String] = {
    val work = IncrementalSync.plan(source, clean, SyncKeys) match {
      case IncrementalSync.Idle => return None
      case w: IncrementalSync.Work => w
    }
    // ghost postings from rolled-back docs would veto live arrivals
    if (work.recovering) IncrementalSync.wipe(clean, index.bands)
    val bands = index.numBands
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1

    val pulled = IncrementalSync.pull(source, work)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hashes = hashOf(pulled)
        .select(col(idCol).cast("long").as("_h_id"), col("hash").cast("long").as("_h_hash"))
      val slices = array((0 until bands).map(i =>
        shiftrightunsigned(col("_h_hash"), i * width).bitwiseAND(lit(mask))): _*)
      val bandRows = hashes
        .select(col("_h_id"), col("_h_hash"), posexplode(slices).as(Seq("band", "bucket")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // (a) in-batch candidates: band equi-self-join, each pair once
        val l = bandRows.select(col("band"), col("bucket"),
          col("_h_id").as("_l_id"), col("_h_hash").as("_l_hash"))
        val r = bandRows.select(col("band"), col("bucket"),
          col("_h_id").as("_r_id"), col("_h_hash").as("_r_hash"))
        val batchPairs = l.join(r, Seq("band", "bucket"))
          .filter(col("_l_id") < col("_r_id"))
          .select("_l_id", "_l_hash", "_r_id", "_r_hash")

        // (b) corpus candidates: probe ONLY the index partitions this
        // tick's slice values hash into (plan-time pruning). Postings
        // whose doc_id is in the CURRENT batch are anti-joined away first
        // — they exist only when a crashed tick's index append replays,
        // and without the exclusion a replayed doc would veto itself (and
        // its same-batch companions, in both directions) out of the
        // corpus. With self-postings gone, a stored doc vetoes a new
        // arrival REGARDLESS of id order (no l < r constraint here):
        // first-seen-wins, so a late arrival with a lower id than its
        // already-indexed near-dup is still dropped and the clean table
        // stays near-dup-free. In-batch ties keep min-id-wins via (a).
        val indexPairs =
          if (index.bands.timeline.completedDataInstants().isEmpty) None
          else {
            val parts = bandRows
              .select(pmod(col("bucket"), lit(index.bucketParts.toLong)).as("p"))
              .distinct().collect().map(x => s"p=${x.getLong(0)}").toSeq
            val batchIds = hashes.select(col("_h_id").as("doc_id")).distinct()
            val stored = Readers.snapshot(index.bands, partitions = Some(parts))
              .join(batchIds, Seq("doc_id"), "left_anti")
              .select(col("band"), col("bucket"),
                col("doc_id").as("_l_id"), col("hash").as("_l_hash"))
            Some(stored.join(r, Seq("band", "bucket"))
              .select("_l_id", "_l_hash", "_r_id", "_r_hash"))
          }
        // the hash IS the verifier — no sig lookup; distinct AFTER the
        // cheap Hamming filter keeps the exchange small
        val dups = indexPairs.map(batchPairs.unionByName(_)).getOrElse(batchPairs)
          .filter(bit_count(col("_l_hash").bitwiseXOR(col("_r_hash"))) <= index.maxDist)
          .select(col("_r_id").as("_dup_id")).distinct()
          .localCheckpoint(eager = true)

        val survivors = pulled.join(dups,
          col(idCol).cast("long") === col("_dup_id"), "left_anti")

        // index appends FIRST (crash-replay safe), then the clean commit
        // carries the checkpoint
        index.bands.insert(bandRows.select(
          col("band"), col("bucket"), col("_h_id").as("doc_id"),
          col("_h_hash").as("hash")))
        Some(clean.upsert(survivors, extraMetadata = work.marks))
      } finally bandRows.unpersist()
    } finally pulled.unpersist()
  }
}
