package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ConfigKeys, TableConfig, TableType}
import graft.read.Readers
import graft.table.{GraftTable, IncrementalSync}

/** INCREMENTAL exact-substring span dedup as a table service — the 100 TB
  * form of [[Dedup.exactSpanDedup]]: maintain a boilerplate-cut `clean`
  * table from an append-shaped `source` documents table, with per-tick
  * cost proportional to the NEW data. A from-scratch corpus-wide window
  * count per arrival batch would be O(corpus) per tick.
  *
  * Semantics: a k-token window in a new document is cut iff its text
  * occurs twice+ within the current tick (the batch rule, applied
  * tick-locally — all in-tick occurrences cut) or was seen in ANY
  * earlier tick. Across ticks this is first-copy-preserving: the tick
  * that introduced a passage keeps it (already published), every later
  * arrival loses it. Deliberately weaker than batch ExactSubstr, which
  * cuts all occurrences — a streaming service cannot retroactively
  * rewrite documents it already published without unbounded write
  * amplification, and one surviving intact context is the standard
  * first-seen-wins trade.
  *
  * State: ONE graft table under `indexPath` mapping window fingerprint →
  * the LOWEST doc id that ever carried it, keyed by `fp`, PARTITIONED BY
  * `pmod(abs(xxhash64(fp)), P)` — a tick's probe computes its distinct
  * fp-hash partitions and reads only those (plan-time pruning bounds
  * probe IO by the tick's window fan-out, not the corpus). The
  * EVENT_TIME payload on a negated-id precombine keeps the smallest
  * owner id under replays and appends, which makes the service
  * crash-idempotent: a replayed tick (index appended, clean commit lost)
  * re-probes and finds each unique window still owned by ITS OWN doc —
  * owner≠current is the cut condition, so nothing self-cuts; duplicated
  * windows cut exactly as the original run did.
  *
  * Each tick ([[graft.table.IncrementalSync]] plans it and owns the
  * checkpoint marks): pull the new docs → window fingerprints
  * (row-local) → duplicated starts from (a) an in-tick fingerprint count
  * and (b) the pruned index probe with owner≠current → row-local span
  * surgery → cleaned docs upserted into `clean` with the marks; the
  * tick's fingerprints upsert into the index FIRST (replay-safe, see
  * above). A source rollback wipes index + clean once and rebuilds:
  * fingerprints owned by rolled-back docs would cut spans out of new
  * docs forever.
  */
object SpanDedupService {

  val SyncKeys = IncrementalSync.Keys("graft.spans.source")
  private val PartsKey = "graft.spans.fp.partitions"
  private val WindowKey = "graft.spans.window.k"

  /** Create (or load) the persisted fingerprint index. The window size
    * persists as an index property and every tick reads it back — stored
    * fingerprints were computed with it, so a drifting per-call k would
    * silently stop matching.
    */
  def openIndex(spark: SparkSession, indexPath: String,
      fpParts: Int = 64, k: Int = 20): GraftTable =
    GraftTable.createOrLoad(spark, indexPath, TableConfig(
      "span_fps", TableType.CopyOnWrite,
      Seq("fp"),
      s"concat('p=', cast(pmod(abs(xxhash64(fp)), $fpParts) as string))",
      "neg_id",
      Map(PartsKey -> fpParts.toString, WindowKey -> k.toString,
        // highest neg_id wins = LOWEST doc id stays the owner forever
        ConfigKeys.Payload -> "EVENT_TIME")))

  def lastCheckpoint(clean: GraftTable): Option[String] =
    IncrementalSync.checkpoint(clean, SyncKeys)

  /** One tick. Returns the clean-table commit ts, or None when the
    * source has nothing new.
    */
  def sync(source: GraftTable, clean: GraftTable, index: GraftTable,
      textCol: String = "text", idCol: String = "doc_id"): Option[String] = {
    val k = index.cfg.propLong(WindowKey, 20L).toInt
    val fpParts = index.cfg.propLong(PartsKey, 64L).toInt
    val work = IncrementalSync.plan(source, clean, SyncKeys) match {
      case IncrementalSync.Idle => return None
      case w: IncrementalSync.Work => w
    }
    if (work.recovering) IncrementalSync.wipe(clean, index)

    val pulled = IncrementalSync.pull(source, work)
    val dataCols = pulled.columns
    val toks = pulled
      .withColumn("_sd_ts", split(col(textCol), " "))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wins = toks.select(col(idCol),
          posexplode(expr(Dedup.windowFpsExpr(k))).as(Seq("_sd_s", "_sd_fp")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // (a) duplicated WITHIN the tick: one fingerprint-keyed count
        // window — the windows relation moves once, as in the batch op
        val batchDup = wins
          .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_sd_fp"))))
          .filter(col("_n") >= 2).select(col(idCol), col("_sd_s"))
        // (b) seen in an EARLIER tick: probe only the index partitions
        // this tick's fingerprints hash into; owner≠current makes a
        // replayed tick's own unique windows invisible (crash-idempotence)
        val indexDup =
          if (index.timeline.completedDataInstants().isEmpty) None
          else {
            val parts = wins
              .select(pmod(abs(xxhash64(col("_sd_fp"))), lit(fpParts.toLong)).as("p"))
              .distinct().collect().map(r => s"p=${r.getLong(0)}").toSeq
            val seen = Readers.snapshot(index, partitions = Some(parts))
              .select(col("fp"), col("owner_id"))
            Some(wins.join(seen, col("_sd_fp") === col("fp"))
              .filter(col("owner_id") =!= col(idCol))
              .select(col(idCol), col("_sd_s")))
          }
        val dupStarts = indexDup.map(batchDup.unionByName(_)).getOrElse(batchDup)
          .distinct()
          .groupBy(col(idCol)).agg(collect_set(col("_sd_s")).as("_sd_starts"))

        val cleaned = toks.join(dupStarts, Seq(idCol), "left_outer")
          .withColumn("_sd_starts",
            coalesce(col("_sd_starts"), expr("array()").cast("array<int>")))
          .withColumn(textCol, array_join(expr(Dedup.cutSpansExpr(k)), " "))
          .select(dataCols.toIndexedSeq.map(col): _*)

        // index upsert FIRST (crash-replay safe — see scaladoc): one row
        // per fingerprint, lowest owner wins via the EVENT_TIME payload
        index.upsert(wins
          .groupBy(col("_sd_fp").as("fp"))
          .agg(min(col(idCol)).as("owner_id"))
          .withColumn("neg_id", -col("owner_id")))
        Some(clean.upsert(cleaned, extraMetadata = work.marks))
      } finally wins.unpersist()
    } finally toks.unpersist()
  }
}
