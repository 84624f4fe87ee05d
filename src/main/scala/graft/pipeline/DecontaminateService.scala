package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TableConfig, TableType}
import graft.read.Readers
import graft.table.{GraftTable, IncrementalSync}

/** INCREMENTAL benchmark decontamination as a table service — the 100 TB
  * form of [[Decontaminate.decontaminate]]: maintain a leakage-free
  * `clean` table from an append-shaped `source` documents table, probing
  * ONLY each tick's new documents against a persisted benchmark shingle
  * index. A from-scratch pass would re-shingle the whole corpus per
  * arrival batch.
  *
  * Contamination is ORDER-INDEPENDENT (a doc is contaminated iff it
  * shares an n-gram with the FIXED benchmark set — no cross-document
  * state), so unlike the dedup services the incremental result is
  * bit-identical to the batch operator under ANY arrival order, and
  * replays are trivially idempotent (the probe is read-only; the clean
  * upsert is keyed).
  *
  * State: ONE graft table under `indexPath` holding the benchmark's
  * DISTINCT shingles, PARTITIONED BY `pmod(abs(xxhash64(s)), P)` — a
  * tick's probe computes its own shingles' partitions and reads only
  * those, so probe IO ∝ the tick's shingle fan-out, not the benchmark.
  * [[updateBenchmark]] upserts new benchmark suites into the same index
  * (keyed by shingle, so re-registration is idempotent); docs already
  * published before a suite was added are NOT retroactively rewritten —
  * re-run a batch [[Decontaminate.decontaminate]] over `clean` for that
  * (the standard backfill).
  */
object DecontaminateService {

  val SyncKeys = IncrementalSync.Keys("graft.decon.source")
  private val PartsKey = "graft.decon.fp.partitions"
  private val ShingleKey = "graft.decon.shingle.n"

  /** Create (or load) the benchmark shingle index. `n` persists as an
    * index property and every tick reads it back — stored shingles were
    * computed with it. Rows are keyed `(s, suite)` so the SAME shingle
    * can belong to several eval suites (graded mode thresholds per
    * suite); partitioning stays shingle-hash only, so a tick's probe
    * reads the same partitions regardless of suite count.
    */
  def openIndex(spark: SparkSession, indexPath: String,
      fpParts: Int = 64, n: Int = 8): GraftTable = {
    val t = GraftTable.createOrLoad(spark, indexPath, TableConfig(
      "decon_shingles", TableType.CopyOnWrite,
      Seq("s", "suite"),
      s"concat('p=', cast(pmod(abs(xxhash64(s)), $fpParts) as string))", "",
      Map(PartsKey -> fpParts.toString, ShingleKey -> n.toString)))
    requireSuiteKeyedIndex(t)
    t
  }

  /** Refuse a LEGACY index (keyed by shingle alone, no `suite` column —
    * created before graded mode). Upserting suite-tagged rows into it
    * would collapse two suites sharing a shingle onto one row, and
    * graded sync would fail mid-tick on the missing column; an explicit
    * rebuild instruction beats either. Checked at open AND at every
    * update/sync entry (callers can hold a directly-loaded handle).
    */
  private def requireSuiteKeyedIndex(index: GraftTable): Unit =
    require(index.cfg.recordKeyFields == Seq("s", "suite"),
      s"legacy decontamination index at ${index.basePath}: keyed by " +
        s"${index.cfg.recordKeyFields.mkString("(", ",", ")")} instead of " +
        "(s,suite) — it predates per-suite (graded) registration. Rebuild " +
        "it: delete the index path, openIndex again, and re-register every " +
        "benchmark suite with updateBenchmark (the benchmark texts are the " +
        "source of truth; no clean-table data is lost)")

  /** Register (more) benchmark texts under an eval-suite name: their
    * distinct shingles upsert into the index. Idempotent per
    * (shingle, suite).
    */
  def updateBenchmark(index: GraftTable, benchmark: DataFrame,
      textCol: String = "text", suite: String = "default"): String = {
    requireSuiteKeyedIndex(index)
    val n = index.cfg.propLong(ShingleKey, 8L).toInt
    index.upsert(benchmark
      .select(explode(Dedup.shingles(col(textCol), n)).as("s"))
      .distinct()
      .withColumn("suite", lit(suite)))
  }

  def lastCheckpoint(clean: GraftTable): Option[String] =
    IncrementalSync.checkpoint(clean, SyncKeys)

  /** One tick ([[graft.table.IncrementalSync]] plans it and owns the
    * checkpoint marks): pull the new docs → shingle row-locally → probe
    * ONLY the index partitions this tick's shingles hash into →
    * contaminated ids drop, survivors upsert into `clean` with the marks.
    * Returns the clean commit ts, or None when the source has nothing new.
    *
    * `thresholds` selects the rule, matching the batch operators exactly:
    *  - empty (default): the hard `Decontaminate.decontaminate` rule —
    *    ANY shared shingle with ANY suite drops the doc;
    *  - non-empty: GRADED mode ([[Decontaminate.contaminationScore]]
    *    thresholded per suite) — a doc drops iff for SOME suite,
    *    `suite hits / doc's distinct shingles > thresholds(suite)`
    *    (unlisted suites default to 0.0 = any hit drops). Contamination
    *    stays order-independent either way, so incremental ≡ batch under
    *    any arrival order. The threshold map is statement metadata (a
    *    handful of suites), carried as a literal map — no extra join.
    */
  def sync(source: GraftTable, clean: GraftTable, index: GraftTable,
      textCol: String = "text", idCol: String = "doc_id",
      thresholds: Map[String, Double] = Map.empty): Option[String] = {
    requireSuiteKeyedIndex(index)
    val n = index.cfg.propLong(ShingleKey, 8L).toInt
    val fpParts = index.cfg.propLong(PartsKey, 64L)
    val work = IncrementalSync.plan(source, clean, SyncKeys) match {
      case IncrementalSync.Idle => return None
      case w: IncrementalSync.Work => w
    }
    // a source rewind invalidates published outputs (they may derive from
    // removed commits) but NOT the benchmark index (independent of the
    // source) — wipe clean only
    if (work.recovering) IncrementalSync.wipe(clean)

    val pulled = IncrementalSync.pull(source, work)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tickShingles = pulled
        .select(col(idCol).as("_dc_id"), col(textCol).as("_dc_t"))
        .repartition(col("_dc_id"))
        .select(col("_dc_id"), explode(Dedup.shingles(col("_dc_t"), n)).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val contaminated =
          if (index.timeline.completedDataInstants().isEmpty)
            pulled.select(col(idCol).as("_dc_id")).limit(0)
          else {
            val parts = tickShingles
              .select(pmod(abs(xxhash64(col("s"))), lit(fpParts)).as("p"))
              .distinct().collect().map(x => s"p=${x.getLong(0)}").toSeq
            val idxRows = Readers.snapshot(index, partitions = Some(parts))
            if (thresholds.isEmpty)
              tickShingles
                .join(idxRows.select("s"), Seq("s"))
                .select(col("_dc_id")).distinct()
            else {
              // graded: fraction of the doc's distinct shingles hitting
              // each suite, thresholded per suite (same arithmetic as
              // Decontaminate.contaminationScore — exact integer counts,
              // one IEEE division)
              val totals = tickShingles.groupBy(col("_dc_id"))
                .agg(count(lit(1)).as("_dc_tot"))
              val hits = tickShingles
                .join(idxRows.select("s", "suite"), Seq("s"))
                .groupBy(col("_dc_id"), col("suite"))
                .agg(count(lit(1)).as("_dc_hits"))
              val thr = coalesce(
                element_at(typedlit(thresholds), col("suite")), lit(0.0))
              hits.join(totals, Seq("_dc_id"))
                .filter(col("_dc_hits").cast("double") / col("_dc_tot") > thr)
                .select(col("_dc_id")).distinct()
            }
          }
        val survivors = pulled.join(contaminated,
          col(idCol) === col("_dc_id"), "left_anti")
        Some(clean.upsert(survivors, extraMetadata = work.marks))
      } finally tickShingles.unpersist()
    } finally pulled.unpersist()
  }
}
