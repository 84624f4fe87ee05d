package graft.pipeline

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, Future}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TableConfig, TableType}
import graft.read.Readers
import graft.table.{GraftTable, IncrementalSync, Services, WritePipeline}
import graft.table.Services.{CleanPolicy, ClusterPlanStrategy}

/** INCREMENTAL MinHash-LSH deduplication as a table service: maintain a
  * near-dup-free `clean` table from an append-shaped `source` documents
  * table. A tick pulls, fingerprints and writes only the NEW documents
  * (a from-scratch [[Dedup.minhashDedup]] over the corpus per arrival
  * batch would recompute every signature per tick); its index appends
  * write O(new data) bytes, but its probe still reads the whole index.
  *
  * The LSH state persists in two graft tables under `indexPath`:
  *
  *  - `bands` (band, bucket, doc_id) — every band row of every doc EVER
  *    SEEN (kept and dropped: from-scratch semantics drop a doc that
  *    near-dups ANY lower-id doc, surviving or not, so dropped docs keep
  *    vetoing their later near-dups).
  *  - `sigs` (doc_id, sig) — signatures for candidate verification.
  *
  * Both are ONE partition. `bucket` is an xxhash64, so a tick of n docs
  * has `bands`·n band rows (16n by default) spread uniformly over any
  * bucket partitioning, and it misses a given one of P partitions with
  * probability ((P-1)/P)^(16n) — about e^(-n/4) at P = 64, e^(-100) at
  * n = 400: the band probe reads the whole `bands` index at any tick
  * size worth a sync, however it is partitioned, and more partitions
  * only cost more files. `sigs` is different: a tick's stored candidates
  * are few, so doc-id partitions could prune its read, but they cost
  * more files too. Instead the `sigs` read is skipped on ticks whose band
  * probe found no stored candidate, and otherwise reads the whole table.
  * Indexes written with more partitions (64 and 32 were the old
  * defaults) keep their stored partition expressions and are read whole,
  * like new ones.
  *
  * Append-only layout: both tables only ever gain rows, so a tick's rows
  * go to a fresh file group in each partition they touch
  * ([[GraftTable.insertFresh]]) and never top up an existing file. A
  * size-tiered merge bounds the file count: once a partition holds
  * [[MergeFanIn]] live base files below the small-file limit whose sizes
  * lie within a factor of [[MergeFanIn]] of each other, exactly those
  * files are rewritten as one (a "cluster" replacecommit through
  * [[Services.cluster]]), and the merged file may complete a run one
  * tier up. Each row is then rewritten O(log N) times over N ticks, not
  * once per tick, and a partition keeps at most MergeFanIn - 1 files
  * per factor of MergeFanIn in file size; files past the small-file
  * limit never merge again. The files a merge replaced are deleted at the
  * start of the next tick, before its probe plans (the current tick's
  * probe may still be reading them).
  *
  * Each tick ([[graft.table.IncrementalSync]] plans it and owns the
  * checkpoint marks): pull the new docs → candidate pairs from (a) an
  * in-batch band self-join and (b) a probe of the persisted band index →
  * signature-similarity verification → losers dropped, survivors
  * upserted into `clean` with the marks, and all pulled docs' band rows
  * + signatures appended to the index.
  *
  * Concurrency and crash safety: the two index appends need nothing from
  * the probe, so they start on their own threads as soon as the tick's
  * signatures and band rows are defined and run WHILE the probe runs;
  * each thread then merges its table's tiers. The clean commit, which
  * carries the checkpoint, publishes only after both appends have, and a
  * failed append fails the tick before it; a failed merge aborts, leaves
  * the index as the append left it and is retried on a later tick — a
  * merge keeps the same set of rows, so nothing below depends on whether
  * it ran. Every outcome is one a replayed tick already produces: a tick
  * that fails or crashes after an append re-pulls the same range
  * (checkpoint unchanged), and a probe that happens to see this tick's
  * own postings or signatures is in the same position as a replay —
  * duplicate band/sig rows are harmless: candidate pairs dedup before
  * verification, self-postings are anti-joined out of the index probe,
  * in-batch `l < r` excludes self-pairs, duplicate signature rows
  * collapse at the dup-id `distinct`, and the clean upsert is keyed. So
  * the service is effectively-once without multi-table transactions.
  *
  * Result contract: when batches arrive in nondecreasing `idCol` order
  * (the natural contract for monotonic ingest ids), the clean table is
  * BIT-IDENTICAL to a from-scratch `Dedup.minhashDedup` of the full
  * corpus — verified by the DuckDB oracle. Out-of-order arrival is
  * first-seen-wins: an already-indexed doc vetoes any later near-dup
  * arrival regardless of id order (stored postings are anti-joined
  * against the batch's own ids first, keeping crash replay idempotent),
  * so the clean table stays near-dup-free either way.
  */
object DedupService {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val SyncKeys = IncrementalSync.Keys("graft.dedup.source")
  private val ThresholdKey = "graft.dedup.threshold"
  private val NumHashesKey = "graft.dedup.num.hashes"
  private val BandsKey = "graft.dedup.bands"
  private val ShingleKey = "graft.dedup.shingle.n"

  /** Files per index merge, and the size factor they may span. It trades
    * write amplification (a row is rewritten about log_k N times) against
    * read amplification (up to k - 1 files per tier, each a file the probe
    * opens): against k = 4, k = 2 doubles the rewrites for a third fewer
    * files, and k = 8 saves a third of the rewrites for half again as
    * many files. 4 is also the usual size-tiered default.
    */
  private[graft] val MergeFanIn = 4

  final case class DedupIndex(bands: GraftTable, sigs: GraftTable) {
    def threshold: Double = bands.cfg.prop(ThresholdKey, "0.7").toDouble
    def numHashes: Int = bands.cfg.propLong(NumHashesKey, 64L).toInt
    def numBands: Int = bands.cfg.propLong(BandsKey, 16L).toInt
    def shingleN: Int = bands.cfg.propLong(ShingleKey, 3L).toInt
  }

  /** Create (or load) the persisted LSH index tables under `indexPath`.
    * ALL matching parameters persist as index-table properties and every
    * tick reads them back — old ticks' signatures and band rows were
    * computed with them, so a drifting per-call parameter would silently
    * corrupt results. Loading an existing index ignores the arguments and
    * returns the stored parameters.
    */
  def openIndex(spark: SparkSession, indexPath: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      shingleN: Int = 3): DedupIndex = {
    val bandsT = GraftTable.createOrLoad(spark, s"$indexPath/bands", TableConfig(
      "dedup_bands", TableType.CopyOnWrite,
      Seq("band", "bucket", "doc_id"),
      "'p=0'", "",
      Map(ThresholdKey -> threshold.toString, NumHashesKey -> numHashes.toString,
        BandsKey -> bands.toString, ShingleKey -> shingleN.toString)))
    val sigsT = GraftTable.createOrLoad(spark, s"$indexPath/sigs", TableConfig(
      "dedup_sigs", TableType.CopyOnWrite,
      Seq("doc_id"),
      "'s=0'", ""))
    DedupIndex(bandsT, sigsT)
  }

  def lastCheckpoint(clean: GraftTable): Option[String] =
    IncrementalSync.checkpoint(clean, SyncKeys)

  /** One tick. Returns the clean-table commit ts, or None when the source
    * has nothing new. Matching parameters come from the INDEX (persisted
    * at openIndex), so they cannot drift between ticks.
    */
  def sync(source: GraftTable, clean: GraftTable, index: DedupIndex,
      textCol: String = "text", idCol: String = "doc_id"): Option[String] = {
    val (threshold, numHashes, bands, shingleN) =
      (index.threshold, index.numHashes, index.numBands, index.shingleN)
    val spark = source.spark
    val work = IncrementalSync.plan(source, clean, SyncKeys) match {
      case IncrementalSync.Idle => return None
      case w: IncrementalSync.Work => w
    }
    // the files the previous tick's merges replaced: its probe is done
    // with them, and this tick's has not planned yet
    Seq(index.bands, index.sigs).foreach(Services.cleanWith(_, CleanPolicy.KeepLatestFileVersions(1)))
    // ghost postings would mark new docs as dups of rolled-back docs, and
    // the clean table keeps their outputs
    if (work.recovering) IncrementalSync.wipe(clean, index.bands, index.sigs)
    val rows = numHashes / bands
    // index emptiness BEFORE this tick's appends start: once they publish,
    // the answer would depend on how far they got
    val bandsEmpty = index.bands.timeline.completedDataInstants().isEmpty
    val sigsEmpty = index.sigs.timeline.completedDataInstants().isEmpty

    val pulled = IncrementalSync.pull(source, work)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // signatures once per doc (native expression), band rows id-only —
      // the same shuffle discipline as Dedup.minhashDupPairs
      val sig = pulled
        .select(col(idCol).as("_d_id"), col(textCol).as("_d_t"))
        .repartition(col("_d_id"))
        .select(col("_d_id"),
          graft.functions.MinHashSig.minhashSig(col("_d_t"), numHashes, shingleN).as("_d_sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bandRows = sig.select(col("_d_id"),
          explode(Dedup.lshBands(col("_d_sig"), bands, rows)).as("_d_band"))
        .select(col("_d_id"),
          col("_d_band.band").as("band"), col("_d_band.bucket").as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // both index appends run WHILE the probe runs (they need nothing
      // from it), each followed by its table's merge; the clean commit
      // waits for the appends only — see the scaladoc
      val background = Seq(
        appendThenMerge(index.bands,
          bandRows.select(col("band"), col("bucket"), col("_d_id").as("doc_id"))),
        appendThenMerge(index.sigs,
          sig.select(col("_d_id").as("doc_id"), col("_d_sig").as("sig"))))
      try {
        // (a) in-batch candidates: band equi-self-join, each pair once
        val l = bandRows.select(col("band"), col("bucket"), col("_d_id").as("_l_id"))
        val r = bandRows.select(col("band"), col("bucket"), col("_d_id").as("_r_id"))
        val batchPairs = l.join(r, Seq("band", "bucket"))
          .filter(col("_l_id") < col("_r_id"))
          .select("_l_id", "_r_id")

        // (b) corpus candidates: probe the whole band index (see the
        // scaladoc for why no partition pruning). Postings whose
        // doc_id is in the CURRENT batch are anti-joined away first —
        // they exist when this tick's own append has published, or when
        // a crashed tick's append replays; without the exclusion such a
        // doc would veto itself (and its same-batch companions, in both
        // directions). With self-postings gone, a stored doc vetoes a new
        // arrival REGARDLESS of id order (no l < r here): first-seen-wins,
        // so a late arrival with a lower id than its already-indexed
        // near-dup still drops and the clean table stays near-dup-free.
        // In-batch ties keep min-id via (a).
        val indexPairs =
          if (bandsEmpty) None
          else {
            val batchIds = sig.select(col("_d_id").as("doc_id")).distinct()
            val stored = Readers.snapshot(index.bands)
              .join(batchIds, Seq("doc_id"), "left_anti")
              .select(col("band"), col("bucket"), col("doc_id").as("_l_id"))
            Some(stored.join(
                bandRows.select(col("band"), col("bucket"), col("_d_id").as("_r_id")),
                Seq("band", "bucket"))
              .select("_l_id", "_r_id")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          }
        val pairs = indexPairs.map(batchPairs.unionByName(_)).getOrElse(batchPairs).distinct()

        // l-side signatures: from the batch, plus the sigs table when the
        // probe found stored candidates (their l-side docs are never in
        // the batch: self-postings were anti-joined away above)
        val dups = try {
          val storedCandidates = !sigsEmpty &&
            indexPairs.exists(p => WritePipeline.staticPlan(p).count() > 0)
          val storedSigs =
            if (!storedCandidates) sig.select(col("_d_id"), col("_d_sig"))
            else Readers.snapshot(index.sigs)
              .select(col("doc_id").as("_d_id"), col("sig").as("_d_sig"))
              .unionByName(sig.select(col("_d_id"), col("_d_sig")))
          val verified = WritePipeline.staticPlan(pairs
            .join(storedSigs.select(col("_d_id").as("_l_id"), col("_d_sig").as("_l_sig")), Seq("_l_id"))
            .join(sig.select(col("_d_id").as("_r_id"), col("_d_sig").as("_r_sig")), Seq("_r_id"))
            .filter(Dedup.signatureSimilarity(col("_l_sig"), col("_r_sig")) >= threshold)
            .select(col("_r_id").as("_dup_id")).distinct())
            .localCheckpoint(eager = true)
          // back onto the caller's session: the checkpointed rows are
          // session-free, the survivors' upsert plans under the caller's
          GraftSqlBridge.ofRows(spark, verified.queryExecution.analyzed)
        } finally indexPairs.foreach(_.unpersist())

        val survivors = pulled.join(dups, col(idCol) === col("_dup_id"), "left_anti")
        background.foreach { case (appended, _) => awaitOrRethrow(appended) }
        Some(clean.upsert(survivors, extraMetadata = work.marks))
      } finally {
        // a failed probe must not leave an append or a merge running past
        // the call (or reading the frames unpersisted below)
        background.foreach { case (_, done) => scala.util.Try(done.get()) }
        bandRows.unpersist(); sig.unpersist()
      }
    } finally pulled.unpersist()
  }

  /** On its own thread (created here, so it inherits the caller's active
    * session and Spark job properties): append `rows` to `t` in fresh
    * files, then merge `t`'s size tiers. Returns the append's outcome and
    * the thread's end.
    */
  private def appendThenMerge(t: GraftTable, rows: DataFrame): (Future[String], Future[_]) = {
    val appended = new CompletableFuture[String]()
    val pool = Executors.newSingleThreadExecutor()
    try {
      val done = pool.submit(new Runnable {
        def run(): Unit = {
          try appended.complete(t.insertFresh(rows))
          catch { case e: Throwable => appended.completeExceptionally(e) }
          if (!appended.isCompletedExceptionally)
            try mergeTiers(t)
            catch {
              case NonFatal(e) =>
                log.warn(s"index merge failed for ${t.basePath}; a later tick retries it: $e")
            }
        }
      })
      (appended, done)
    } finally pool.shutdown() // the accepted task still runs; the thread exits after
  }

  /** Merges, per partition, the smallest run of [[MergeFanIn]] live base
    * files below the small-file limit whose sizes lie within a factor of
    * [[MergeFanIn]], one cluster commit at a time, until no run is left.
    * A merge that fails throws; its abort leaves the files as they were,
    * and the caller leaves the merge to a later tick.
    */
  @annotation.tailrec
  private def mergeTiers(t: GraftTable): Unit = {
    val runs = t.view.partitions().flatMap { p =>
      t.view.smallFiles(p, t.smallFileLimit).sortBy(_.sizeBytes).sliding(MergeFanIn)
        .find(r => r.size == MergeFanIn && r.last.sizeBytes <= MergeFanIn * r.head.sizeBytes)
        .map(r => p -> r.map(_.fileId))
    }.toMap
    if (runs.nonEmpty) {
      val before = t.view.latestBaseFiles().size
      val merged = Services.cluster(t, strategy = ClusterPlanStrategy.FileGroups(runs)).isDefined
      // the merged file may complete a run one tier up; a merge whose
      // output split into as many files as it read stops the cascade
      if (merged && t.view.latestBaseFiles().size < before) mergeTiers(t)
    }
  }

  private def awaitOrRethrow(f: Future[_]): Unit =
    try f.get()
    catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
}
