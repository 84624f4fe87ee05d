package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.ExecutionCapture
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions._

import graft.core.{Action, CommitMetadata, FileEntry, GraftInstant, Storage, TableConfig, TableType}
import graft.core.Storage.PathOps
import graft.pipeline.{Dedup, DedupService}
import graft.read.Readers
import graft.table.GraftTable

/** Incremental MinHash dedup service: per-tick probe of the persisted
  * band index must converge to the from-scratch answer, duplicates must
  * be caught ACROSS ticks, and an unchanged source must be a no-op.
  */
class DedupServiceSpec extends AnyFunSuite {
  import SparkTestBase._

  private def docsCfg(name: String) =
    TableConfig(name, TableType.CopyOnWrite, Seq("doc_id"), "", "")

  private def docs = spark.read.parquet(s"$sf001/documents.parquet")

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id").orderBy("doc_id").collect()

  private def liveFiles(t: GraftTable): Seq[FileEntry] = t.view.latestBaseFiles()

  /** The data commits `t` completed after `before`, oldest first. */
  private def commitsSince(t: GraftTable, before: Seq[GraftInstant]): Seq[CommitMetadata] =
    t.timeline.completedDataInstants().filterNot(before.contains)
      .map(i => CommitMetadata.fromJson(t.timeline.readContent(i)))

  test("three id-ordered ticks equal the from-scratch minhash dedup") {
    val root = tmpDir("dedup_svc").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs
    val mx = base.agg(max("doc_id")).head.getLong(0)
    val ticks = Seq(
      base.filter(col("doc_id") <= mx / 3),
      base.filter(col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3),
      base.filter(col("doc_id") > 2 * mx / 3))
    for (t <- ticks) {
      srcT.bulkInsert(t)
      assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    }
    val got = Readers.snapshot(cleanT).select("doc_id").orderBy("doc_id").collect()
    val want = Dedup.minhashDedup(base, threshold = 0.6)
      .select("doc_id").orderBy("doc_id").collect()
    assert(got.sameElements(want), "incremental != from-scratch")
    // duplicates were actually found across ticks (not all kept)
    assert(got.length < base.count())
  }

  test("unchanged source is a no-op tick; cross-tick exact copies dropped") {
    val root = tmpDir("dedup_svc2").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs.filter(col("doc_id") < 100)
    srcT.bulkInsert(base)
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val n1 = Readers.snapshot(cleanT).count()
    // no new source commits -> None, clean untouched
    assert(DedupService.sync(srcT, cleanT, idx).isEmpty)
    assert(Readers.snapshot(cleanT).count() === n1)
    // tick 2: exact copies of tick-1 docs under NEW higher ids — every one
    // must be vetoed by the persisted index, none survive
    srcT.bulkInsert(base.withColumn("doc_id", col("doc_id") + 10000000L))
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    assert(Readers.snapshot(cleanT).count() === n1, "cross-tick duplicates survived")
  }

  test("out-of-order arrival: indexed docs veto LOWER-id near-dups too") {
    // the r13 probe fix (mirrors HashDedupService): a late tick whose ids
    // sit BELOW already-indexed near-dups must still lose to them —
    // first-seen-wins, clean stays near-dup-free
    val root = tmpDir("dedup_svc_ooo").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs.filter(col("doc_id") < 100)
    // tick 1 introduces the docs under HIGH ids
    srcT.bulkInsert(base.withColumn("doc_id", col("doc_id") + 10000000L))
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val n1 = Readers.snapshot(cleanT).count()
    // tick 2: exact copies under the ORIGINAL (lower) ids — every one is a
    // near-dup of an indexed doc and must be vetoed despite the lower id
    srcT.upsert(base)
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val after = Readers.snapshot(cleanT)
    assert(after.filter(col("doc_id") < 10000000L).count() === 0,
      "lower-id late arrivals slipped past the index probe")
    assert(after.count() === n1)
  }

  test("source rollback: ghost index postings are wiped, not matched") {
    val root = tmpDir("dedup_svc_rb").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs.filter(col("doc_id") < 60)
    srcT.bulkInsert(base)
    DedupService.sync(srcT, cleanT, idx)
    // tick 2 lands copies under new ids, then rolls back — without the
    // rewind check both the clean rows AND the index postings of the
    // rolled-back docs would linger as ghosts
    val c2 = srcT.bulkInsert(base.withColumn("doc_id", col("doc_id") + 5000000L))
    DedupService.sync(srcT, cleanT, idx)
    graft.table.Services.rollback(srcT, c2)
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val cleaned = Readers.snapshot(cleanT).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(cleaned.forall(_ < 5000000L), "rolled-back docs linger in clean")
    // re-submitting one of the rolled-back copies: its original still
    // owns the content, so the copy must drop — but NOT because of a
    // ghost posting: the original doc is alive in the surviving corpus
    srcT.upsert(base.filter(col("doc_id") === cleaned.min)
      .withColumn("doc_id", col("doc_id") + 7000000L))
    DedupService.sync(srcT, cleanT, idx)
    val after = Readers.snapshot(cleanT).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(after === cleaned, "copy of a live doc must still dedup away")
    // steady state: next tick is a no-op (no rebuild-per-tick)
    assert(DedupService.sync(srcT, cleanT, idx).isEmpty)
  }

  test("overlapped index appends: several ticks equal the from-scratch dedup") {
    val root = tmpDir("dedup_svc_overlap").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    // the appends commit while the probe runs: record which thread each
    // index commit publishes from
    val caller = Thread.currentThread()
    val appendThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    Seq(idx.bands, idx.sigs).foreach(_.registerPreCommitValidator(
      _ => appendThreads.add(Thread.currentThread())))
    val base = docs.filter(col("doc_id") < 120)
    // four id-ordered ticks; the last re-submits tick-1 docs under higher
    // ids, so it is answered from the persisted index, not the batch
    val ticks = Seq(
      base.filter(col("doc_id") < 40),
      base.filter(col("doc_id") >= 40 && col("doc_id") < 80),
      base.filter(col("doc_id") >= 80),
      base.filter(col("doc_id") < 40).withColumn("doc_id", col("doc_id") + 1000000L))
    for (t <- ticks) {
      srcT.bulkInsert(t)
      assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
      assert(idx.bands.timeline.pendingInstants().isEmpty &&
        idx.sigs.timeline.pendingInstants().isEmpty, "an append outlived the sync")
    }
    assert(appendThreads.size === 2 * ticks.size)
    assert(!appendThreads.contains(caller), "index appends ran on the calling thread")
    val got = Readers.snapshot(cleanT).select("doc_id").orderBy("doc_id").collect()
    val want = Dedup.minhashDedup(ticks.reduce(_ unionByName _), threshold = 0.6)
      .select("doc_id").orderBy("doc_id").collect()
    assert(got.sameElements(want), "overlapped incremental != from-scratch")
    assert(got.forall(_.getLong(0) < 1000000L), "re-submitted copies survived")
  }

  test("a failed sigs append publishes no clean commit; the next sync converges") {
    val root = tmpDir("dedup_svc_fail").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs.filter(col("doc_id") < 90)
    srcT.bulkInsert(base.filter(col("doc_id") < 45))
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val cleanCommits = cleanT.timeline.completedDataInstants()
    val ckpt = DedupService.lastCheckpoint(cleanT)
    srcT.bulkInsert(base.filter(col("doc_id") >= 45))
    @volatile var armed = true
    idx.sigs.registerPreCommitValidator { _ =>
      if (armed) throw new IllegalStateException("injected sigs append failure")
    }
    val e = intercept[IllegalStateException](DedupService.sync(srcT, cleanT, idx))
    assert(e.getMessage === "injected sigs append failure")
    // nothing published on clean, the checkpoint did not move, and the
    // concurrent bands append (published or not) left nothing in flight
    assert(cleanT.timeline.completedDataInstants() === cleanCommits)
    assert(DedupService.lastCheckpoint(cleanT) === ckpt)
    assert(idx.bands.timeline.pendingInstants().isEmpty)
    armed = false
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val got = Readers.snapshot(cleanT).select("doc_id").orderBy("doc_id").collect()
    val want = Dedup.minhashDedup(base, threshold = 0.6)
      .select("doc_id").orderBy("doc_id").collect()
    assert(got.sameElements(want), "replayed tick != from-scratch")
    assert(DedupService.sync(srcT, cleanT, idx).isEmpty)
  }

  test("default index: one partition per table, one new base file per table per tick") {
    val root = tmpDir("dedup_svc_one").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs.filter(col("doc_id") < 160)
    val ticks = Seq(
      base.filter(col("doc_id") < 50),
      base.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      base.filter(col("doc_id") >= 100),
      base.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000L))
    for (t <- ticks) {
      srcT.bulkInsert(t)
      val before = Seq(idx.bands, idx.sigs).map(i => (i, i.timeline.completedDataInstants(), liveFiles(i)))
      assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
      // the append writes one new file and tops up none: every file live
      // before the tick still is, unless a merge replaced it
      for ((i, instants, live) <- before) {
        val (appends, merges) = commitsSince(i, instants).partition(_.operationType == "insert")
        assert(appends.map(_.writeStats.size) === Seq(1), s"${i.basePath}: $appends")
        assert(merges.forall(_.operationType == "cluster"), s"${i.basePath}: $merges")
        val replaced = merges.flatMap(_.replacedFileIds.toSeq.flatMap { case (p, fs) => fs.map(p -> _) }).toSet
        val kept = live.filterNot(f => replaced.contains((f.partitionPath, f.fileId)))
        assert(kept.toSet.subsetOf(liveFiles(i).toSet), s"${i.basePath}: a file was topped up")
      }
    }
    assert(idx.bands.view.partitions() === Seq("p=0"))
    assert(idx.sigs.view.partitions() === Seq("s=0"))
    val got = ids(Readers.snapshot(cleanT))
    assert(got.sameElements(ids(Dedup.minhashDedup(ticks.reduce(_ unionByName _), threshold = 0.6))),
      "one-partition incremental != from-scratch")
    assert(got.forall(_.getLong(0) < 1000000L), "re-submitted copies survived")
  }

  test("an index written with the old 64/32 layout keeps it and still equals from-scratch") {
    val root = tmpDir("dedup_svc_64").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    // the tables as earlier versions created them: hash-partitioned, with
    // the partition counts among the stored properties
    GraftTable.create(spark, s"$root/index/bands", TableConfig(
      "dedup_bands", TableType.CopyOnWrite, Seq("band", "bucket", "doc_id"),
      "concat('p=', cast(pmod(bucket, 64) as string))", "",
      Map("graft.dedup.bucket.partitions" -> "64", "graft.dedup.threshold" -> "0.6",
        "graft.dedup.num.hashes" -> "64", "graft.dedup.bands" -> "16",
        "graft.dedup.shingle.n" -> "3")))
    GraftTable.create(spark, s"$root/index/sigs", TableConfig(
      "dedup_sigs", TableType.CopyOnWrite, Seq("doc_id"),
      "concat('s=', cast(pmod(doc_id, 32) as string))", "",
      Map("graft.dedup.sig.partitions" -> "32")))
    val idx = DedupService.openIndex(spark, s"$root/index")
    assert(idx.threshold === 0.6)
    val base = docs.filter(col("doc_id") < 150)
    val ticks = Seq(
      base.filter(col("doc_id") < 50),
      base.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      base.filter(col("doc_id") >= 100),
      base.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000L))
    for (t <- ticks) {
      srcT.bulkInsert(t)
      assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    }
    assert(idx.bands.view.partitions().size > 1 && idx.sigs.view.partitions().size > 1)
    assert(idx.bands.view.partitions().forall(p => p.stripPrefix("p=").toInt < 64))
    assert(idx.sigs.view.partitions().forall(p => p.stripPrefix("s=").toInt < 32))
    val got = ids(Readers.snapshot(cleanT))
    assert(got.sameElements(ids(Dedup.minhashDedup(ticks.reduce(_ unionByName _), threshold = 0.6))),
      "64/32 incremental != from-scratch")
    assert(got.forall(_.getLong(0) < 1000000L), "re-submitted copies survived")
  }

  test("the signature index is read only on ticks with stored candidates") {
    val root = tmpDir("dedup_svc_sigs").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val sigsPath = idx.sigs.basePath.toUri.getPath
    // the verification join (the only plan with `_l_sig`) scans the sigs table
    def verifyReadsSigs(qes: Seq[QueryExecution]): Boolean = qes.exists { qe =>
      qe.executedPlan.toString.contains("_l_sig") &&
        qe.executedPlan.collect { case s: FileSourceScanExec => s }
          .exists(_.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(sigsPath)))
    }
    // distinct words per doc: no band bucket in common across docs
    def fresh(from: Long, n: Int) = spark.range(from, from + n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(30)),
        i => concat(lit("w"), col("id").cast("string"), lit("x"), i.cast("string")))).as("text"))
    srcT.bulkInsert(fresh(0, 40))
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    // no stored candidate: the sigs table is not read
    srcT.bulkInsert(fresh(100, 40))
    val (t2, quiet) = ExecutionCapture.during(spark)(DedupService.sync(srcT, cleanT, idx))
    assert(t2.nonEmpty)
    assert(!verifyReadsSigs(quiet), "sigs read on a tick without stored candidates")
    // copies of stored docs: the sigs table is read, the copies dropped
    srcT.bulkInsert(fresh(0, 10).withColumn("doc_id", col("doc_id") + 1000L))
    val (t3, busy) = ExecutionCapture.during(spark)(DedupService.sync(srcT, cleanT, idx))
    assert(t3.nonEmpty)
    assert(verifyReadsSigs(busy), "sigs not read on a tick with stored candidates")
    assert(ids(Readers.snapshot(cleanT)).map(_.getLong(0)).toSeq ===
      ((0L until 40L) ++ (100L until 140L)))
  }

  test("one-partition layout: a tick that fails after both appends replays to from-scratch") {
    val root = tmpDir("dedup_svc_replay").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs.filter(col("doc_id") < 90)
    srcT.bulkInsert(base.filter(col("doc_id") < 45))
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val ckpt = DedupService.lastCheckpoint(cleanT)
    // tick 2 plus copies of tick-1 docs under higher ids: the replay must
    // still veto the copies from the index, and must not let the tick's
    // own postings and signatures (published before the failure) veto it
    srcT.bulkInsert(base.filter(col("doc_id") >= 45)
      .unionByName(base.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000L)))
    @volatile var armed = true
    cleanT.registerPreCommitValidator { _ =>
      if (armed) throw new IllegalStateException("injected clean commit failure")
    }
    val e = intercept[IllegalStateException](DedupService.sync(srcT, cleanT, idx))
    assert(e.getMessage === "injected clean commit failure")
    assert(DedupService.lastCheckpoint(cleanT) === ckpt)
    assert(idx.bands.timeline.completedDataInstants().size === 2)
    assert(idx.sigs.timeline.completedDataInstants().size === 2)
    armed = false
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val want = ids(Dedup.minhashDedup(Readers.snapshot(srcT)
      .select("doc_id", "text"), threshold = 0.6))
    assert(ids(Readers.snapshot(cleanT)).sameElements(want), "replayed tick != from-scratch")
    assert(DedupService.sync(srcT, cleanT, idx).isEmpty)
  }

  test("a source window holding only a clustering publishes nothing; the next tick equals from-scratch") {
    val root = tmpDir("dedup_svc_cluster").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val base = docs
    val mx = base.agg(max("doc_id")).head.getLong(0)
    srcT.bulkInsert(base.filter(col("doc_id") <= mx / 3))
    srcT.bulkInsert(base.filter(col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3))
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    def commits = Seq(cleanT, idx.bands, idx.sigs).map(_.timeline.completedDataInstants().size)
    val before = commits
    // clustering rewrites the source's files without changing a record:
    // no clean commit, and no index append either
    assert(graft.table.Services.cluster(srcT).nonEmpty)
    assert(DedupService.sync(srcT, cleanT, idx).isEmpty)
    assert(commits === before)
    srcT.bulkInsert(base.filter(col("doc_id") > 2 * mx / 3))
    assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
    val want = ids(Dedup.minhashDedup(base, threshold = 0.6))
    assert(ids(Readers.snapshot(cleanT)).sameElements(want), "incremental != from-scratch")
  }

  /** Live base-file sizes of `t`, ascending. */
  private def liveSizes(t: GraftTable): Seq[Long] = liveFiles(t).map(_.sizeBytes).sorted

  /** Every file of the groups `merges` replaced, as `t`'s view still lists them. */
  private def replacedFiles(t: GraftTable, merges: Seq[CommitMetadata]): Seq[FileEntry] = {
    val groups = merges.flatMap(_.replacedFileIds.toSeq.flatMap { case (p, fs) => fs.map(p -> _) }).toSet
    t.view.allEntries().entries.filter(e => groups.contains((e.partitionPath, e.fileId)))
  }

  private def onDisk(t: GraftTable, f: FileEntry): Boolean = Storage.exists(t.basePath.resolve(f.relPath))

  test("twelve small ticks: live index files stay tiered, appends stay flat, replaced files go a tick later") {
    val root = tmpDir("dedup_svc_tiers").toString
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"$root/index", threshold = 0.6)
    val k = DedupService.MergeFanIn
    val ticks = (0 until 12).map(n => docs.filter(col("doc_id") >= n * 40 && col("doc_id") < (n + 1) * 40))
    val tables = Seq(idx.bands, idx.sigs)
    val appendBytes = tables.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Long]).toMap
    val merges = scala.collection.mutable.Map.empty[GraftTable, Int].withDefaultValue(0)
    var lastReplaced = Seq.empty[(GraftTable, FileEntry)]
    for (t <- ticks) {
      srcT.bulkInsert(t)
      val before = tables.map(i => i -> i.timeline.completedDataInstants())
      assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
      // the previous tick's probe may have read them; this tick's did not
      for ((i, f) <- lastReplaced) assert(!onDisk(i, f), s"${f.relPath} outlived the next tick")
      lastReplaced = before.flatMap { case (i, instants) =>
        val (appends, merged) = commitsSince(i, instants).partition(_.operationType == "insert")
        assert(appends.size === 1 && merged.forall(_.operationType == "cluster"))
        appendBytes(i) += appends.head.writeStats.map(_.fileSizeInBytes).sum
        merges(i) += merged.size
        replacedFiles(i, merged).map(i -> _)
      }
      for ((i, f) <- lastReplaced) assert(onDisk(i, f), s"${f.relPath} was deleted under this tick's probe")
      for (i <- tables) {
        val sizes = liveSizes(i)
        // no run left to merge, so at most k - 1 files per factor of k in size
        assert(!sizes.sliding(k).exists(r => r.size == k && r.last <= k * r.head), s"${i.basePath}: $sizes")
        val tiers = 1 + (math.log(sizes.last.toDouble / sizes.head) / math.log(k)).toInt
        assert(sizes.size <= (k - 1) * tiers, s"${i.basePath}: $sizes")
      }
    }
    for (i <- tables) {
      // each append writes the tick's postings only, whatever the index holds
      val bytes = appendBytes(i)
      assert(bytes.max <= 1.5 * bytes.min, s"${i.basePath}: append bytes $bytes")
      assert(merges(i) >= 2, s"${i.basePath}: ${merges(i)} merges")
    }
    assert(ids(Readers.snapshot(cleanT)).sameElements(
      ids(Dedup.minhashDedup(ticks.reduce(_ unionByName _), threshold = 0.6))),
      "tiered incremental != from-scratch")
  }

  test("a merge that fails before it publishes leaves every posting readable; the next tick merges") {
    val impl = classOf[MockRemoteFileSystem].getName
    Storage.conf.set("fs.graftmock.impl", impl)
    spark.sparkContext.hadoopConfiguration.set("fs.graftmock.impl", impl)
    val root = tmpDir("dedup_svc_merge_fail").toAbsolutePath
    val srcT = GraftTable.create(spark, s"$root/source", docsCfg("src"))
    val cleanT = GraftTable.create(spark, s"$root/clean", docsCfg("clean"))
    val idx = DedupService.openIndex(spark, s"graftmock://$root/index", threshold = 0.6)
    val bandsDir = s"$root/index/bands/p=0/"
    val ticks = (0 until 5).map(n => docs.filter(col("doc_id") >= n * 40 && col("doc_id") < (n + 1) * 40))
    def sync(n: Int): Unit = {
      srcT.bulkInsert(ticks(n))
      assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
      val want = ids(Dedup.minhashDedup(ticks.take(n + 1).reduce(_ unionByName _), threshold = 0.6))
      assert(ids(Readers.snapshot(cleanT)).sameElements(want), s"tick $n != from-scratch")
    }
    def merged(t: GraftTable) = commitsSince(t, Seq.empty).count(_.operationType == "cluster")
    def appendedRows(t: GraftTable) =
      commitsSince(t, Seq.empty).filter(_.operationType == "insert").map(_.totalWrites).sum
    (0 until 3).foreach(sync)
    // the fourth file completes a run: fail the bands merge's data file
    MockRemoteFileSystem.failWrite = p => p.startsWith(bandsDir) && p.endsWith(".parquet") &&
      idx.bands.timeline.pendingInstants().exists(_.action == Action.ReplaceCommit)
    try sync(3)
    finally MockRemoteFileSystem.failWrite = _ => false
    assert(merged(idx.bands) === 0 && merged(idx.sigs) === 1)
    assert(idx.bands.timeline.pendingInstants().isEmpty)
    // the abort left exactly the four appended files
    val live = liveFiles(idx.bands)
    assert(live.size === 4)
    val onDiskFiles = Storage.walk(idx.bands.basePath).filter(_.isFile).map(_.getPath.toUri.getPath)
      .filter(_.startsWith(bandsDir))
    assert(onDiskFiles.toSet === live.map(f => idx.bands.basePath.resolve(f.relPath).toUri.getPath).toSet)
    for (i <- Seq(idx.bands, idx.sigs)) assert(Readers.snapshot(i).count() === appendedRows(i))
    sync(4)
    assert(merged(idx.bands) === 1 && liveFiles(idx.bands).size === 2)
    for (i <- Seq(idx.bands, idx.sigs)) assert(Readers.snapshot(i).count() === appendedRows(i))
  }
}
