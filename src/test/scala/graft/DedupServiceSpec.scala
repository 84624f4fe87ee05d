package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.ExecutionCapture
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions._

import graft.core.{CommitMetadata, TableConfig, TableType}
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

  /** Files the table's latest commit wrote. */
  private def lastCommitFiles(t: GraftTable): Seq[String] =
    CommitMetadata.fromJson(t.timeline.readContent(t.timeline.completedDataInstants().last))
      .writeStats.map(_.path)

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
      assert(DedupService.sync(srcT, cleanT, idx).nonEmpty)
      // one file per table while the index is below the small-file limit:
      // each append tops up that file
      for (i <- Seq(idx.bands, idx.sigs)) {
        assert(lastCommitFiles(i).size === 1, s"${i.basePath}: ${lastCommitFiles(i)}")
        assert(i.view.latestBaseFiles().size === 1)
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
}
