package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.Storage.PathOps
import graft.read.Readers
import graft.table.{GraftTable, Services, WritePipeline}

/** The direct-to-final-name publish (GraftCommitProtocol): data files are
  * written AT their final table names with per-file markers, so commit
  * performs zero renames (an object-store rename is a full object copy —
  * 2x write amplification) and zero per-file driver RPCs; stats reads can
  * run as a distributed job. Crash/abort safety comes from the markers.
  */
class DirectPublishSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private def registerScheme(): Unit = {
    val impl = classOf[MockRemoteFileSystem].getName
    Storage.conf.set("fs.graftmock.impl", impl)
    spark.sparkContext.hadoopConfiguration.set("fs.graftmock.impl", impl)
  }

  private def mockBase(name: String): String = {
    registerScheme()
    s"graftmock://${tmpDir(name).toAbsolutePath}"
  }

  private def threeRows = Seq((1L, 1L, 10.0, "1995"), (2L, 1L, 20.0, "1995"),
    (3L, 1L, 30.0, "1996")).toDF("id", "ver", "price", "yr")

  test("zero data-file renames across the full write lifecycle on a non-local scheme") {
    val dir = mockBase("direct_zero") + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(
      "dz", TableType.CopyOnWrite, Seq("id"), "yr", "ver"))
    MockRemoteFileSystem.resetRenames()
    t.bulkInsert(threeRows)
    t.upsert(Seq((2L, 2L, 99.0, "1995")).toDF("id", "ver", "price", "yr"))
    t.delete(Seq((3L, 3L, 0.0, "1996")).toDF("id", "ver", "price", "yr"))
    assert(Services.compact(t).isEmpty) // COW: nothing to compact, still exercises the path
    // timeline instant publishes rename inside .graft (atomic, tiny
    // metadata); DATA bytes must never move twice
    val dataRenames = MockRemoteFileSystem.renames.filterNot(_.contains("/.graft/"))
    assert(dataRenames.isEmpty,
      s"data files were renamed (object-store copy!): $dataRenames")
    val out = Readers.snapshot(t).select("id", "price")
      .as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 10.0, 2L -> 99.0))
  }

  test("MOR deltas + compaction publish without data renames") {
    val dir = mockBase("direct_mor") + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(
      "dzm", TableType.MergeOnRead, Seq("id"), "", "ver",
      Map("graft.compact.inline" -> "false")))
    t.bulkInsert(threeRows)
    MockRemoteFileSystem.resetRenames()
    t.upsert(Seq((1L, 2L, 11.0, "1995")).toDF("id", "ver", "price", "yr"))
    t.upsert(Seq((2L, 2L, 22.0, "1995")).toDF("id", "ver", "price", "yr"))
    assert(Services.compact(t).isDefined)
    val dataRenames = MockRemoteFileSystem.renames.filterNot(_.contains("/.graft/"))
    assert(dataRenames.isEmpty, s"MOR/compaction renamed data files: $dataRenames")
    val out = Readers.snapshot(t).select("id", "price")
      .as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 11.0, 2L -> 22.0, 3L -> 30.0))
  }

  test("staging (and its markers) is gone once the commit publishes") {
    val dir = tmpDir("direct_clean").toString + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(
      "dc", TableType.CopyOnWrite, Seq("id"), "yr", "ver"))
    t.bulkInsert(threeRows)
    t.upsert(Seq((2L, 2L, 99.0, "1995")).toDF("id", "ver", "price", "yr"))
    val temp = t.basePath.resolve(".graft").resolve(".temp")
    val leftovers =
      if (!Storage.exists(temp)) Seq.empty else Storage.listPaths(temp)
    assert(leftovers.isEmpty, s"staging dirs survived publish: $leftovers")
  }

  test("a refused commit leaves no final-named files (markers clean them)") {
    val dir = tmpDir("direct_refuse").toString + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(
      "dr", TableType.CopyOnWrite, Seq("id"), "yr", "ver"))
    t.bulkInsert(threeRows)
    val before = Storage.walk(t.basePath).filter(_.isFile).map(_.getPath)
      .filterNot(_.startsWith(t.basePath.resolve(".graft"))).toSet
    t.registerPreCommitValidator(_ => throw new IllegalStateException("refused"))
    intercept[IllegalStateException] {
      t.upsert(Seq((2L, 2L, 99.0, "1995")).toDF("id", "ver", "price", "yr"))
    }
    val after = Storage.walk(t.basePath).filter(_.isFile).map(_.getPath)
      .filterNot(_.startsWith(t.basePath.resolve(".graft"))).toSet
    assert(after === before, s"refused commit leaked files: ${after -- before}")
    assert(!Storage.exists(WritePipeline.stagingDir(t.basePath,
      t.timeline.completedDataInstants().last.ts)))
  }

  // Abort coverage: every pre-publish failure, in either commit mode and on
  // either publish path, must leave the table as it was — the same data
  // files, no pending instant or staging dir, the same snapshot. The
  // staged fallback (a user-pinned commit protocol) writes no markers, so
  // only the abort's own list of written files can reclaim its
  // final-named files.
  private val stagedProtocol = "org.apache.spark.internal.io.HadoopMapReduceCommitProtocol"

  for {
    optimistic <- Seq(false, true)
    staged <- Seq(false, true)
    afterValidation <- Seq(false, true)
  } {
    val mode = if (optimistic) "upsertOptimistic" else "locked upsert"
    val publish = if (staged) "staged fallback" else "direct"
    val failure = if (afterValidation) "failure after validation" else "validator refusal"
    test(s"an aborted commit leaves no trace: $mode, $publish publish, $failure") {
      val dir = tmpDir("direct_abort").toString + "/t"
      val t = GraftTable.create(spark, dir, TableConfig(
        "dab", TableType.CopyOnWrite, Seq("id"), "yr", "ver",
        Map(ConfigKeys.IndexType -> "BLOOM")))
      t.bulkInsert(threeRows)
      def dataFiles = Storage.walk(t.basePath).filter(_.isFile).map(_.getPath)
        .filterNot(_.toString.contains("/.graft/")).toSet
      def rows = Readers.snapshot(t).select("id", "price")
        .as[(Long, Double)].collect().toSet
      val (filesBefore, rowsBefore) = (dataFiles, rows)
      var validated = false
      if (afterValidation) {
        // the sidecar build after the validators throws: its directory
        // is a plain file
        val blooms = t.basePath.resolve(".graft").resolve("blooms")
        WritePipeline.deleteRecursively(blooms)
        Storage.write(blooms, Array[Byte](1))
        t.registerPreCommitValidator(_ => validated = true)
      } else t.registerPreCommitValidator(_ => throw new IllegalStateException("refused"))
      val key = "spark.sql.sources.commitProtocolClass"
      val pinned = spark.conf.getOption(key)
      if (staged) spark.conf.set(key, stagedProtocol)
      try {
        val batch = Seq((2L, 2L, 99.0, "1995"), (4L, 1L, 40.0, "1996"))
          .toDF("id", "ver", "price", "yr")
        intercept[Exception] {
          if (optimistic) t.upsertOptimistic(batch) else t.upsert(batch)
        }
      } finally if (staged) pinned match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      assert(validated === afterValidation)
      val leaked = dataFiles -- filesBefore
      assert(dataFiles === filesBefore, s"aborted commit leaked files: $leaked")
      assert(t.timeline.pendingInstants().isEmpty)
      val temp = t.basePath.resolve(".graft").resolve(".temp")
      assert(!Storage.exists(temp) || Storage.listPaths(temp).isEmpty,
        "the aborted commit's staging dir survived")
      assert(rows === rowsBefore)
    }
  }

  test("failed-writes reaper finds a dead direct writer's files via markers (no walk)") {
    val dir = tmpDir("direct_reap").toString + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(
      "dreap", TableType.CopyOnWrite, Seq("id"), "yr", "ver"))
    t.bulkInsert(threeRows)
    val n = Readers.snapshot(t).count()
    // simulate a writer that direct-wrote its files and died before publish
    val ts = InstantTime.newInstant(t.timeline)
    t.timeline.transitionToInflight(t.timeline.createRequested(ts, Action.Commit))
    val keyed = Seq((9L, 1L, 90.0, "1995")).toDF("id", "ver", "price", "yr")
      .withColumn(MetaCols.RecordKey, col("id").cast("string"))
      .withColumn(MetaCols.PartitionPath, col("yr"))
      .withColumn(WritePipeline.FileIdCol, lit(WritePipeline.newFileIdPrefix()))
    val stats = WritePipeline.writeFiles(spark, t.basePath,
      WritePipeline.withCommitMeta(keyed, ts, isDelta = false), ts, isDelta = false)
    assert(stats.nonEmpty)
    val orphan = t.basePath.resolve(stats.head.path)
    assert(Storage.exists(orphan))
    // markers must name the orphan without any layout walk
    val marked = graft.spark.GraftCommitProtocol.markedRelPaths(Storage.conf,
      Storage.qualified(t.basePath).toString.stripSuffix("/"), ts)
    assert(marked.toSet === stats.map(_.path).toSet)
    val rolled = Services.rollbackFailedWrites(t)
    assert(rolled.size === 1)
    assert(!Storage.exists(orphan), "marker-listed orphan survived the reap")
    assert(Readers.snapshot(t).count() === n)
  }

  test("distributed stats job (threshold 0) produces the same footer stats") {
    val dir = tmpDir("direct_stats").toString + "/t"
    val key = "spark.graft.write.stats.driver.max.files"
    spark.conf.set(key, "0") // force every commit through the stats job
    try {
      val t = GraftTable.create(spark, dir, TableConfig(
        "dst", TableType.CopyOnWrite, Seq("id"), "yr", "ver"))
      t.bulkInsert(threeRows)
      val md = CommitMetadata.fromJson(
        t.timeline.readContent(t.timeline.completedDataInstants().last))
      val byPart = md.writeStats.map(s => s.partitionPath -> s).toMap
      assert(byPart.keySet === Set("1995", "1996"))
      val p95 = byPart("1995")
      assert(p95.numWrites === 2 && p95.minRecordKey === "1" && p95.maxRecordKey === "2")
      assert(p95.colMin.get("price").contains("10.0") &&
        p95.colMax.get("price").contains("20.0"))
      assert(p95.fileSizeInBytes > 0)
      assert(byPart("1996").numWrites === 1)
      // and the stats drive data skipping exactly like the driver path
      val skipped = Readers.snapshot(t).filter($"price" > 25.0)
      assert(skipped.count() === 1)
    } finally spark.conf.unset(key)
  }

  test("publish keeps per-data-file reads off the driver (executor-side stats)") {
    val base = mockBase("direct_o1") + "/t"
    val key = "spark.graft.write.stats.driver.max.files"
    spark.conf.set(key, "0") // any commit is "large": stats must be a job
    MockRemoteFileSystem.resetAccesses()
    try {
      val t = GraftTable.create(spark, base, TableConfig(
        "do1", TableType.CopyOnWrite, Seq("id"), "yr", "ver"))
      MockRemoteFileSystem.recording = true
      t.bulkInsert(threeRows)
      MockRemoteFileSystem.recording = false
      // every footer/length read of a committed data file must come from
      // an executor task thread (ONE distributed stats job) — a driver
      // thread doing per-file reads would serialize thousands of object-
      // store round trips at a large commit's publish
      val dataReads = MockRemoteFileSystem.accesses.filter { case (p, _) =>
        p.contains("/t/") && !p.contains("/.graft") && p.endsWith(".parquet") }
      assert(dataReads.nonEmpty, "expected recorded data-file reads")
      val offExecutor = dataReads.filterNot(_._2.contains("Executor task launch"))
      assert(offExecutor.isEmpty,
        s"driver-side per-data-file reads at publish: $offExecutor")
    } finally {
      spark.conf.unset(key)
      MockRemoteFileSystem.recording = false
      MockRemoteFileSystem.resetAccesses()
    }
  }

  test("ORC base format publishes direct with footer stats") {
    val dir = tmpDir("direct_orc").toString + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(
      "dorc", TableType.CopyOnWrite, Seq("id"), "", "ver",
      Map(ConfigKeys.BaseFormat -> "orc")))
    t.bulkInsert(threeRows)
    val md = CommitMetadata.fromJson(
      t.timeline.readContent(t.timeline.completedDataInstants().last))
    assert(md.writeStats.forall(_.path.endsWith(".orc")))
    assert(md.writeStats.map(_.numWrites).sum === 3)
    t.upsert(Seq((2L, 2L, 99.0, "1995")).toDF("id", "ver", "price", "yr"))
    assert(Readers.snapshot(t).filter($"id" === 2L)
      .select("price").as[Double].head() === 99.0)
  }

  test("driver-pool and distributed footer stats agree file for file") {
    val dir = tmpDir("direct_stats_eq").toString + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(
      "dse", TableType.CopyOnWrite, Seq("id"), "concat('p=', pmod(id, 24))", "ver"))
    val instant = t.bulkInsert((1L to 2400L)
      .map(i => (i, 0L, i * 0.5, s"c${i % 7}")).toDF("id", "ver", "price", "cat"))
    val written = CommitMetadata.fromJson(
      t.timeline.readContent(t.timeline.completedDataInstants().last)).writeStats
    // more files than the distributed job's tasks: each task reads several
    assert(written.size > spark.sparkContext.defaultParallelism)
    val files = written.map(s =>
      graft.spark.GraftCommitProtocol.AddedFile(s.partitionPath, s.fileId, s.path))
    val key = "spark.graft.write.stats.driver.max.files"
    def statsWith(maxDriverFiles: Int) = {
      spark.conf.set(key, maxDriverFiles.toString)
      try WritePipeline.statsOfFinalFiles(spark, t.basePath, files, instant,
        isDelta = false, "parquet", allDeletes = false, WritePipeline.DictStats.On)
      finally spark.conf.unset(key)
    }
    val onDriver = statsWith(files.size)
    val distributed = statsWith(0)
    assert(onDriver === distributed)
    assert(onDriver.map(_.numWrites).sum === 2400L)
    assert(onDriver.forall(_.colMin.contains("price")))
  }
}
