package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core._
import graft.table.{BloomIndex, GraftTable, Services, SortMode}
import graft.read.Readers

/** BLOOM index: sidecar build on write, probe-pruning at tag time, and
  * end-to-end upsert equivalence with the SIMPLE index (reference
  * SparkHoodieBloomIndex — candidate pruning + actual-key verification).
  */
class BloomIndexSpec extends AnyFunSuite {
  import SparkTestBase._

  private def bloomCfg = TableConfig(
    tableName = "orders_bloom",
    tableType = TableType.CopyOnWrite,
    recordKeyFields = Seq("o_orderkey"),
    partitionPathExpr = "date_format(o_orderdate, 'yyyy')",
    precombineField = "o_orderdate",
    props = Map(ConfigKeys.IndexType -> "BLOOM"))

  test("write builds one bloom sidecar per base file; upsert matches SIMPLE-index result") {
    val dir = tmpDir("bloom_upsert")
    val t = GraftTable.create(spark, dir.toString, bloomCfg)
    val src = spark.read.parquet(s"$sf001/orders.parquet")
    t.bulkInsert(src)
    val bases = t.view.fileSlices(None).flatMap(_.baseFile)
    assert(bases.nonEmpty)
    bases.foreach { b =>
      assert(graft.core.Storage.exists(BloomIndex.sidecarPath(t.basePath, b.relPath)),
        s"missing sidecar for ${b.relPath}")
    }

    val updates = src.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", lit(4242.0))
    val news = src.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
    t.upsert(updates.unionByName(news))
    val snap = Readers.snapshot(t).cache()
    assert(snap.count() === src.count() + news.count())
    assert(snap.filter(col("o_totalprice") === 4242.0).count() === updates.count())
    assert(snap.groupBy("o_orderkey").count().filter(col("count") > 1).count() === 0)
    snap.unpersist()
    // rewritten groups got fresh sidecars for their new base files
    t.view.fileSlices(None).flatMap(_.baseFile).foreach { b =>
      assert(graft.core.Storage.exists(BloomIndex.sidecarPath(t.basePath, b.relPath)))
    }
  }

  test("probe prunes range-overlapping files that contain none of the keys") {
    val dir = tmpDir("bloom_prune")
    val t = GraftTable.create(spark, dir.toString, bloomCfg.copy(
      props = bloomCfg.props + (ConfigKeys.MaxFileSize -> (64L * 1024).toString)))
    val src = spark.read.parquet(s"$sf001/orders.parquet")
    // NO sort: many small files per partition with fully overlapping key
    // ranges — the layout where range-skipping is useless and bloom wins
    t.bulkInsert(src, SortMode.NoSort)
    val bases = t.view.fileSlices(None).flatMap(_.baseFile)
    assert(bases.size > 4, s"want several files, got ${bases.size}")

    // keys from exactly one file — every other file range-overlaps but
    // cannot contain them (keys are unique across the table)
    val one = bases.head
    val probeKeys = spark.read.parquet(new org.apache.hadoop.fs.Path(t.basePath, one.relPath).toString)
      .select(col(MetaCols.RecordKey), col(MetaCols.PartitionPath))
      .limit(50)
    val pruned = BloomIndex.prune(spark, t.basePath, probeKeys, bases)
    assert(pruned.map(_.fileId).contains(one.fileId))
    assert(pruned.size < bases.size,
      s"bloom should prune some of ${bases.size} candidates, kept ${pruned.size}")
    // fpp 1e-9 on unique keys: expect exactly the probed file's partition hit
    assert(pruned.size <= math.max(2, bases.size / 2))
  }

  test("GLOBAL_BLOOM: keys probe every partition's filters; upsertGlobal migrates partitions") {
    val dir = tmpDir("bloom_global")
    val t = GraftTable.create(spark, dir.toString, bloomCfg)
    val src = spark.read.parquet(s"$sf001/orders.parquet")
    t.bulkInsert(src)
    val bases = t.view.fileSlices(None).flatMap(_.baseFile)
    // probe with keys from one partition but a WRONG partition column —
    // global probing must still find their true files
    val one = bases.head
    val keys = spark.read.parquet(new org.apache.hadoop.fs.Path(t.basePath, one.relPath).toString)
      .select(col(MetaCols.RecordKey), lit("not-a-partition").as(MetaCols.PartitionPath))
      .limit(40)
    val prunedLocal = BloomIndex.prune(spark, t.basePath, keys, bases)
    assert(!prunedLocal.map(_.fileId).contains(one.fileId),
      "partition-scoped probe must miss keys labeled with a foreign partition")
    val prunedGlobal = BloomIndex.prune(spark, t.basePath, keys, bases, global = true)
    assert(prunedGlobal.map(_.fileId).contains(one.fileId))
    assert(prunedGlobal.size < bases.size)

    // end-to-end: global upsert with partition migration under BLOOM
    val moved = src.filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_orderdate", col("o_orderdate") + org.apache.spark.sql.functions.expr("INTERVAL 1 YEAR"))
    t.upsertGlobal(moved)
    val snap = Readers.snapshot(t)
    assert(snap.count() === src.count()) // migrated, not duplicated
    assert(snap.groupBy("o_orderkey").count().filter(col("count") > 1).count() === 0)
  }

  private def assertSidecars(t: GraftTable): Unit =
    t.view.fileSlices(None).flatMap(_.baseFile).foreach { b =>
      assert(graft.core.Storage.exists(BloomIndex.sidecarPath(t.basePath, b.relPath)),
        s"missing sidecar for ${b.relPath}")
    }

  test("clustering builds a sidecar for every base file it writes") {
    val src = spark.read.parquet(s"$sf001/orders.parquet")
    val t = GraftTable.create(spark, tmpDir("bloom_cluster").toString, bloomCfg)
    t.bulkInsert(src.filter(col("o_orderkey") % 2 === 0))
    t.bulkInsert(src.filter(col("o_orderkey") % 2 =!= 0))
    assert(Services.cluster(t).isDefined)
    assertSidecars(t)
  }

  test("MOR compaction builds a sidecar for every base file it writes") {
    val src = spark.read.parquet(s"$sf001/orders.parquet")
    val t = GraftTable.create(spark, tmpDir("bloom_compact").toString, bloomCfg.copy(
      tableType = TableType.MergeOnRead,
      props = bloomCfg.props + ("graft.compact.inline" -> "false")))
    t.bulkInsert(src)
    t.upsert(src.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(1.0)))
    assert(Services.compact(t).isDefined)
    assertSidecars(t)
  }

  test("files without sidecars are kept (conservative fallback)") {
    val dir = tmpDir("bloom_missing")
    // start as SIMPLE (no sidecars written), then flip config to BLOOM
    val simpleCfg = bloomCfg.copy(props = Map.empty)
    val t = GraftTable.create(spark, dir.toString, simpleCfg)
    val src = spark.read.parquet(s"$sf001/orders.parquet")
    t.bulkInsert(src)
    val bases = t.view.fileSlices(None).flatMap(_.baseFile)
    val probe = src.limit(10)
      .select(col("o_orderkey").cast("string").as(MetaCols.RecordKey),
        date_format(col("o_orderdate"), "yyyy").as(MetaCols.PartitionPath))
    val pruned = BloomIndex.prune(spark, t.basePath, probe, bases)
    assert(pruned.toSet === bases.toSet) // nothing to probe with ⇒ keep all
  }
}
