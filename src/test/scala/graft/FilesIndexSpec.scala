package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.Storage.PathOps
import graft.read.Readers
import graft.table.GraftTable

/** Distributed files-index form: past the configured entry threshold the
  * archive-time snapshot is a parquet index table (+ small meta JSON)
  * instead of one JSON blob, and partition-pruned view loads push the
  * partition predicate into a distributed scan of it — driver state is
  * bounded by the queried partitions' entries, not the table's file count.
  */
class FilesIndexSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private def mk(name: String): GraftTable =
    GraftTable.create(spark, tmpDir(name).toString + "/t", TableConfig(
      name, TableType.CopyOnWrite, Seq("id"), "concat('p=', pmod(id, 8))", "ver",
      Map(ConfigKeys.ArchiveMaxCommits -> "12",
        ConfigKeys.ArchiveMinCommits -> "6",
        ConfigKeys.FilesIndexParquetThreshold -> "10")))

  test("snapshot index switches to parquet past the threshold; reads stay exact") {
    val t = mk("fidx")
    t.bulkInsert((1L to 400L).map(i => (i, 0L)).toDF("id", "ver"))
    // enough commits to trigger archiving (and with 8 partitions x several
    // versions, entries > 10 at snapshot time)
    (1 to 14).foreach { k =>
      t.upsert(Seq((1L + (k % 8), k.toLong)).toDF("id", "ver"))
    }
    val idxDir = t.basePath.resolve(".graft").resolve("index")
    val names = Storage.listPaths(idxDir).map(_.getName)
    assert(names.exists(_.endsWith(".meta.json")),
      s"no parquet index meta written: $names")
    assert(names.exists(_.endsWith(".parquet")),
      s"no parquet index table written: $names")
    assert(!names.exists(n => n.endsWith(".json") && !n.endsWith(".meta.json")),
      s"monolithic JSON written despite threshold: $names")

    // full snapshot folds through the parquet index exactly
    val snap = Readers.snapshot(t)
    assert(snap.count() === 400)
    assert(snap.agg(max("ver")).first().getLong(0) === 14L)
  }

  test("partition-pruned read materializes only that partition's entries") {
    val t = mk("fidx_pruned")
    t.bulkInsert((1L to 400L).map(i => (i, 0L)).toDF("id", "ver"))
    (1 to 14).foreach { k =>
      t.upsert(Seq((1L + (k % 8), k.toLong)).toDF("id", "ver"))
    }
    // cold view (fresh instance, cache keyed off the same path is fine —
    // the pruned path bypasses it unless already warm and current)
    FileSystemView.invalidate(t.basePath)
    val pruned = t.view.fileSlicesPruned(Set("p=3"), None)
    assert(pruned.nonEmpty)
    assert(pruned.forall(_.partitionPath === "p=3"))
    val full = t.view.fileSlices(None)
    assert(pruned.size < full.size, "pruning did not bound the slice set")
    // pruned read returns exactly the partition's rows
    val rows = Readers.snapshot(t, partitions = Some(Seq("p=3")))
    assert(rows.count() === 50) // ids ≡ 3 (mod 8) in 1..400
    assert(rows.filter(pmod($"id", lit(8)) =!= 3).count() === 0)
    // and agrees with the full snapshot filtered
    val fullRows = Readers.snapshot(t).filter(pmod($"id", lit(8)) === 3)
    assert(rows.count() === fullRows.count())
  }

  test("small tables keep the JSON snapshot form") {
    val t = GraftTable.create(spark, tmpDir("fidx_small").toString + "/t", TableConfig(
      "fidx_small", TableType.CopyOnWrite, Seq("id"), "", "ver",
      Map(ConfigKeys.ArchiveMaxCommits -> "12", ConfigKeys.ArchiveMinCommits -> "6")))
    t.bulkInsert((1L to 50L).map(i => (i, 0L)).toDF("id", "ver"))
    (1 to 14).foreach(k => t.upsert(Seq((1L, k.toLong)).toDF("id", "ver")))
    val idxDir = t.basePath.resolve(".graft").resolve("index")
    val names = Storage.listPaths(idxDir).map(_.getName)
    assert(names.exists(n => n.endsWith(".json") && !n.endsWith(".meta.json")))
    assert(!names.exists(_.endsWith(".parquet")))
    assert(Readers.snapshot(t).count() === 50)
  }

  test("time travel between two snapshots sees commits archived past the older one") {
    // max 12 / min 6 active instants: commit 12 snapshots and archives
    // 0-6, commit 19 snapshots and archives 7-13. An as-of read at 13 sits
    // above snapshot 12, but instant 13 is gone from the active timeline:
    // the view must take it from snapshot 19, not fold past it. Both
    // snapshot forms (JSON, parquet past 10 entries) are exercised.
    for (threshold <- Seq(FileSystemView.DefaultParquetThreshold, 10L)) {
      val name = s"fidx_tt_$threshold"
      val t = GraftTable.create(spark, tmpDir(name).toString + "/t", TableConfig(
        name, TableType.CopyOnWrite, Seq("id"), "concat('p=', pmod(id, 2))", "ver",
        Map(ConfigKeys.ArchiveMaxCommits -> "12",
          ConfigKeys.ArchiveMinCommits -> "6",
          ConfigKeys.FilesIndexParquetThreshold -> threshold.toString)))
      val instants = t.bulkInsert((1L to 50L).map(i => (i, 0L)).toDF("id", "ver")) +:
        (1 to 19).map(k => t.upsert(Seq((1L, k.toLong), (1000L + k, k.toLong))
          .toDF("id", "ver")))
      val snapshots = Storage.listPaths(t.basePath.resolve(".graft").resolve("index"))
        .map(_.getName).filter(_.startsWith("files_"))
        .map(_.stripPrefix("files_").takeWhile(_ != '.')).distinct.sorted
      assert(snapshots === Seq(instants(12), instants(19)), s"snapshots $snapshots")
      assert(t.timeline.completedInstants().head.ts === instants(14))
      FileSystemView.invalidate(t.basePath)
      for (k <- 0 to 19) {
        val asOf = Some(instants(k))
        val snap = Readers.snapshot(t, asOf = asOf)
        assert(snap.count() === 50 + k, s"as of commit $k ($threshold)")
        assert(snap.filter($"id" === 1L).select("ver").as[Long].collect().toSeq === Seq(k.toLong),
          s"id 1 as of commit $k ($threshold)")
        assert(Readers.snapshot(t, asOf = asOf, partitions = Some(Seq("p=1"))).count() ===
          25 + (1 to k).count(_ % 2 == 1), s"pruned as of commit $k ($threshold)")
      }
    }
  }
}
