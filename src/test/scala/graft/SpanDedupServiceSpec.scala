package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core._
import graft.pipeline.SpanDedupService
import graft.read.Readers
import graft.table.GraftTable

/** Incremental span-dedup service: in-tick cuts, cross-tick first-copy
  * preservation, crash-replay idempotence via the min-owner index, and
  * no-op ticks.
  */
class SpanDedupServiceSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private def docsCfg(name: String) =
    TableConfig(name, TableType.CopyOnWrite, Seq("doc_id"), "", "")

  private def mk(dir: String) = {
    val src = GraftTable.create(spark, s"$dir/source", docsCfg("src"))
    val clean = GraftTable.create(spark, s"$dir/clean", docsCfg("clean"))
    val idx = SpanDedupService.openIndex(spark, s"$dir/index", k = 4)
    (src, clean, idx)
  }

  private def texts(clean: GraftTable): Map[Long, String] =
    Readers.snapshot(clean).select("doc_id", "text")
      .as[(Long, String)].collect().toMap

  test("cross-tick: the introducing tick keeps the passage, later arrivals lose it") {
    val (src, clean, idx) = mk(tmpDir("span_svc").toString)
    // tick 1: doc 1 introduces "p q r s"; unique elsewhere
    src.bulkInsert(Seq((1L, "a b c p q r s d e"), (2L, "f g h i j")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    assert(texts(clean) === Map(1L -> "a b c p q r s d e", 2L -> "f g h i j"))
    // tick 2: doc 3 carries the same passage -> cut; doc 1 untouched
    src.bulkInsert(Seq((3L, "x y p q r s z w")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    val t2 = texts(clean)
    assert(t2(1L) === "a b c p q r s d e")
    assert(t2(3L) === "x y z w")
  }

  test("in-tick duplicates cut everywhere (batch rule, tick-locally)") {
    val (src, clean, idx) = mk(tmpDir("span_svc_intick").toString)
    src.bulkInsert(Seq(
      (1L, "a b p q r s c"),
      (2L, "d e p q r s f")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    val t = texts(clean)
    assert(t(1L) === "a b c")
    assert(t(2L) === "d e f")
  }

  test("crash replay: a tick whose index append landed but clean commit didn't replays identically") {
    val (src, clean, idx) = mk(tmpDir("span_svc_replay").toString)
    src.bulkInsert(Seq((1L, "a b c p q r s d")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    src.bulkInsert(Seq((2L, "k p q r s m"), (3L, "u v w x y z t1 t2")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    val before = texts(clean)
    // simulate the crash window: the clean commit vanishes (rollback), the
    // index keeps tick 2's fingerprints — the replayed tick must not
    // self-cut doc 3's unique windows (min-owner is doc 3 itself)
    val lastClean = clean.timeline.completedDataInstants().last.ts
    graft.table.Services.rollback(clean, lastClean)
    SpanDedupService.sync(src, clean, idx)
    assert(texts(clean) === before)
    assert(before(2L) === "k m")
    assert(before(3L) === "u v w x y z t1 t2")
  }

  test("no-op tick: unchanged source commits nothing") {
    val (src, clean, idx) = mk(tmpDir("span_svc_noop").toString)
    src.bulkInsert(Seq((1L, "a b c d e")).toDF("doc_id", "text"))
    assert(SpanDedupService.sync(src, clean, idx).isDefined)
    val n = clean.timeline.completedDataInstants().size
    assert(SpanDedupService.sync(src, clean, idx).isEmpty)
    assert(clean.timeline.completedDataInstants().size === n)
  }

  test("source rollback wipes ghost fingerprints and rebuilds") {
    val (src, clean, idx) = mk(tmpDir("span_svc_rb").toString)
    src.bulkInsert(Seq((1L, "a b c d e f"), (2L, "g h i j k")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    // tick 2 introduces a passage, then rolls back — without the rewind
    // check its fingerprints would keep cutting the passage out of every
    // later doc
    val c2 = src.bulkInsert(Seq((3L, "x y p q r s z")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    graft.table.Services.rollback(src, c2)
    assert(SpanDedupService.sync(src, clean, idx).nonEmpty)
    assert(texts(clean) === Map(1L -> "a b c d e f", 2L -> "g h i j k"),
      "rolled-back docs linger in clean")
    // the passage is new again: its first copy keeps it
    src.bulkInsert(Seq((4L, "m p q r s n")).toDF("doc_id", "text"))
    SpanDedupService.sync(src, clean, idx)
    assert(texts(clean)(4L) === "m p q r s n")
    // steady state: next tick is a no-op
    assert(SpanDedupService.sync(src, clean, idx).isEmpty)
  }
}
