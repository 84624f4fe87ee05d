package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.core.{Action, ConfigKeys, TableConfig, TableType}
import graft.pipeline.{DecontaminateService, DedupService, HashDedupService,
  RollupService, SessionService, SpanDedupService}
import graft.table.{GraftTable, IncrementalSync, MaterializedView, Services}
import graft.table.IncrementalSync.{Delta, Idle, Rebuild}

/** The shared incremental-sync skeleton as a decision table: every row
  * drives a real source table into one state and checks what
  * [[IncrementalSync.plan]] makes of it against a real target table whose
  * commits stamp the planned marks, the way a service's commit does.
  */
class IncrementalSyncSpec extends AnyFunSuite {
  import SparkTestBase._

  private val keys = IncrementalSync.Keys("graft.test.source")

  private def cfg(name: String, props: Map[String, String] = Map.empty) =
    TableConfig(name, TableType.CopyOnWrite, Seq("id"), "", "", props)

  private def rows(from: Long, until: Long) =
    spark.range(from, until).select(col("id"), (col("id") * 2).as("v"))

  private def tables(name: String, srcProps: Map[String, String] = Map.empty) = {
    val root = tmpDir(name).toString
    (GraftTable.create(spark, s"$root/source", cfg("src", srcProps)),
      GraftTable.create(spark, s"$root/target", cfg("tgt")))
  }

  /** A service commit: one target row carrying the plan's marks. */
  private def stamp(target: GraftTable, plan: IncrementalSync.Plan): Unit = plan match {
    case w: IncrementalSync.Work => target.upsert(rows(0, 1), extraMetadata = w.marks)
    case Idle => fail("an idle plan has nothing to stamp")
  }

  private def plan(src: GraftTable, tgt: GraftTable) = IncrementalSync.plan(src, tgt, keys)

  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async; give queued events time to drain
      Thread.sleep(800)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("first tick rebuilds; an unchanged source is idle; a data commit is a delta") {
    val (src, tgt) = tables("isync_basic")
    assert(plan(src, tgt) === Idle, "an empty source has nothing to sync")
    val c1 = src.bulkInsert(rows(0, 10))
    val first = plan(src, tgt)
    assert(first === Rebuild(c1, recovering = false,
      Map("graft.test.source.checkpoint" -> c1, "graft.test.source.rewind.seen" -> "")))
    stamp(tgt, first)
    assert(IncrementalSync.checkpoint(tgt, keys) === Some(c1))
    assert(plan(src, tgt) === Idle)
    val c2 = src.upsert(rows(5, 15))
    plan(src, tgt) match {
      case d @ Delta(`c1`, `c2`, marks, commits) =>
        assert(marks(keys.checkpoint) === c2)
        assert(commits.map(_.operationType) === Seq("upsert"))
        assert(IncrementalSync.pull(src, d).count() === 10)
        assert(IncrementalSync.pull(src, d).columns.toSeq === Seq("id", "v"))
      case other => fail(s"expected a delta over ($c1, $c2], got $other")
    }
  }

  test("a window holding only a clustering is idle, decided without a Spark job") {
    val (src, tgt) = tables("isync_cluster")
    src.bulkInsert(rows(0, 10))
    src.bulkInsert(rows(10, 20))
    stamp(tgt, plan(src, tgt))
    assert(Services.cluster(src, sortColumns = Seq("v")).nonEmpty)
    var p: IncrementalSync.Plan = null
    assert(countJobs { p = plan(src, tgt) } === 0)
    assert(p === Idle)
    // the next data commit folds only itself: the clustering stays out
    val c4 = src.upsert(rows(20, 25))
    plan(src, tgt) match {
      case d @ Delta(_, `c4`, _, commits) =>
        assert(commits.size === 1)
        assert(IncrementalSync.pull(src, d).count() === 5)
      case other => fail(s"expected a delta through $c4, got $other")
    }
  }

  test("a rollback rebuilds, recovering; a crash before the clean commit recovers again") {
    val (src, tgt) = tables("isync_rollback")
    val c1 = src.bulkInsert(rows(0, 10))
    stamp(tgt, plan(src, tgt))
    val c2 = src.upsert(rows(10, 20))
    stamp(tgt, plan(src, tgt))
    val rb = Services.rollback(src, c2)
    val recover = plan(src, tgt)
    assert(recover === Rebuild(c1, recovering = true,
      Map(keys.checkpoint -> c1, keys.rewindSeen -> rb)))
    // the recovery wipe lands, then the tick dies before its commit: the
    // marks never published, so the next plan recovers again
    tgt.truncate()
    assert(plan(src, tgt) === recover)
    stamp(tgt, recover)
    assert(plan(src, tgt) === Idle)
  }

  test("a restore rebuilds, recovering") {
    val (src, tgt) = tables("isync_restore")
    val c1 = src.bulkInsert(rows(0, 10))
    stamp(tgt, plan(src, tgt))
    src.upsert(rows(10, 20))
    src.upsert(rows(20, 30))
    stamp(tgt, plan(src, tgt))
    val rs = Services.restore(src, c1)
    assert(plan(src, tgt) === Rebuild(c1, recovering = true,
      Map(keys.checkpoint -> c1, keys.rewindSeen -> rs)))
  }

  test("a rollback archived before the next sync still rebuilds, recovering") {
    // archive all but the newest instant once more than two are active
    val (src, tgt) = tables("isync_archived",
      Map(ConfigKeys.ArchiveMaxCommits -> "2", ConfigKeys.ArchiveMinCommits -> "1"))
    src.bulkInsert(rows(0, 10))
    stamp(tgt, plan(src, tgt))
    val c2 = src.upsert(rows(10, 20))
    stamp(tgt, plan(src, tgt))
    val rb = Services.rollback(src, c2)
    val c3 = src.upsert(rows(20, 30))
    assert(!src.timeline.completedInstants().exists(_.action == Action.Rollback))
    assert(src.timeline.archivedInstants().exists(_._1.ts == rb))
    assert(plan(src, tgt) === Rebuild(c3, recovering = true,
      Map(keys.checkpoint -> c3, keys.rewindSeen -> rb)))
  }

  test("the seven services' stored mark keys are unchanged") {
    val stored = Seq(
      DedupService.SyncKeys -> ("graft.dedup.source.checkpoint", "graft.dedup.source.rewind.seen"),
      HashDedupService.SyncKeys ->
        ("graft.hashdedup.source.checkpoint", "graft.hashdedup.source.rewind.seen"),
      SpanDedupService.SyncKeys -> ("graft.spans.source.checkpoint", "graft.spans.source.rewind.seen"),
      DecontaminateService.SyncKeys -> ("graft.decon.source.checkpoint", "graft.decon.source.rewind.seen"),
      SessionService.SyncKeys ->
        ("graft.sessions.events.checkpoint", "graft.sessions.events.rewind.seen"),
      RollupService.SyncKeys -> ("graft.rollup.source.checkpoint", "graft.rollup.source.rewind.seen"),
      MaterializedView.SyncKeys -> ("graft.view.source.checkpoint", "graft.view.source.rewind.seen"))
    for ((k, (ckpt, rewind)) <- stored) {
      assert(k.checkpoint === ckpt)
      assert(k.rewindSeen === rewind)
    }
  }
}
