package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.core._
import graft.table.GraftTable
import graft.read.Readers

/** Driver-action regression pins: each Spark job is a driver round-trip,
  * and at cluster scale a write path that quietly grows from 6 jobs to
  * 30 is a real latency regression no row-level test catches. Bounds are
  * measured-with-slack, not exact — they exist to catch order-of-
  * magnitude drift, so tighten deliberately, never loosen casually.
  */
class JobCountSpec extends AnyFunSuite {
  import SparkTestBase._

  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async; give queued events time to drain
      Thread.sleep(800)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")

  test("write and read paths stay within their job budgets") {
    val dir = tmpDir("jobs_cow")
    val t = GraftTable.create(spark, dir.toString, TableConfig(
      "jobs_cow", TableType.CopyOnWrite, Seq("o_orderkey"),
      "date_format(o_orderdate, 'yyyy')", "o_orderdate"))
    val src = orders

    val bulk = countJobs(t.bulkInsert(src))
    val up = countJobs(t.upsert(src.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", lit(1.0))))
    val del = countJobs(t.delete(src.filter(col("o_orderkey") % 50 === 0)))
    val read = countJobs(Readers.snapshot(t).agg(sum("o_totalprice")).collect())
    val inc = countJobs {
      val last = t.timeline.completedInstants().head.ts
      Readers.incremental(t, last).collect()
    }
    info(s"jobs: bulkInsert=$bulk upsert=$up delete=$del read=$read incremental=$inc")
    // r17 tightened from (6, 12, 12): engine-internal actions plan
    // statically now (WritePipeline.staticPlan), so AQE's
    // per-stage jobs no longer multiply the commit's action count —
    // measured bulk=2 up=4 del=4 at sf0.001, pinned with ~2x slack
    assert(bulk <= 4, s"bulkInsert grew to $bulk jobs")
    assert(up <= 8, s"upsert grew to $up jobs")
    assert(del <= 8, s"delete grew to $del jobs")
    assert(read <= 3, s"snapshot aggregate grew to $read jobs")
    assert(inc <= 4, s"incremental read grew to $inc jobs")
  }

  test("insert_overwrite runs ONE batch-profile job, not two") {
    // the touched-partition set and the fresh-bucket counts come from the
    // SAME groupBy-count collect (r17 fusion) — a second full scan of the
    // batch per overwrite commit is a regression
    val dir = tmpDir("jobs_ow")
    val t = GraftTable.create(spark, dir.toString, TableConfig(
      "jobs_ow", TableType.CopyOnWrite, Seq("o_orderkey"),
      "date_format(o_orderdate, 'yyyy')", "o_orderdate"))
    t.bulkInsert(orders)
    val ow = countJobs(t.insertOverwrite(
      orders.filter(year(col("o_orderdate")) === 1995)
        .withColumn("o_totalprice", lit(1.0))))
    info(s"jobs: insertOverwrite=$ow")
    // one profile job + the write (whose USER-plan side stays under AQE,
    // so it surfaces as 2-3 stage jobs) + driver-pool stats (0 jobs);
    // measured 5 at sf0.001 — a second batch-profile pass would push it
    // past this bound
    assert(ow <= 6, s"insertOverwrite grew to $ow jobs")
  }

  test("stats-answered count(*) launches ZERO jobs") {
    val dir = tmpDir("jobs_cnt")
    val t = GraftTable.create(spark, dir.toString, TableConfig(
      "jobs_cnt", TableType.CopyOnWrite, Seq("o_orderkey"),
      "date_format(o_orderdate, 'yyyy')", "o_orderdate"))
    t.bulkInsert(orders)
    // warm the view once so the probe measures the count, not planning IO
    Readers.snapshot(t).schema
    val jobs = countJobs {
      assert(Readers.snapshot(t).count() === orders.count())
    }
    // the orders.count() baseline inside the probe costs jobs; measure
    // the graft count alone for the zero assertion
    val graftOnly = countJobs(Readers.snapshot(t).count())
    info(s"count(*): graftOnly=$graftOnly (probe total $jobs)")
    assert(graftOnly === 0,
      s"metadata-answered count(*) regressed to $graftOnly jobs")
    // min/max/count(col) fold from the column-stats index: ZERO jobs too
    val expectedRows = orders.count()
    val mm = countJobs {
      val r = Readers.snapshot(t).agg(
        min(col("o_totalprice")), max(col("o_totalprice")),
        count(col("o_custkey"))).head()
      assert(r.getDouble(0) > 0 && r.getLong(2) === expectedRows)
    }
    info(s"min/max/count(col): $mm")
    assert(mm === 0, s"stats-answered min/max regressed to $mm jobs")
    // DISTINCT of a dictionary-indexed column: ZERO jobs
    val dist = countJobs {
      assert(Readers.snapshot(t).select("o_orderpriority").distinct()
        .collect().length === 5)
    }
    info(s"distinct: $dist")
    assert(dist === 0, s"stats-answered DISTINCT regressed to $dist jobs")
  }

  test("materialized-view control paths stay off the cluster") {
    import graft.table.{MaterializedView => MV}
    val dir = tmpDir("jobs_mv")
    val t = GraftTable.create(spark, s"$dir/src", TableConfig(
      "jobs_mv", TableType.CopyOnWrite, Seq("o_orderkey"),
      "date_format(o_orderdate, 'yyyy')", "o_orderdate"))
    t.bulkInsert(orders)
    val v = MV.create(spark, s"$dir/view", t,
      Seq("o_orderpriority" -> "o_orderpriority"),
      Seq(MV.ViewAgg("cnt", "count", "*")))
    MV.sync(v, t)
    // a no-op sync is a timeline-only decision: ZERO Spark jobs — at
    // 1000 registered views the post-commit hook must not fan a cluster
    // job out per already-fresh view
    val noop = countJobs(assert(MV.sync(v, t).isEmpty))
    // the rewrite rule's freshness gate runs per aggregate QUERY: zero jobs
    val fresh = countJobs(assert(MV.isFresh(v, t)))
    info(s"mv: noopSync=$noop isFresh=$fresh")
    assert(noop === 0, s"no-op view sync regressed to $noop jobs")
    assert(fresh === 0, s"isFresh regressed to $fresh jobs")
    // a fold is bounded: the adaptive choice (this window rewrites most
    // file groups, so it rebuilds) must stay cheaper than the old
    // always-delta budget of 16
    t.upsert(orders.filter(col("o_orderkey") % 20 === 0)
      .withColumn("o_totalprice", lit(2.0)))
    val fold = countJobs(assert(MV.sync(v, t).isDefined))
    info(s"mv: fold=$fold")
    assert(fold <= 12, s"view fold grew to $fold jobs")
  }
}
