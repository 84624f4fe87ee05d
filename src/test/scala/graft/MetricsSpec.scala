package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{TableConfig, TableType}
import graft.table.{ConsoleMetricsReporter, GraftTable, InMemoryMetricsReporter,
  JmxMetricsReporter, Metrics, Services, TableAdmin}

/** Metrics subsystem (reference HoodieMetrics + MetricsReporter family):
  * gauges are a pure fold over commit metadata, so live == replayed ==
  * post-restart; reporters fire on refresh; JMX exposes the snapshot via
  * the platform MBean server.
  */
class MetricsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def mk(name: String, tt: String = TableType.CopyOnWrite,
      props: Map[String, String] = Map.empty): GraftTable =
    GraftTable.create(spark, tmpDir(name).toString, TableConfig(
      name, tt, Seq("o_orderkey"), "date_format(o_orderdate, 'yyyy')",
      "o_orderdate", props))

  private def src(n: Int) = {
    val df = spark.read.parquet(s"$sf001/orders.parquet").limit(n).cache()
    df.count(); df
  }

  test("commit gauges match the written data; counters accumulate") {
    val t = mk("m_basic", props = Map(Metrics.OnProp -> "true"))
    val s = src(300)
    t.bulkInsert(s)
    val r1 = Metrics.registryFor(t)
    assert(r1.get("commit.totalRecordsWritten").contains(300L))
    assert(r1.get("commit.count").contains(1L))
    assert(r1.get("commit.totalFilesUpdate").contains(0L))
    val files1 = r1.get("commit.totalFilesWritten").get
    assert(r1.get("commit.totalFilesInsert").contains(files1))
    assert(r1.get("commit.totalBytesWritten").exists(_ > 0L))
    assert(r1.get("commit.duration").exists(_ >= 0L))

    // an upsert of existing keys rewrites existing file groups only
    t.upsert(s.limit(40).withColumn("o_totalprice", lit(9.0)))
    val r2 = Metrics.registryFor(t)
    assert(r2.get("commit.count").contains(2L))
    assert(r2.get("commit.totalFilesInsert").contains(0L))
    assert(r2.get("commit.totalFilesUpdate").exists(_ > 0L))
    assert(r2.get("commit.totalRecordsCum").exists(_ > 300L))
    s.unpersist()
  }

  test("live registry equals a from-scratch replay (restart recovery)") {
    val t = mk("m_replay", TableType.MergeOnRead,
      Map(Metrics.OnProp -> "true", "graft.compact.inline" -> "false"))
    val s = src(200)
    t.bulkInsert(s)
    t.upsert(s.limit(30).withColumn("o_totalprice", lit(2.0)))
    t.delete(s.limit(10))
    Services.compact(t)
    Services.clean(t)
    val live = Metrics.registryFor(t).snapshot.toMap
    val replayed = Metrics.replay(t).snapshot.toMap
    assert(live === replayed)
    assert(live.keys.exists(_.contains("deltacommit.")))
    assert(live.keys.exists(_.contains("compaction.")) ||
      live.keys.exists(_.contains("clean.")))
    s.unpersist()
  }

  test("compaction and cluster commits record their duration; replay parity holds") {
    val mor = mk("m_dur_mor", TableType.MergeOnRead,
      Map(Metrics.OnProp -> "true", "graft.compact.inline" -> "false"))
    val s = src(200)
    mor.bulkInsert(s)
    mor.upsert(s.limit(30).withColumn("o_totalprice", lit(2.0)))
    assert(Services.compact(mor).isDefined)
    val cow = mk("m_dur_cow", props = Map(Metrics.OnProp -> "true"))
    cow.bulkInsert(s.filter(col("o_orderkey") % 2 === 0))
    cow.bulkInsert(s.filter(col("o_orderkey") % 2 =!= 0))
    assert(Services.cluster(cow).isDefined)
    for ((t, op) <- Seq(mor -> "compact", cow -> "cluster")) {
      val durations = TableAdmin.commits(t).filter(col("operation") === op)
        .select("duration_ms").collect().map(_.getLong(0))
      assert(durations.nonEmpty && durations.forall(_ >= 0L),
        s"$op duration_ms: ${durations.mkString(",")}")
      val live = Metrics.registryFor(t).snapshot.toMap
      assert(live === Metrics.replay(t).snapshot.toMap)
    }
    assert(Metrics.registryFor(mor).get("compaction.duration").exists(_ >= 0L))
    s.unpersist()
  }

  test("service actions publish clean/rollback gauges") {
    val t = mk("m_svc", props = Map(Metrics.OnProp -> "true"))
    val s = src(120)
    t.bulkInsert(s)
    val c2 = t.upsert(s.limit(20).withColumn("o_totalprice", lit(1.0)))
    Services.rollback(t, c2)
    val r = Metrics.registryFor(t)
    assert(r.get("rollback.count").contains(1L))
    assert(r.get("rollback.numFilesDeleted").exists(_ > 0L))
    // a rollback REMOVES the commit instant — live must match a fresh
    // replay of the surviving timeline, not keep the undone commit
    assert(r.get("commit.count").contains(1L))
    assert(r.snapshot.toMap === Metrics.replay(t).snapshot.toMap)
    s.unpersist()
  }

  test("reporters fire on refresh; JMX exposes gauges as MBean attributes") {
    val t = mk("m_rep", props = Map(Metrics.OnProp -> "true"))
    val mem = new InMemoryMetricsReporter
    val jmx = new JmxMetricsReporter("m_rep")
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    Metrics.register(t, mem)
    Metrics.register(t, jmx)
    Metrics.register(t, new ConsoleMetricsReporter(lines += _))
    val s = src(80)
    t.bulkInsert(s)
    assert(mem.last.get("m_rep.commit.totalRecordsWritten").contains(80L))
    assert(lines.exists(_.startsWith("m_rep.commit.totalRecordsWritten=80")))
    val server = java.lang.management.ManagementFactory.getPlatformMBeanServer
    val objName = new javax.management.ObjectName(
      "graft.metrics", "table", javax.management.ObjectName.quote("m_rep"))
    assert(server.isRegistered(objName))
    assert(server.getAttribute(objName, "m_rep.commit.totalRecordsWritten") === 80L)
    Metrics.unregisterAll(t)
    assert(!server.isRegistered(objName))
    s.unpersist()
  }

  test("metrics DataFrame view; re-created table does not inherit the fold") {
    val t = mk("m_view", props = Map(Metrics.OnProp -> "true"))
    val s = src(50)
    t.bulkInsert(s)
    val byName = TableAdmin.metrics(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("m_view.commit.totalRecordsWritten") === 50L)
    // recreate at the SAME path: counters must restart, not accumulate
    graft.table.WritePipeline.deleteRecursively(t.basePath)
    val t2 = GraftTable.create(spark, t.basePath.toString, t.cfg)
    t2.bulkInsert(s.limit(10))
    assert(Metrics.registryFor(t2).get("commit.count").contains(1L))
    assert(Metrics.registryFor(t2).get("commit.totalRecordsWritten").contains(10L))
    s.unpersist()
  }
}
