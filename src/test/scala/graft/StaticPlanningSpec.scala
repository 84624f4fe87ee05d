package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, ExecutionCapture}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.core._
import graft.read.Readers
import graft.table.{GraftTable, WritePipeline}

/** Static planning of engine-internal actions runs on a child session with
  * AQE off; the shared session's conf is never written, so queries and
  * commits on other threads keep their own planning mode.
  */
class StaticPlanningSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestBase._
  import spark.implicits._

  private val Aqe = "spark.sql.adaptive.enabled"

  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  test("a rebound frame plans statically; the parent keeps AQE") {
    val df = spark.range(0, 1000).groupBy(($"id" % 7).as("k")).count()
    val static = WritePipeline.staticPlan(df)
    assert(!adaptive(static), static.queryExecution.executedPlan.toString)
    assert(static.sparkSession ne spark)
    assert(adaptive(df), df.queryExecution.executedPlan.toString)
    assert(spark.conf.get(Aqe) === "true")
    assert(static.collect().toSet === df.collect().toSet)
  }

  test("a frame the parent persisted scans its cache from the child") {
    val cached = spark.range(0, 500).withColumn("v", $"id" * 2).persist()
    try {
      cached.count()
      val static = WritePipeline.staticPlan(cached.filter($"v" > 10))
      val hits = static.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }
      assert(hits.nonEmpty, static.queryExecution.withCachedData.toString)
      assert(static.count() === 494)
    } finally cached.unpersist()
  }

  test("the child follows the parent's later settings; the escape hatch keeps AQE") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val static = WritePipeline.staticPlan(spark.range(0, 100).toDF().repartition($"id"))
      assert(static.queryExecution.toRdd.getNumPartitions === 3)
    } finally spark.conf.set(key, prev)
    assert(WritePipeline.staticPlan(spark.range(1).toDF()).sparkSession.conf.get(key) === prev)
    val hatch = "spark.graft.internal.adaptive"
    spark.conf.set(hatch, "true")
    try {
      val df = spark.range(10).groupBy(($"id" % 2).as("k")).count()
      assert(WritePipeline.staticPlan(df) eq df)
    } finally spark.conf.unset(hatch)
  }

  test("a reader on another thread keeps AQE while commits run in a loop") {
    val t = GraftTable.create(spark, tmpDir("static_aqe").toString + "/t",
      TableConfig("static_aqe", TableType.CopyOnWrite, Seq("id"), "p", "ver"))
    t.bulkInsert((1L to 400L).map(i => (i, s"p${i % 4}", 0L, i * 1.5))
      .toDF("id", "p", "ver", "amt"))
    @volatile var writing = true
    val writer = new Thread(() =>
      try (1 to 12).foreach { k =>
        // upserts touch ids 1-200, deletes ids 301-312: 397 rows survive
        t.upsert((1L to 40L).map(i => (i * k % 200 + 1, s"p${(i * k % 200 + 1) % 4}",
          k.toLong, k * 1.0)).toDF("id", "p", "ver", "amt"))
        if (k % 4 == 0) t.delete(Seq((300L + k, s"p${(300 + k) % 4}", 0L, 0.0))
          .toDF("id", "p", "ver", "amt"))
      } finally writing = false)
    val readerFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var reads = 0
    val reader = new Thread(() =>
      while (writing || reads == 0) {
        if (spark.conf.get(Aqe) != "true")
          readerFailures.add(s"session conf read $Aqe=${spark.conf.get(Aqe)}")
        val q = Readers.snapshot(t).groupBy("p").agg(sum("amt"), count(lit(1)))
        q.collect()
        if (!adaptive(q)) readerFailures.add(q.queryExecution.executedPlan.toString)
        reads += 1
      })
    writer.start(); reader.start()
    writer.join(); reader.join()
    assert(reads > 0)
    assert(readerFailures.isEmpty,
      s"${readerFailures.size} of $reads reads lost AQE: ${readerFailures.peek()}")
    assert(Readers.snapshot(t).count() === 397)
  }

  test("a skewed user source keeps AQE's skew-join split inside a static upsert") {
    val t = GraftTable.create(spark, tmpDir("static_skew").toString + "/t",
      TableConfig("static_skew", TableType.CopyOnWrite, Seq("id"), "", ""))
    t.bulkInsert(spark.range(0, 10).select($"id", lit(-1L).as("k"), lit("").as("name")))
    // 90% of 20k rows join on k = 0: one reduce partition far above the
    // others, fed by 8 map tasks so AQE can split it
    val facts = spark.range(0, 20000, 1, 8)
      .select($"id", when($"id" % 10 < 9, 0L).otherwise($"id" % 100).as("k"))
    val dim = spark.range(0, 100).select($"id".as("k"), concat(lit("n"), $"id").as("name"))
    val conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val (_, executions) = try ExecutionCapture.during(spark) {
      t.upsert(facts.join(dim, "k").select($"id", $"k", $"name"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(executions.nonEmpty)
    // the engine's own actions plan statically, on the child session
    val adaptiveTop = executions.filter(qe =>
      qe.executedPlan.find(_.isInstanceOf[AdaptiveSparkPlanExec]).nonEmpty)
    assert(adaptiveTop.isEmpty, adaptiveTop.map(_.executedPlan).mkString("\n"))
    assert(executions.forall(_.sparkSession ne spark))
    // the user plan, cached at persist() under the parent's conf, ran
    // under AQE and split the skewed join partition
    def cachedPlans(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }.flatMap(c => c +: cachedPlans(c))
    val userPlans = executions.flatMap(qe => cachedPlans(qe.executedPlan))
      .collect { case a: AdaptiveSparkPlanExec => a }
    assert(userPlans.nonEmpty, executions.map(_.executedPlan).mkString("\n"))
    // the helper's collect descends into the final plan's query stages
    val skewJoins = userPlans.flatMap(collect(_) {
      case j: SortMergeJoinExec if j.isSkewJoin => j
    })
    assert(skewJoins.nonEmpty, userPlans.mkString("\n"))
    // ids 0-9 update in place
    assert(Readers.snapshot(t).count() === 20000)
    assert(Readers.snapshot(t).filter($"k" === -1L).count() === 0)
  }
}
