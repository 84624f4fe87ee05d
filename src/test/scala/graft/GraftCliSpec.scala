package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core._
import graft.read.Readers
import graft.table.{CliText, GraftCli, GraftTable}

/** The admin shell grammar end-to-end: a full table lifecycle driven only
  * through CLI command strings, asserting both status lines and the
  * returned frames.
  */
class GraftCliSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  test("create/connect/desc/fetch schema") {
    val dir = tmpDir("cli_create").toString + "/t"
    val cli = new GraftCli(spark)
    intercept[IllegalStateException] { cli.run("commits show") } // not connected
    val made = cli.run(
      s"create --path $dir --tableName cli_t --recordKey id --precombine v")
    assert(made.text.contains("created"))
    cli.table.bulkInsert(Seq((1L, 1L), (2L, 1L)).toDF("id", "v"))

    val cli2 = new GraftCli(spark)
    assert(cli2.run(s"connect --path $dir").text.contains("cli_t"))
    val desc = cli2.run("desc").frame.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("tableName") === "cli_t")
    assert(desc("recordKeyFields") === "id")
    assert(cli2.run("fetch table schema").text.contains("\"id\""))
  }

  test("partitions evolve through the shell") {
    val dir = tmpDir("cli_pevo").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_pe --recordKey id " +
      "--precombine v --partitionPath 'cast(v as string)'")
    cli.table.bulkInsert(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val out = cli.run("partitions evolve --expr 'concat(cast(v as string), \"x\")'")
    assert(out.text.contains("evolved"))
    // the shell reconnected to the evolved handle; new writes use it
    cli.table.upsert(Seq((1L, 10L)).toDF("id", "v"))
    import graft.core.MetaCols
    val parts = graft.read.Readers.snapshot(cli.table)
      .select(org.apache.spark.sql.functions.col(MetaCols.PartitionPath))
      .as[String].collect().toSet
    assert(parts === Set("10x", "20"))
  }

  test("commits / rollback / savepoint / cleans / stats through the shell") {
    val dir = tmpDir("cli_life").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_l --recordKey id --precombine v")
    val t = cli.table
    t.bulkInsert(Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "v"))
    t.upsert(Seq((1L, 2L)).toDF("id", "v"))
    t.upsert(Seq((2L, 2L)).toDF("id", "v"))

    val commits = cli.run("commits show").frame
    assert(commits.count() === 3)
    val firstTs = commits.orderBy(col("instant")).first().getString(0)

    // savepoint the first commit, roll back the last one by command
    assert(cli.run(s"savepoint create --commit $firstTs").text.contains("Savepoint"))
    assert(cli.run("savepoints show").frame.count() === 1)
    val lastTs = commits.orderBy(col("instant").desc).first().getString(0)
    assert(cli.run(s"commit rollback --commit $lastTs").text.contains("rolled back"))
    assert(cli.run("show rollbacks").frame.count() === 1)
    assert(Readers.snapshot(t).filter(col("id") === 2 && col("v") === 1).count() === 1)

    assert(cli.run("show fsview all").frame.count() >= 1)
    assert(cli.run("stats filesizes").frame.first().getLong(0) >= 1)
    // 2 surviving data commits: the rolled-back upsert no longer exists
    // on the timeline, and the metrics fold reflects the surviving state
    val m = cli.run("metrics show").frame.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("cli_l.commit.count") === 2L)
    assert(m("cli_l.rollback.count") === 1L)
    // catalog publish straight from the shell
    assert(cli.run("catalog sync --db cli_db").text.contains("cli_db.cli_l"))
    assert(spark.sql("SELECT count(*) FROM cli_db.cli_l").first().getLong(0) ===
      Readers.snapshot(t).count())
    // CDC read from the shell: the surviving upsert reads as an update pair
    val chg = cli.run(s"show changes --since $firstTs").frame
      .groupBy(Readers.ChangeTypeCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chg === Map("update_before" -> 1L, "update_after" -> 1L))
    val wa = cli.run("stats wa").frame.collect()
    assert(wa.exists(_.getString(0) == "TOTAL"))
    assert(wa.length >= 3) // per-commit rows + total
    assert(cli.run("export instants").frame.count() >= 4)
    // restore back to the savepoint via the shell
    assert(cli.run(s"savepoint rollback --savepoint $firstTs").text.contains("Restored"))
    assert(Readers.snapshot(t).filter(col("v") === 2).count() === 0)
    // cleans: the plan (dry run) lists what a run would reclaim, and
    // nothing is left to clean after restore
    assert(cli.run("cleans plan --retain 1").frame.columns.contains("path"))
    assert(cli.run("cleans run").text.nonEmpty)
    assert(cli.run("cleans show").frame.count() <= 1)
  }

  test("MOR compaction scheduled, validated, run through the shell") {
    val dir = tmpDir("cli_mor").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_m --recordKey id " +
      "--tableType MERGE_ON_READ --precombine v")
    val t = cli.table
    t.bulkInsert(Seq((1L, 1L), (2L, 1L)).toDF("id", "v"))
    t.upsert(Seq((1L, 5L)).toDF("id", "v"))

    val sched = cli.run("compaction schedule").text
    assert(sched.contains("scheduled as"))
    val ts = sched.split(" ").last
    assert(cli.run("compactions show all").frame.count() >= 1)
    assert(cli.run(s"compaction validate --instant $ts").frame.count() >= 1)
    assert(cli.run(s"compaction run --instant $ts").text.contains("Compacted"))
    assert(Readers.snapshot(t).filter(col("id") === 1)
      .select("v").first().getLong(0) === 5L)
    // scheduling again with no deltas: nothing to compact
    assert(cli.run("compaction schedule").text === "Nothing to compact")
  }

  test("per-commit views, compare, logfiles, repair through the shell") {
    val dir = tmpDir("cli_pc").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_pc --recordKey id --precombine v")
    val t = cli.table
    t.bulkInsert(Seq((1L, 1L), (2L, 1L)).toDF("id", "v"))
    val ts2 = t.upsert(Seq((1L, 9L)).toDF("id", "v"))

    val files = cli.run(s"commit showfiles --commit $ts2").frame
    assert(files.count() >= 1)
    assert(files.agg(sum("num_writes")).first().getLong(0) === 2) // rewritten group
    val parts = cli.run(s"commit showpartitions --commit $ts2").frame
    assert(parts.count() === 1)
    assert(cli.run("metadata list-partitions").frame.count() === 1)

    // compare against a copy that is one commit behind
    val dir2 = tmpDir("cli_pc2").toString + "/t"
    val cli2 = new GraftCli(spark)
    cli2.run(s"create --path $dir2 --tableName cli_pc2 --recordKey id --precombine v")
    cli2.table.bulkInsert(Seq((9L, 1L)).toDF("id", "v"))
    val cmp = cli.run(s"commits compare --path $dir2").frame
    assert(cmp.filter(col("side") === "only_here").count() === 2)
    assert(cmp.filter(col("side") === "only_other").count() === 1)

    // MOR log files visible; COW table has none
    assert(cli.run("show logfile metadata").frame.count() === 0)
    val dirM = tmpDir("cli_pcm").toString + "/t"
    val cliM = new GraftCli(spark)
    cliM.run(s"create --path $dirM --tableName cli_pcm --recordKey id " +
      "--tableType MERGE_ON_READ --precombine v")
    cliM.table.bulkInsert(Seq((1L, 1L)).toDF("id", "v"))
    cliM.table.upsert(Seq((1L, 2L)).toDF("id", "v"))
    assert(cliM.run("show logfile metadata").frame.count() === 1)

    // repair deduplicate: clean table reports nothing to do
    assert(cli.run("repair deduplicate").text === "No duplicates found")

    // commits sync: catch the lagging copy up from this table, twice
    assert(cli2.run(s"commits sync --path $dir").text.startsWith("Synced"))
    assert(Readers.snapshot(cli2.table).filter(col("id") <= 2).count() === 2)
    assert(cli2.run(s"commits sync --path $dir").text === "Already in sync")
  }

  test("bootstrap run + index showmapping through the shell") {
    val src = tmpDir("cli_boot_src")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .coalesce(1).write.parquet(src.resolve("batch").toString)
    val dir = tmpDir("cli_boot").toString + "/t"
    val cli = new GraftCli(spark)
    val res = cli.run(s"bootstrap run --srcPath $src --path $dir " +
      "--tableName cli_b --recordKey id")
    assert(res.text.startsWith("Bootstrapped 1 files"))
    assert(Readers.snapshot(cli.table).count() === 2)
    val mapping = cli.run("bootstrap index showmapping").frame
    assert(mapping.count() === 1)
    assert(mapping.first().getString(1).endsWith(".parquet"))
    // adopted files are queryable and upsertable afterwards
    cli.table.upsert(Seq((1L, 99L)).toDF("id", "v"))
    assert(Readers.snapshot(cli.table)
      .filter(col("id") === 1).select("v").first().getLong(0) === 99L)
  }

  test("temp view registers a command frame; temp query composes SQL over it") {
    val dir = tmpDir("cli_tv").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_tv --recordKey id --precombine v")
    cli.table.bulkInsert(Seq((1L, 1L), (2L, 1L)).toDF("id", "v"))
    cli.table.upsert(Seq((1L, 2L)).toDF("id", "v"))
    val reg = cli.run("temp view --cmd 'commits show' --name tv_commits")
    assert(reg.text.contains("tv_commits"))
    val q = cli.run(
      "temp query --sql 'SELECT count(*) AS n FROM tv_commits'").frame
    assert(q.first().getLong(0) === 2L)
    assert(cli.run("temp delete --name tv_commits").text.contains("Dropped"))
    assert(cli.run("temp delete --name tv_commits").text.contains("No temp view"))
    // registering a text-returning command is refused
    intercept[IllegalArgumentException] {
      cli.run(s"temp view --cmd 'connect --path $dir' --name x")
    }
  }

  test("views show / refresh drive materialized views from the shell") {
    import graft.table.{MaterializedView => MV}
    val dir = tmpDir("cli_mv").toString
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir/t --tableName cli_mv --recordKey id --precombine v")
    cli.table.bulkInsert(Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("id", "v"))
    assert(cli.run("views show").frame.count() === 0L)
    val view = MV.create(spark, s"$dir/view", cli.table,
      Seq("v" -> "v"), Seq(MV.ViewAgg("cnt", "count", "*")))
    MV.register(view, cli.table)
    assert(cli.run("views show").frame.first().getString(0).endsWith("/view"))
    val r1 = cli.run(s"views refresh --path $dir/view")
    assert(r1.text.contains("Refreshed"))
    assert(cli.run(s"views refresh --path $dir/view").text.contains("up to date"))
    assert(MV.read(view).orderBy("v").collect().map(_.getLong(1)).toSeq === Seq(2L, 1L))
  }

  test("quality constraints reports per-rule violation counts") {
    val dir = tmpDir("cli_dq").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_dq --recordKey id --precombine v")
    cli.table.bulkInsert(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "zz"))
      .toDF("id", "v", "s"))
    val r = cli.run("quality constraints --inset s:a|b").frame
      .as[(String, Long, Long, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._4))).toMap
    assert(r("unique(id)") === ((0L, true)))
    assert(r("not_null(id)") === ((0L, true)))
    assert(r("not_null(v)") === ((0L, true)))
    assert(r("in_set(s)") === ((1L, false))) // the "zz" row
  }

  test("record lookup answers point reads from the shell") {
    val dir = tmpDir("cli_lookup").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_pl --recordKey id --precombine v")
    cli.table.bulkInsert(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
      .toDF("id", "v", "s"))
    val hit = cli.run("record lookup --keys 1,3,99").frame
    assert(hit.count() === 2)
    assert(hit.select("s").collect().map(_.getString(0)).toSet === Set("a", "c"))
    // non-key point read (no secondary index configured: filtered snapshot)
    val byVal = cli.run("record lookupby --column s --values b,c").frame
    assert(byVal.select("id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("check constraints add/show/drop through the shell") {
    val dir = tmpDir("cli_cc").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_cc --recordKey id --precombine v")
    cli.table.bulkInsert(Seq((1L, 1L), (2L, 2L)).toDF("id", "v"))
    assert(cli.run("constraints show").frame.count() === 0)
    assert(cli.run("constraints add --name v_pos --expr 'v > 0'")
      .text.contains("v_pos"))
    val listed = cli.run("constraints show").frame.collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(listed.toSeq === Seq(("v_pos", "v > 0")))
    // the connected handle enforces immediately
    intercept[IllegalArgumentException] {
      cli.table.upsert(Seq((3L, -5L)).toDF("id", "v"))
    }
    cli.run("constraints drop --name v_pos")
    assert(cli.run("constraints show").frame.count() === 0)
    cli.table.upsert(Seq((3L, -5L)).toDF("id", "v")) // admitted again
  }

  test("clustering and unknown commands") {
    val dir = tmpDir("cli_clu").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_c --recordKey id --precombine v")
    cli.table.bulkInsert(Seq((1L, 1L)).toDF("id", "v"))
    cli.table.upsert(Seq((2L, 1L)).toDF("id", "v"))
    val res = cli.run("clustering run --sortColumns id")
    assert(res.isInstanceOf[CliText])
    intercept[IllegalArgumentException] { cli.run("frobnicate all") }
    intercept[IllegalArgumentException] { cli.run("commit rollback") } // missing --commit
  }

  test("quality constraints refuses malformed --inset / --range values") {
    val dir = tmpDir("cli_dq_bad").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_dqb --recordKey id --precombine v")
    cli.table.bulkInsert(Seq((1L, 1L, "a")).toDF("id", "v", "s"))
    Seq("--inset s" -> "col:v1|v2", "--range v:5" -> "col:lo..hi",
        "--range v" -> "col:lo..hi").foreach { case (opt, form) =>
      val e = intercept[IllegalArgumentException] { cli.run(s"quality constraints $opt") }
      assert(e.getMessage.contains(form), e.getMessage)
    }
  }

  test("savepoint rollback refuses a ts that is neither savepoint nor savepointed commit") {
    val dir = tmpDir("cli_sp_guard").toString + "/t"
    val cli = new GraftCli(spark)
    cli.run(s"create --path $dir --tableName cli_spg --recordKey id --precombine v")
    val t = cli.table
    val first = t.bulkInsert(Seq((1L, 1L), (2L, 1L)).toDF("id", "v"))
    val second = t.upsert(Seq((1L, 2L)).toDF("id", "v"))
    t.upsert(Seq((2L, 2L)).toDF("id", "v"))
    cli.run(s"savepoint create --commit $first")
    def state() = (GraftTable.load(spark, dir).timeline.completedInstants().map(_.ts),
      Readers.snapshot(GraftTable.load(spark, dir)).select("id", "v")
        .as[(Long, Long)].collect().toSet)
    val before = state()
    Seq(second, "20000101000000000").foreach { ts =>
      intercept[IllegalArgumentException] { cli.run(s"savepoint rollback --savepoint $ts") }
      assert(state() === before)
    }
    assert(cli.run(s"savepoint rollback --savepoint $first").text.contains("Restored"))
    assert(state()._2 === Set((1L, 1L), (2L, 1L)))
  }

  test("buckets split/merge --auto with and without --bytes") {
    // a CONSISTENT-bucket table, configured as ConsistentBucketSpec does
    val t = GraftTable.create(spark, tmpDir("cli_cbkt").toString + "/t", TableConfig(
      "cli_cbkt", TableType.CopyOnWrite, Seq("id"), "", "v",
      Map(ConfigKeys.IndexType -> "BUCKET",
        ConfigKeys.BucketIndexEngine -> "CONSISTENT",
        ConfigKeys.BucketIndexNumBuckets -> "2")))
    t.bulkInsert((1L to 40L).map(i => (i, 1L)).toDF("id", "v"))
    val cli = new GraftCli(spark)
    cli.run(s"connect --path ${t.basePath}")
    def groups() = GraftTable.load(spark, t.basePath.toString)
      .view.fileSlices(None).map(_.fileId).toSet
    val initial = groups()
    // default thresholds: nothing is hot, nothing sits under the initial cover
    assert(cli.run("buckets split --auto").text === "No buckets over the split threshold")
    assert(groups() === initial)
    // a 1-byte threshold makes every bucket hot
    assert(cli.run("buckets split --auto --bytes 1").text.startsWith("Split "))
    val split = groups()
    assert(initial.forall(_.startsWith("bktd1")) && split.forall(_.startsWith("bktd2")))
    // ... and no sibling pair fits under it
    assert(cli.run("buckets merge --auto --bytes 1").text ===
      "No sibling pairs under the merge threshold")
    assert(groups() === split)
    assert(cli.run("buckets merge --auto").text.startsWith("Merged into "))
    assert(groups() === initial)
    assert(Readers.snapshot(GraftTable.load(spark, t.basePath.toString)).count() === 40L)
  }
}
