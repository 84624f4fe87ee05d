package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TableConfig, TableType}
import graft.sql.GraftCallCommand
import graft.table.{AdminArgs, AdminCommands, AdminTarget, GraftCli, GraftTable, Services,
  TableAdmin}

/** The admin command table behind the CLI and `CALL`: both surfaces keep
  * their command names, an operation reachable from both returns the same
  * rows on each, and every `CALL` output matches the frame it collects.
  */
class AdminCommandsSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  test("CLI keys and CALL names are the pinned sets") {
    assert(AdminCommands.ByCli.map(_._1).toSet === Set(
      "bootstrap index showmapping", "bootstrap run", "buckets merge",
      "buckets rescale", "buckets split", "catalog sync", "clean showpartitions",
      "cleans plan", "cleans run", "cleans show", "clustering run",
      "commit rollback", "commit showfiles", "commit showpartitions",
      "commits compare", "commits show", "commits showarchived", "commits sync",
      "compaction run", "compaction schedule", "compaction unschedule",
      "compaction validate", "compactions show all", "connect",
      "constraints add", "constraints drop", "constraints show", "create",
      "desc", "export instants", "fetch table schema", "metadata column-stats",
      "metadata list-partitions", "metrics show", "partitions evolve",
      "partitions expire", "pending show", "quality constraints",
      "record lookup", "record lookupby", "records expire",
      "repair deduplicate", "savepoint create", "savepoint delete",
      "savepoint rollback", "savepoints show", "show changes",
      "show fsview all", "show logfile metadata", "show rollbacks",
      "stats filesizes", "stats wa", "temp delete", "temp query", "temp view",
      "views refresh", "views show"))
    assert(AdminCommands.ByCli.size === 57)
    assert(AdminCommands.ByCall.keySet === Set(
      "run_compaction", "run_clustering", "run_clean",
      "create_savepoint", "delete_savepoint", "rollback_to_savepoint",
      "rollback_to_instant", "export_snapshot", "symlink_manifest",
      "copy_snapshot", "snapshot_copy",
      "show_commits", "show_savepoints", "show_cleans", "show_rollbacks",
      "show_compaction", "show_fsview_all", "show_table_properties",
      "show_column_stats", "show_metrics",
      "run_decontaminate_sync", "update_benchmark", "run_dedup_sync",
      "run_hash_dedup_sync", "run_span_dedup_sync", "run_session_sync",
      "run_rollup_sync"))
  }

  /** A partitioned table with commits, a savepoint, a clean and a
    * rollback, registered as a temp view and connected in a CLI.
    */
  private def lifecycle(name: String): (GraftTable, GraftCli) = {
    val dir = tmpDir(s"admin_$name").toString + "/t"
    val t = GraftTable.create(spark, dir, TableConfig(name, TableType.CopyOnWrite,
      Seq("id"), "concat('p=', pmod(id, 2))", "ver"))
    t.bulkInsert(Seq((1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0))
      .toDF("id", "ver", "price"))
    t.upsert(Seq((1L, 2L, 11.0)).toDF("id", "ver", "price"))
    val kept = t.upsert(Seq((2L, 2L, 21.0)).toDF("id", "ver", "price"))
    assert(Services.clean(t, 1).isDefined)
    Services.savepoint(t, kept)
    Services.rollback(t, t.upsert(Seq((3L, 2L, -1.0)).toDF("id", "ver", "price")))
    spark.read.format("graft").load(dir).createOrReplaceTempView(name)
    val cli = new GraftCli(spark)
    cli.run(s"connect --path $dir")
    (t, cli)
  }

  test("an operation on both surfaces returns the same rows on each") {
    val (_, cli) = lifecycle("admin_parity")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    def call(sql: String) = spark.sql(sql).collect().toSeq
    Seq(
      "commits show" -> "CALL show_commits(table => 'admin_parity')",
      "commits show" -> "DESCRIBE HISTORY admin_parity",
      "savepoints show" -> "CALL show_savepoints(table => 'admin_parity')",
      "cleans show" -> "CALL show_cleans(table => 'admin_parity')",
      "show rollbacks" -> "CALL show_rollbacks(table => 'admin_parity')",
      "show fsview all" -> "CALL show_fsview_all(table => 'admin_parity')",
      "metrics show" -> "CALL show_metrics(table => 'admin_parity')",
      "metadata column-stats" -> "CALL show_column_stats(table => 'admin_parity')",
      "metadata column-stats --column price" ->
        "CALL show_column_stats(table => 'admin_parity', column => 'price')",
      "commits show --limit 2" -> "CALL show_commits(table => 'admin_parity', limit => 2)",
      "clean showpartitions" -> "SHOW PARTITIONS admin_parity",
    ).foreach { case (line, sql) =>
      val viaCli = rows(cli.run(line).frame)
      assert(viaCli.nonEmpty, s"'$line' returned no rows")
      assert(viaCli === call(sql), s"'$line' vs $sql")
    }
    // newest first on both surfaces
    val instants = rows(cli.run("commits show").frame).map(_.getString(0))
    assert(instants === instants.sorted.reverse && instants.size === 3)
    assert(rows(cli.run("clean showpartitions").frame).map(_.getString(0)) ===
      Seq("p=0", "p=1"))
  }

  test("each CALL output's names and types equal its frame's schema") {
    val (t, _) = lifecycle("admin_schema")
    val target = new AdminTarget(() => t, GraftTable.load(spark, _))
    val framed = AdminCommands.ByCall.filter(_._2.columns != AdminCommands.ResultColumns)
    assert(framed.keySet === Set("show_commits", "show_savepoints", "show_cleans",
      "show_rollbacks", "show_compaction", "show_fsview_all",
      "show_table_properties", "show_column_stats", "show_metrics"))
    (framed.values.toSeq :+ AdminCommands.ShowPartitions).foreach { cmd =>
      val frame = cmd.run(AdminArgs(spark, Map.empty, target, identity)).frame
      val output = GraftCallCommand(cmd, Seq.empty).output
      assert(output.map(a => a.name -> a.dataType) ===
        frame.schema.map(f => f.name -> f.dataType), s"$cmd")
    }
    // the TableAdmin views build their frames from the same declarations
    assert(TableAdmin.commits(t).schema === TableAdmin.CommitColumns)
    assert(spark.sql("DESCRIBE HISTORY admin_schema").schema.fieldNames ===
      TableAdmin.CommitColumns.fieldNames)
    assert(spark.sql("CALL run_clean(table => 'admin_schema')").schema.fieldNames ===
      Array("result"))
  }
}
