package graft.table

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{Action, ConfigKeys, MetaCols, TableConfig, TableType}

/** The table a command acts on. `CALL` opens it from its `table` argument
  * on first use; the CLI holds the connected table, which `connect`,
  * `create` and the layout-changing commands replace. `open` resolves a
  * table-valued argument: a path on the CLI, a path or SQL name in `CALL`.
  */
final class AdminTarget(first: () => GraftTable, val open: String => GraftTable) {
  private var current: Option[GraftTable] = None
  def table: GraftTable = current.getOrElse { val t = first(); current = Some(t); t }
  def table_=(t: GraftTable): Unit = current = Some(t)
}

/** One command's arguments, keyed by their `CALL` names, and the target
  * it acts on. `spell` names an argument the way the caller's surface
  * spells it, for error messages.
  */
final case class AdminArgs(spark: SparkSession, values: Map[String, String],
    target: AdminTarget, spell: String => String) {
  def table: GraftTable = target.table
  def get(name: String): Option[String] = values.get(name)
  def req(name: String): String = values.getOrElse(name,
    throw new IllegalArgumentException(s"${spell(name)} is required"))
  /** A comma-separated argument; empty when absent. */
  def list(name: String): Seq[String] = get(name).fold(Seq.empty[String])(items)
  def reqList(name: String): Seq[String] = items(req(name))
  private def items(v: String): Seq[String] = v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  /** A table-valued argument, opened the caller's way. */
  def open(name: String): GraftTable = target.open(req(name))
}

/** One admin operation: its CLI key and `CALL` names, the CLI spellings of
  * arguments whose `CALL` name differs (`cliOpts`: CLI option -> argument
  * name), the columns `CALL` returns, and the one handler both surfaces run.
  */
final class AdminCommand(val cli: Option[String], val call: Seq[String],
    cliOpts: Map[String, String], val columns: StructType,
    val run: AdminArgs => CliResult) {
  def fromCli(opt: String): String = cliOpts.getOrElse(opt, opt)
  def cliSpelling(name: String): String =
    cliOpts.collectFirst { case (o, n) if n == name => o }.getOrElse(name)
  override def toString: String = (cli.toSeq ++ call).mkString(" / ")
}

/** The admin command table: one entry per operation of the reference's
  * admin shell (hudi-cli/.../commands: TableCommand, CommitsCommand,
  * CleansCommand, SavepointsCommand, CompactionCommand, ClusteringCommand,
  * RollbacksCommand, FileSystemViewCommand, StatsCommand, TempViewCommand,
  * RepairsCommand, BootstrapCommand) and of the `CALL` stored procedures
  * the reference line later grew. [[GraftCli]] and
  * [[graft.sql.GraftCallCommand]] are parsers over it; `DESCRIBE HISTORY`
  * and `SHOW PARTITIONS` run [[ShowCommits]] and [[ShowPartitions]].
  *
  * A handler returns a frame or a [[CliText]] whose `result` is what
  * `CALL` returns. Driver-side by design: every command is
  * commit-metadata planning or a delegation to a distributed service.
  */
object AdminCommands {

  /** Output of every `CALL` procedure that returns a status line. */
  val ResultColumns: StructType = StructType(Seq(StructField("result", StringType)))

  private def entry(cli: String = "", call: Seq[String] = Nil,
      cliOpts: Map[String, String] = Map.empty,
      columns: StructType = ResultColumns)(run: AdminArgs => CliResult) =
    new AdminCommand(Option(cli).filter(_.nonEmpty), call, cliOpts, columns, run)

  /** A status from an optional instant: `CALL` returns the instant or the
    * no-op note, the CLI says what was done.
    */
  private def status(ts: Option[String], done: String, idle: String): CliText =
    ts.fold(CliText(idle.capitalize, idle))(t => CliText(s"$done as $t", t))

  private def tableConfig(a: AdminArgs): TableConfig = TableConfig(
    a.req("tableName"),
    a.get("tableType").getOrElse(TableType.CopyOnWrite),
    a.reqList("recordKey"),
    a.get("partitionPath").getOrElse(""),
    a.get("precombine").getOrElse(""))

  /** Newest first; `limit` keeps the newest n. */
  val ShowCommits: AdminCommand = entry("commits show", Seq("show_commits"),
      columns = TableAdmin.CommitColumns) { a =>
    val df = TableAdmin.commits(a.table).orderBy(col("instant").desc)
    CliFrame(a.get("limit").fold(df)(n => df.limit(n.toInt)))
  }

  val ShowPartitions: AdminCommand = entry("clean showpartitions",
      columns = TableAdmin.PartitionColumns) { a =>
    CliFrame(TableAdmin.partitionStats(a.table).orderBy("partition"))
  }

  private val CompactionSchedule = entry("compaction schedule") { a =>
    status(Services.scheduleCompaction(a.table), "Compaction scheduled", "nothing to compact")
  }

  /** Runs `instant`, or the oldest pending plan. */
  private val CompactionRun = entry("compaction run") { a =>
    val ts = a.get("instant").orElse(a.table.timeline.pendingInstants()
      .filter(_.action == Action.Compaction).map(_.ts).headOption)
      .getOrElse(throw new IllegalArgumentException(
        s"no pending compaction plan; name one with ${a.spell("instant")}"))
    val done = Services.runCompaction(a.table, ts)
    CliText(s"Compacted as $done", done)
  }

  private val All: Seq[AdminCommand] = Seq(
    ShowCommits,
    ShowPartitions,
    CompactionSchedule,
    CompactionRun,
    entry(call = Seq("run_compaction")) { a =>
      a.get("op").getOrElse("scheduleandexecute").toLowerCase match {
        case "schedule" => CompactionSchedule.run(a)
        case "run" => CompactionRun.run(a)
        case "scheduleandexecute" =>
          status(Services.compact(a.table), "Compacted", "nothing to compact")
        case other => throw new IllegalArgumentException(
          s"run_compaction op must be schedule|run|scheduleandexecute; got '$other'")
      }
    },
    entry("clustering run", Seq("run_clustering"), cliOpts = Map(
        "zorderColumns" -> "order", "curve" -> "hilbert")) { a =>
      // `--curve hilbert` on the CLI, `hilbert => true` in CALL
      val hilbert = a.get("hilbert").exists(v => Set("true", "hilbert")(v.toLowerCase))
      status(Services.cluster(a.table, sortColumns = a.list("sortColumns"),
        zorderColumns = a.list("order"), hilbert = hilbert),
        "Clustered", "no eligible file groups")
    },
    entry("cleans run", Seq("run_clean"), cliOpts = Map("retain" -> "retain_commits")) { a =>
      status(Services.clean(a.table, a.get("retain_commits").map(_.toInt)
        .getOrElse(ConfigKeys.DefaultCleanerRetained)), "Cleaned", "nothing to clean")
    },
    // no commit named: the latest completed one
    entry("savepoint create", Seq("create_savepoint"), cliOpts = Map("commit" -> "instant")) { a =>
      val ts = a.get("instant").orElse(
        a.table.timeline.completedDataInstants().lastOption.map(_.ts))
        .getOrElse(throw new IllegalArgumentException("the table has no completed commits"))
      val sp = Services.savepoint(a.table, ts)
      CliText(s"Savepoint created as $sp", sp)
    },
    entry("savepoint delete", Seq("delete_savepoint"), cliOpts = Map("commit" -> "instant")) { a =>
      val ts = a.req("instant")
      Services.deleteSavepoint(a.table, ts)
      CliText(s"Savepoint for $ts deleted", ts)
    },
    // accepts the savepoint instant or the savepointed commit, nothing else:
    // restore rolls back every commit after its argument
    entry("savepoint rollback", Seq("rollback_to_savepoint"),
        cliOpts = Map("savepoint" -> "instant")) { a =>
      val ts = a.req("instant")
      val target = TableAdmin.savepoints(a.table).collect().collectFirst {
        case Row(sp: String, commit: String) if sp == ts || commit == ts => commit
      }.getOrElse(throw new IllegalArgumentException(s"no savepoint for $ts"))
      val done = Services.restore(a.table, target)
      CliText(s"Restored to $target as $done", done)
    },
    entry("commit rollback", Seq("rollback_to_instant"), cliOpts = Map("commit" -> "instant")) { a =>
      val ts = a.req("instant")
      val done = Services.rollback(a.table, ts)
      CliText(s"Commit $ts rolled back as $done", done)
    },
    entry("savepoints show", Seq("show_savepoints"), columns = TableAdmin.SavepointColumns) { a =>
      CliFrame(TableAdmin.savepoints(a.table))
    },
    entry("cleans show", Seq("show_cleans"), columns = TableAdmin.CleanColumns) { a =>
      CliFrame(TableAdmin.cleans(a.table))
    },
    entry("show rollbacks", Seq("show_rollbacks"), columns = TableAdmin.RollbackColumns) { a =>
      CliFrame(TableAdmin.rollbacks(a.table))
    },
    entry("show fsview all", Seq("show_fsview_all"), columns = TableAdmin.FileGroupColumns) { a =>
      CliFrame(TableAdmin.fileGroups(a.table))
    },
    entry("metrics show", Seq("show_metrics"), columns = TableAdmin.MetricColumns) { a =>
      CliFrame(TableAdmin.metrics(a.table))
    },
    entry("metadata column-stats", Seq("show_column_stats"),
        columns = TableAdmin.ColumnStatColumns) { a =>
      val df = TableAdmin.columnStats(a.table)
      CliFrame(a.get("column").fold(df)(c => df.filter(col("column") === c)))
    },
    entry(call = Seq("show_compaction"), columns = TableAdmin.PendingCompactionColumns) { a =>
      CliFrame(TableAdmin.pendingCompactions(a.table))
    },
    entry(call = Seq("show_table_properties"), columns = TableAdmin.PropertyColumns) { a =>
      CliFrame(TableAdmin.properties(a.table))
    },
    entry(call = Seq("export_snapshot")) { a =>
      CliText(TableAdmin.exportSnapshot(a.table, a.req("output"),
        format = a.get("format").getOrElse("parquet"),
        partitioned = a.get("partitioned").forall(_.toBoolean)))
    },
    entry(call = Seq("symlink_manifest")) { a =>
      CliText(TableAdmin.generateSymlinkManifest(a.table).toString)
    },
    // HoodieSnapshotCopier analog: a loadable copy of the latest snapshot's
    // files + timeline at output (distributed copy, one task per file)
    entry(call = Seq("copy_snapshot", "snapshot_copy")) { a =>
      CliText(TableAdmin.copyTable(a.table, a.req("output")).basePath.toString)
    },

    // --- pipeline services: the incremental corpus-maintenance ticks.
    // Index tables auto-create at their path on first use (the services'
    // own openIndex); source/output tables must exist.
    entry(call = Seq("run_decontaminate_sync")) { a =>
      import graft.pipeline.DecontaminateService
      // thresholds => 'easy:0.6,strict:0' selects GRADED mode per suite
      val thresholds = a.list("thresholds").map { kv =>
        val i = kv.lastIndexOf(':')
        require(i > 0, s"thresholds entries are suite:fraction, got '$kv'")
        kv.substring(0, i).trim -> kv.substring(i + 1).trim.toDouble
      }.toMap
      val idx = DecontaminateService.openIndex(a.spark, a.req("index"))
      tick(DecontaminateService.sync(a.open("source"), a.open("clean"), idx,
        textCol(a), idCol(a), thresholds))
    },
    entry(call = Seq("update_benchmark")) { a =>
      import graft.pipeline.DecontaminateService
      val idx = DecontaminateService.openIndex(a.spark, a.req("index"))
      val benchArg = a.req("benchmark")
      val bench =
        if (benchArg.contains("/")) a.spark.read.parquet(benchArg)
        else a.spark.table(benchArg)
      CliText(DecontaminateService.updateBenchmark(idx, bench, textCol(a),
        a.get("suite").getOrElse("default")))
    },
    entry(call = Seq("run_dedup_sync")) { a =>
      import graft.pipeline.DedupService
      val idx = DedupService.openIndex(a.spark, a.req("index"))
      tick(DedupService.sync(a.open("source"), a.open("clean"), idx, textCol(a), idCol(a)))
    },
    entry(call = Seq("run_span_dedup_sync")) { a =>
      import graft.pipeline.SpanDedupService
      val idx = SpanDedupService.openIndex(a.spark, a.req("index"))
      tick(SpanDedupService.sync(a.open("source"), a.open("clean"), idx, textCol(a), idCol(a)))
    },
    entry(call = Seq("run_hash_dedup_sync")) { a =>
      import graft.pipeline.{Dedup, HashDedupService}
      // simhash over the text column — the SQL-expressible hash mode;
      // byte-level hashes (phash/audio) stay on the programmatic API,
      // which takes an arbitrary hashOf function
      val idx = HashDedupService.openIndex(a.spark, a.req("index"))
      val hashOf: DataFrame => DataFrame =
        df => df.select(col(idCol(a)), Dedup.simhash(col(textCol(a))).as("hash"))
      tick(HashDedupService.sync(a.open("source"), a.open("clean"), idx, hashOf, idCol(a)))
    },
    entry(call = Seq("run_session_sync")) { a =>
      tick(graft.pipeline.SessionService.sync(a.open("events"), a.open("sessions"),
        userCol = a.get("user_col").getOrElse("user_id"),
        tsCol = a.get("ts_col").getOrElse("ts"),
        valueCol = a.get("value_col").getOrElse("value"),
        maxGapSeconds = a.get("max_gap_seconds").map(_.toLong).getOrElse(1800L),
        buckets = a.get("buckets").map(_.toInt).getOrElse(64)))
    },
    entry(call = Seq("run_rollup_sync")) { a =>
      // aggs => 'sum(v) AS total; count(1) AS n' — ';'-separated Spark
      // SQL aggregate expressions (CheckConstraints' separator, commas
      // stay available inside the expressions)
      val aggs = a.req("aggs").split(';').toSeq.map(_.trim).filter(_.nonEmpty)
        .map(org.apache.spark.sql.functions.expr)
      require(aggs.nonEmpty, "run_rollup_sync needs at least one aggregate in aggs")
      tick(graft.pipeline.RollupService.sync(a.open("source"), a.open("rollup"),
        a.reqList("group_cols"), aggs))
    },

    // --- CLI only
    entry("connect") { a =>
      a.target.table = GraftTable.load(a.spark, a.req("path"))
      CliText(s"Metadata for table ${a.table.cfg.tableName} loaded")
    },
    entry("create") { a =>
      a.target.table = GraftTable.create(a.spark, a.req("path"), tableConfig(a))
      CliText(s"Table ${a.table.cfg.tableName} created")
    },
    entry("desc") { a =>
      import a.spark.implicits._
      val t = a.table
      val c = t.cfg
      CliFrame(Seq(
        "basePath" -> t.basePath.toString,
        "tableName" -> c.tableName,
        "tableType" -> c.tableType,
        "recordKeyFields" -> c.recordKeyFields.mkString(","),
        "partitionPathExpr" -> c.partitionPathExpr,
        "precombineField" -> c.precombineField,
      ).toDF("property", "value"))
    },
    entry("fetch table schema") { a =>
      CliText(a.table.latestSchema.map(_.json).getOrElse(""))
    },
    entry("commits showarchived") { a => CliFrame(TableAdmin.archivedCommits(a.table)) },
    // reference CommitsCommand `commits sync`: catch a lagging copy up
    // from a source table — here one checkpointed incremental pull
    entry("commits sync") { a =>
      CliText(graft.streaming.Streaming.syncOnce(a.open("path"), a.table)
        .map(ts => s"Synced as $ts").getOrElse("Already in sync"))
    },
    entry("commits compare") { a =>
      CliFrame(TableAdmin.compareCommits(a.table, a.open("path")))
    },
    entry("commit showfiles") { a =>
      CliFrame(TableAdmin.commitFiles(a.table, a.req("commit")))
    },
    entry("commit showpartitions") { a =>
      CliFrame(TableAdmin.commitPartitions(a.table, a.req("commit")))
    },
    // point reads: --keys k1,k2,... through the record-index probe (or
    // the pushed-down key filter without it)
    entry("record lookup") { a => CliFrame(a.table.lookup(a.reqList("keys"))) },
    // non-key point reads: --column c --values v1,v2,... through the
    // secondary-index probe (or a filtered snapshot without one)
    entry("record lookupby") { a =>
      CliFrame(a.table.lookupBy(a.req("column"), a.reqList("values")))
    },
    // declared CHECK constraints (ALTER TABLE ADD CONSTRAINT analog)
    entry("constraints show") { a =>
      import a.spark.implicits._
      CliFrame(a.table.checkConstraints.toDF("name", "check_expr"))
    },
    entry("constraints add") { a =>
      a.target.table = a.table.addCheckConstraint(a.req("name"), a.req("expr"))
      CliText(s"added CHECK constraint ${a.req("name")}")
    },
    entry("constraints drop") { a =>
      a.target.table = a.table.dropCheckConstraint(a.req("name"))
      CliText(s"dropped CHECK constraint ${a.req("name")}")
    },
    entry("show logfile metadata") { a => CliFrame(TableAdmin.logFiles(a.table)) },
    // HiveSyncTool-as-a-command analog: publish/refresh this table in the
    // session catalog as `db.table`
    entry("catalog sync") { a =>
      val db = a.req("db")
      val name = a.get("table").getOrElse(a.table.cfg.tableName)
      graft.sql.CatalogSync.sync(a.spark, a.table.basePath.toString, db, name)
      CliText(s"Synced ${a.table.basePath} as $db.$name")
    },
    // BUCKET-layout rescale: --num <target count>; reconnects to the
    // post-flip handle
    entry("buckets rescale") { a =>
      val n = a.req("num").toInt
      a.target.table = a.table.rescaleBuckets(n)
      CliText(s"Rescaled ${a.table.cfg.tableName} to $n buckets")
    },
    // table-level data-quality report: key uniqueness + key/precombine
    // non-null always; --notnull c1,c2 / --inset col:v1|v2 /
    // --range col:lo..hi add rules. One aggregation pass (Constraints).
    entry("quality constraints") { a =>
      import graft.pipeline.Constraints
      import graft.pipeline.Constraints._
      val cfg = a.table.cfg
      val base: Seq[Constraint] =
        (if (cfg.recordKeyFields.nonEmpty)
           Seq(Unique(cfg.recordKeyFields)) ++ cfg.recordKeyFields.map(NotNull(_))
         else Seq.empty) ++
          Option(cfg.precombineField).filter(_.nonEmpty).map(NotNull(_))
      def split(opt: String, spec: String, sep: String, form: String): (String, String) =
        spec.split(sep, 2) match {
          case Array(l, r) => (l, r)
          case _ => throw new IllegalArgumentException(
            s"--$opt '$spec' is malformed; expected $form")
        }
      val extra: Seq[Constraint] =
        a.list("notnull").map(NotNull(_)) ++
          a.get("inset").toSeq.map { spec =>
            val (c, vs) = split("inset", spec, ":", "col:v1|v2")
            InSet(c, vs.split('|').toSeq)
          } ++
          a.get("range").toSeq.map { spec =>
            val (c, b) = split("range", spec, ":", "col:lo..hi")
            val (lo, hi) = split("range", b, "\\.\\.", "col:lo..hi")
            InRange(c, lo.toDouble, hi.toDouble)
          }
      val snap = graft.read.Readers.snapshot(a.table).drop(MetaCols.All: _*)
      CliFrame(Constraints.check(snap, base ++ extra))
    },
    // CONSISTENT-engine split: --partition p --fileId bktd<d>v<v>, or
    // --auto [--bytes n] for the hot-bucket sweep
    entry("buckets split") { a =>
      if (a.get("auto").isDefined) {
        val split = Services.splitHotBuckets(a.table, a.get("bytes").map(_.toLong))
        CliText(if (split.isEmpty) "No buckets over the split threshold"
          else split.map { case (p, f) => s"$p/$f" }.mkString("Split ", ", ", ""))
      } else {
        val ts = a.table.splitBucket(a.req("partition"), a.req("fileId"))
        CliText(s"Split ${a.req("fileId")} in ${a.req("partition")} at $ts")
      }
    },
    // shrink direction: --partition p --parent bktd<d>v<v>, or --auto
    // [--bytes n] to merge all cold sibling pairs
    entry("buckets merge") { a =>
      if (a.get("auto").isDefined) {
        val merged = Services.mergeColdBuckets(a.table, a.get("bytes").map(_.toLong))
        CliText(if (merged.isEmpty) "No sibling pairs under the merge threshold"
          else merged.map { case (p, f) => s"$p/$f" }.mkString("Merged into ", ", ", ""))
      } else {
        val ts = a.table.mergeBuckets(a.req("partition"), a.req("parent"))
        CliText(s"Merged children of ${a.req("parent")} in ${a.req("partition")} at $ts")
      }
    },
    // partition-layout evolution: --expr '<sql expr>'
    entry("partitions evolve") { a =>
      a.target.table = a.table.alterPartitionExpr(a.req("expr"))
      CliText(s"Partition layout of ${a.table.cfg.tableName} evolved to " +
        s"'${a.table.cfg.partitionPathExpr}'")
    },
    // partition TTL: --keepLast n | --before <instant>
    entry("partitions expire") { a =>
      val expired = (a.get("keepLast"), a.get("before")) match {
        case (Some(n), None) => Services.expirePartitions(a.table, keepLast = n.toInt)
        case (None, Some(ts)) => Services.expirePartitions(a.table, lastWriteBefore = Some(ts))
        case _ => throw new IllegalArgumentException(
          "partitions expire needs exactly one of --keepLast / --before")
      }
      CliText(if (expired.isEmpty) "Nothing to expire"
        else s"Expired ${expired.size} partition(s): ${expired.mkString(", ")}")
    },
    // record-level TTL: --column <ts col> --keepDays n
    entry("records expire") { a =>
      val ts = Services.expireRecords(a.table, a.req("column"), a.req("keepDays").toInt)
      CliText(ts.map(t => s"Expired as $t").getOrElse("Nothing to expire"))
    },
    entry("metadata list-partitions") { a =>
      import a.spark.implicits._
      CliFrame(a.table.view.fileSlices(None).map(_.partitionPath)
        .distinct.sorted.toDF("partition"))
    },
    // keep the precombine-winner (falling back to latest commit) per
    // (key, partition); reference RepairsCommand `repair deduplicate`
    entry("repair deduplicate") { a =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{desc, row_number}
      val cfg = a.table.cfg
      val orderCol =
        if (cfg.precombineField.nonEmpty) cfg.precombineField else MetaCols.CommitTime
      val done = Services.dedupe(a.table, df => df
        .withColumn("_cli_rank", row_number().over(
          Window.partitionBy(col(MetaCols.RecordKey), col(MetaCols.PartitionPath))
            .orderBy(desc(orderCol), desc(MetaCols.CommitTime))))
        .filter(col("_cli_rank") === 1).drop("_cli_rank"))
      CliText(done.map(ts => s"Deduplicated as $ts").getOrElse("No duplicates found"))
    },
    // dry run: the files a `cleans run` would reclaim right now
    entry("cleans plan") { a =>
      import a.spark.implicits._
      val policy = Services.CleanPolicy.KeepLatestCommits(
        a.get("retain").map(_.toInt).getOrElse(ConfigKeys.DefaultCleanerRetained))
      CliFrame(Services.planClean(a.table, policy)._1
        .map(f => (f.partitionPath, f.relPath, f.sizeBytes, f.isDelta))
        .toDF("partition", "path", "bytes", "is_delta"))
    },
    entry("compactions show all") { a =>
      CliFrame(TableAdmin.timeline(a.table).filter(col("action") === Action.Compaction))
    },
    entry("compaction validate") { a =>
      CliFrame(Services.validateCompaction(a.table, a.req("instant")))
    },
    entry("compaction unschedule") { a =>
      Services.unscheduleCompaction(a.table, a.req("instant"))
      CliText(s"Compaction ${a.req("instant")} unscheduled")
    },
    // reference BootstrapCommand `bootstrap run --srcPath … --path …`
    entry("bootstrap run") { a =>
      val srcDir = new org.apache.hadoop.fs.Path(a.req("srcPath"))
      val files = graft.core.Storage.walk(srcDir)
        .filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_"))
        .map(_.getPath.toString).sorted
      a.target.table = GraftTable.bootstrap(a.spark, a.req("path"), tableConfig(a), files,
        mode = a.get("mode").getOrElse(GraftTable.BootstrapMode.MetadataOnly))
      CliText(s"Bootstrapped ${files.size} files into ${a.table.cfg.tableName}")
    },
    entry("bootstrap index showmapping") { a =>
      val bootTs = TableAdmin.commits(a.table)
        .filter(col("operation") === "bootstrap")
        .orderBy(col("instant")).collect().headOption
        .map(_.getString(0))
        .getOrElse(throw new IllegalStateException("table was not bootstrapped"))
      CliFrame(TableAdmin.commitFiles(a.table, bootTs)
        .select(col("file_id"), col("path").as("source_file"), col("num_writes")))
    },
    // CDC read: before/after change images for (--since, --until];
    // `--until` defaults to the table head
    entry("show changes") { a =>
      CliFrame(graft.read.Readers.incrementalChanges(a.table, a.req("since"), a.get("until")))
    },
    entry("stats filesizes") { a => CliFrame(TableAdmin.fileSizes(a.table)) },
    // write amplification per commit (reference StatsCommand `stats wa`):
    // upserted/total written records — 1.0 means every written record
    // was an actual change; small ratios flag rewrite-heavy layouts
    entry("stats wa") { a =>
      import org.apache.spark.sql.functions.{round => rnd, sum => fsum}
      val c = TableAdmin.commits(a.table)
      val perCommit = c.select(col("instant"), col("operation"),
        col("total_records"), col("total_deletes"),
        rnd(col("total_bytes") / (1024 * 1024), 2).as("written_mb"))
      CliFrame(perCommit.unionByName(
        c.agg(fsum(col("total_records")).as("total_records"),
          fsum(col("total_deletes")).as("total_deletes"),
          rnd(fsum(col("total_bytes")) / (1024 * 1024), 2).as("written_mb"))
          .selectExpr("'TOTAL' AS instant", "'' AS operation",
            "total_records", "total_deletes", "written_mb")))
    },
    entry("export instants") { a => CliFrame(TableAdmin.timeline(a.table)) },
    entry("pending show") { a => CliFrame(TableAdmin.pending(a.table)) },
    // reference TempViewCommand (`temp_query`/`temps_show`/`temp_delete`):
    // register any frame-returning command's result as a session temp view,
    // then compose it with plain Spark SQL from the same shell
    entry("temp view") { a =>
      val name = a.req("name")
      GraftCli.run(a.spark, a.target, a.req("cmd")) match {
        case CliFrame(df) =>
          df.createOrReplaceTempView(name)
          CliText(s"Registered temp view $name")
        case t: CliText => throw new IllegalArgumentException(
          s"command returned text, not a frame: ${t.value}")
      }
    },
    entry("temp query") { a => CliFrame(a.spark.sql(a.req("sql"))) },
    entry("temp delete") { a =>
      val name = a.req("name")
      CliText(if (a.spark.catalog.dropTempView(name)) s"Dropped temp view $name"
        else s"No temp view $name")
    },
    // materialized views registered on the connected table
    entry("views show") { a =>
      import a.spark.implicits._
      CliFrame(MaterializedView.registered(a.table).toDF("view_path"))
    },
    entry("views refresh") { a =>
      val v = a.open("path")
      CliText(MaterializedView.sync(v, a.table) match {
        case Some(ts) => s"Refreshed ${v.basePath} at $ts"
        case None => s"${v.basePath} already up to date"
      })
    },
  )

  /** CLI keys, longest first so "compaction showarchived" wins over
    * "compaction show".
    */
  lazy val ByCli: Seq[(String, AdminCommand)] =
    All.flatMap(c => c.cli.map(_ -> c)).sortBy(-_._1.length)

  lazy val ByCall: Map[String, AdminCommand] =
    All.flatMap(c => c.call.map(_ -> c)).toMap

  private def tick(ts: Option[String]): CliText = CliText(ts.getOrElse("no new data"))
  private def textCol(a: AdminArgs): String = a.get("text_col").getOrElse("text")
  private def idCol(a: AdminArgs): String = a.get("id_col").getOrElse("doc_id")
}
