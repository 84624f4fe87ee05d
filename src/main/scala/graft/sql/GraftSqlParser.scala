package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DataType, StructType}

import graft.spark.GraftRelation
import graft.table.{AdminCommands, GraftTable, IncrementalSync, MaterializedView}
import graft.table.MaterializedView.ViewAgg

/** SQL statements Spark has no grammar for — materialized views — parsed
  * by a thin delegating [[ParserInterface]] (the Delta/Iceberg extension
  * pattern; the reference has no SQL view surface at all):
  *
  * {{{
  * CREATE MATERIALIZED VIEW v [AUTO REFRESH] LOCATION '/path' AS
  *   SELECT dept, count(*) AS cnt, sum(pay) AS total FROM people
  *   [WHERE ...] GROUP BY dept
  * REFRESH MATERIALIZED VIEW v
  * DROP MATERIALIZED VIEW v
  * }}}
  *
  * The AS-select is parsed by the DELEGATE parser and the view
  * definition extracted from the unresolved `Aggregate` — no hand-rolled
  * expression grammar; anything Spark can parse in a group/agg/filter
  * position works here. `AUTO REFRESH` registers the view for
  * post-commit sync on the source; otherwise `REFRESH MATERIALIZED
  * VIEW` folds on demand. The view is queryable under its name as a
  * session temp view projecting [[MaterializedView.read]].
  *
  * Everything else delegates verbatim, so this parser is a pure
  * superset of Spark SQL.
  */
final class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateRe(name, auto, location, query) =>
      CreateMaterializedViewCommand(name, location, query.trim, auto != null)
    case RefreshRe(name) => RefreshMaterializedViewCommand(name)
    case DropRe(name) => DropMaterializedViewCommand(name)
    case OptimizeRe(name, where, zorder) =>
      GraftOptimizeCommand(name,
        Option(zorder).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
        Option(where).map(_.trim).filter(_.nonEmpty))
    case VacuumRe(name, retain, dry) =>
      GraftVacuumCommand(name, Option(retain).map(_.toInt), dry != null)
    case HistoryRe(name) => GraftCallCommand(AdminCommands.ShowCommits, tableArg(name))
    case DetailRe(name) if isGraftName(session, name) =>
      GraftDescribeDetailCommand(name)
    case ShowPartsRe(name) if isGraftName(session, name) =>
      GraftCallCommand(AdminCommands.ShowPartitions, tableArg(name))
    case ShowViewsRe(name) => ShowMaterializedViewsCommand(name)
    // ALTER TABLE is standard grammar Spark itself can parse (v2
    // constraints landed in Spark 4) — intercept only names that resolve
    // to graft tables, like the time-travel substitution below
    case AddConstraintRe(name, cname, cexpr) if isGraftName(session, name) =>
      GraftAddConstraintCommand(name, cname, cexpr.trim)
    case DropConstraintRe(name, cname) if isGraftName(session, name) =>
      GraftDropConstraintCommand(name, cname)
    // stored-procedure admin surface; unknown names fall through to
    // Spark's own CALL handling (if any), so only graft procedures bind
    case CallRe(proc, rawArgs) if AdminCommands.ByCall.contains(proc.toLowerCase) =>
      GraftCallCommand(AdminCommands.ByCall(proc.toLowerCase), CallProcedures.parseArgs(rawArgs))
    case _ =>
      val plan = delegate.parsePlan(sqlText)
      // TIMESTAMP/VERSION AS OF over a graft name substitutes the as-of
      // scan at parse time — before Spark's analyzer can reject time
      // travel on a v1 relation or temp view (non-graft names pass
      // through untouched and keep Spark's own behavior)
      plan.transformUp {
        case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
            u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation, ts, ver) =>
          GraftTimeTravel(session, u.multipartIdentifier, ts, ver).getOrElse(tt)
        // `FROM table_changes('t', beginTs [, endTs])` — the CDC read as a
        // table-valued function (Delta-CDF convention); window is
        // (beginTs, endTs], same as the incremental/change-feed readers.
        // Non-graft names / non-literal args pass through to Spark's own
        // TVF resolution (which will reject the unknown function).
        case tvf @ org.apache.spark.sql.catalyst.analysis
            .UnresolvedTableValuedFunction(nameParts, args, _)
            if nameParts.last.equalsIgnoreCase("table_changes") =>
          tableChanges(session, args).getOrElse(tvf)
      }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  private val CreateRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+(AUTO\s+REFRESH\s+)?LOCATION\s+'([^']+)'\s+AS\s+(.+)""".r
  private val RefreshRe = """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*""".r
  private val DropRe = """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*""".r
  // Delta-convention maintenance statements over graft names
  // the optional WHERE prunes eligible PARTITIONS (Delta convention for
  // surgical maintenance); the predicate references the column `partition`
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w.]+)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s+\(?([\w\s,]+?)\)?)?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+COMMITS)?(\s+DRY\s+RUN)?\s*""".r
  private val HistoryRe = """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.]+)\s*""".r
  private val DetailRe = """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.]+)\s*""".r
  // graft names only — non-graft SHOW PARTITIONS keeps Spark's behavior
  private val ShowPartsRe = """(?is)\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*""".r
  private val ShowViewsRe =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s+ON\s+([\w.]+)\s*""".r
  // ANSI CHECK constraints over graft names (Delta-convention ALTER forms;
  // Spark's own parser rejects ADD CONSTRAINT on v1 relations)
  private val AddConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*""".r
  private val DropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*""".r
  // `CALL proc(args)` with an optional `system.`/`graft.` qualifier
  private val CallRe =
    """(?is)\s*CALL\s+(?:(?:system|graft)\.)?(\w+)\s*\((.*)\)\s*""".r

  private def tableArg(name: String) = Seq(CallProcedures.Arg(Some("table"), name))

  /** Whether a dotted SQL name resolves to a graft table. */
  private[sql] def isGraftName(spark: SparkSession, name: String): Boolean =
    GraftTimeTravel.graftPathOf(spark, name.split('.').toSeq).isDefined

  /** `table_changes('name', 'begin' [, 'end'])` resolved to the CDC read's
    * plan — None when the args aren't string literals or the name isn't a
    * graft table (the TVF then stays for Spark to reject).
    */
  private[sql] def tableChanges(spark: SparkSession,
      args: Seq[Expression]): Option[LogicalPlan] = {
    val strs: Seq[String] = args.map {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v != null => v.toString
      case _ => return None
    }
    if (strs.size < 2 || strs.size > 3) return None
    GraftTimeTravel.graftPathOf(spark, strs.head.split('.').toSeq).map { path =>
      val t = GraftTable.load(spark, path)
      graft.read.Readers.incrementalChanges(t, strs(1), strs.lift(2))
        .queryExecution.analyzed
    }
  }

  /** The graft table behind a dotted SQL name (temp view or catalog). */
  private[sql] def tableOf(spark: SparkSession, name: String): GraftTable = {
    val parts = name.split('.').toSeq
    val path = GraftTimeTravel.graftPathOf(spark, parts).getOrElse(
      fail(s"$name does not resolve to a graft table"))
    GraftTable.load(spark, path)
  }

  /** SQL function name -> ViewAgg kind (`approx_count_distinct` rides
    * the HLL-sketch state column).
    */
  private val AggKinds = Map(
    "count" -> "count", "sum" -> "sum", "min" -> "min", "max" -> "max",
    "avg" -> "avg", "approx_count_distinct" -> "approx_ndv")

  /** Session-scoped name -> view base path (the durable mapping is the
    * view table itself; this directory makes REFRESH/DROP-by-name work
    * within the session that created or refreshed the view).
    */
  private val registry = new ConcurrentHashMap[(SparkSession, String), String]()

  private[sql] def lookup(spark: SparkSession, name: String): String = {
    val p = registry.get((spark, name))
    require(p != null,
      s"unknown materialized view '$name' in this session — recreate it or " +
        "refresh by path with MaterializedView.sync")
    p
  }

  private[sql] def remember(spark: SparkSession, name: String, path: String): Unit =
    registry.put((spark, name), path)

  private[sql] def forget(spark: SparkSession, name: String): Unit =
    registry.remove((spark, name))

  /** Extracted view definition from the AS-select's unresolved plan.
    * `dims` are star-schema INNER joins: `(alias, table parts, ON sql)`.
    */
  final case class ViewDef(table: Seq[String], where: Option[String],
      groups: Seq[(String, String)], aggs: Seq[ViewAgg],
      factAlias: String = "f",
      dims: Seq[(String, Seq[String], String)] = Seq.empty)

  private def isAggOutput(ne: Expression): Boolean = ne.exists {
    case f: UnresolvedFunction => AggKinds.contains(f.nameParts.last.toLowerCase)
    case _ => false
  }

  /** Dissect the FROM tree: a fact relation (optionally aliased), inner-
    * joined to any number of aliased dim relations. Left-deep only — the
    * shape SQL `FROM f JOIN d1 ON .. JOIN d2 ON ..` parses to.
    */
  private def dissectFrom(p: LogicalPlan)
      : (Seq[String], Option[String], Seq[(String, Seq[String], String)]) = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.Inner
    p match {
      case UnresolvedRelation(parts, _, _) => (parts, None, Seq.empty)
      case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
        (parts, Some(id.name), Seq.empty)
      case Join(l, r, Inner, Some(cond), _) =>
        val (fp, fa, ds) = dissectFrom(l)
        val (alias, dparts) = r match {
          case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) => (id.name, parts)
          case UnresolvedRelation(parts, _, _) => (parts.last, parts)
          case other => fail(
            s"a view JOIN side must be a (aliased) table; got: ${other.nodeName}")
        }
        (fp, fa, ds :+ ((alias, dparts, cond.sql)))
      case other => fail(s"the FROM of a materialized view must be a graft " +
        s"table, optionally INNER-joined to dim tables; got: ${other.nodeName}")
    }
  }

  private[sql] def extract(plan: LogicalPlan): ViewDef = plan match {
    case Aggregate(grouping, aggExprs, child, _) =>
      val (from, where) = child match {
        case Filter(cond, f) => (f, Some(cond.sql))
        case f => (f, None)
      }
      val (rel, factAlias, dims) = dissectFrom(from)
      val (groupOut, aggOut) = aggExprs.partition(ne => !isAggOutput(ne))
      if (grouping.size != groupOut.size)
        fail("every GROUP BY expression must appear (aliased) in the SELECT list " +
          s"exactly once: ${grouping.size} group expressions vs ${groupOut.size} " +
          "non-aggregate output columns")
      val groups = groupOut.map {
        case Alias(childE, name) => name -> childE.sql
        case u: UnresolvedAttribute => u.nameParts.last -> u.name
        case other => fail(s"group output needs an alias: ${other.sql}")
      }
      val aggs = aggOut.map {
        case Alias(f: UnresolvedFunction, name)
            if AggKinds.contains(f.nameParts.last.toLowerCase) && !f.isDistinct =>
          val kind = AggKinds(f.nameParts.last.toLowerCase)
          val arg = f.arguments match {
            case Seq() => "*"
            case Seq(_: UnresolvedStar) => "*"
            case Seq(e) => e.sql
            case _ => fail(s"$kind takes one argument in a materialized view: ${f.sql}")
          }
          if (arg == "*" && kind != "count") fail(s"$kind(*) is not an aggregate")
          ViewAgg(name, kind, arg)
        case other => fail("materialized view aggregates must be aliased " +
          s"count/sum/min/max/avg calls; got: ${other.sql}")
      }
      if (aggs.isEmpty) fail("a materialized view needs at least one aggregate")
      ViewDef(rel.toSeq, where, groups.toSeq, aggs.toSeq,
        factAlias.getOrElse("f"), dims)
    case other =>
      fail(s"a materialized view definition must be an aggregate query " +
        s"(SELECT ... GROUP BY ...); got: ${other.nodeName}")
  }

  private[sql] def graftTableOf(spark: SparkSession, parts: Seq[String]): GraftTable = {
    val df = spark.table(parts.map(p => s"`$p`").mkString("."))
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation] =>
        lr.relation.asInstanceOf[GraftRelation].table
    }.getOrElse(fail(
      s"${parts.mkString(".")} does not resolve to a graft table"))
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"materialized view: $msg")
}

final case class CreateMaterializedViewCommand(name: String, location: String,
    query: String, autoRefresh: Boolean) extends LeafRunnableCommand {
  import GraftSqlParser._
  override def run(spark: SparkSession): Seq[Row] = {
    val vd = extract(spark.sessionState.sqlParser.parsePlan(query))
    val src = graftTableOf(spark, vd.table)
    val dims = vd.dims.map { case (alias, parts, cond) =>
      MaterializedView.DimJoin(alias, graftTableOf(spark, parts), cond)
    }
    val view = MaterializedView.create(spark, location, src, vd.groups, vd.aggs,
      vd.where, dims, vd.factAlias)
    MaterializedView.sync(view, src)
    // auto-refresh hooks the fact AND every dim: a dim write re-syncs
    // (the recorded dim heads force the rebuild)
    if (autoRefresh) {
      MaterializedView.register(view, src)
      dims.foreach(d => MaterializedView.register(view, d.table))
    }
    remember(spark, name, location)
    MaterializedView.readLive(view).createOrReplaceTempView(name)
    Seq.empty
  }
}

final case class RefreshMaterializedViewCommand(name: String) extends LeafRunnableCommand {
  import GraftSqlParser._
  override def run(spark: SparkSession): Seq[Row] = {
    val view = GraftTable.load(spark, lookup(spark, name))
    val src = GraftTable.load(spark, view.cfg.prop(MaterializedView.SourceKey, ""))
    MaterializedView.sync(view, src)
    MaterializedView.readLive(view).createOrReplaceTempView(name)
    Seq.empty
  }
}

/** Drops the registration, temp view, and the view's data — the state is
  * fully derived (rebuildable by CREATE), so deleting it is safe.
  */
final case class DropMaterializedViewCommand(name: String) extends LeafRunnableCommand {
  import GraftSqlParser._
  override def run(spark: SparkSession): Seq[Row] = {
    val view = GraftTable.load(spark, lookup(spark, name))
    val src = GraftTable.load(spark, view.cfg.prop(MaterializedView.SourceKey, ""))
    MaterializedView.unregister(view, src)
    spark.catalog.dropTempView(name)
    graft.core.Storage.deleteRecursively(view.basePath)
    forget(spark, name)
    Seq.empty
  }
}

/** `OPTIMIZE name [WHERE pred] [ZORDER BY (c1, c2, ...)]` — clustering as
  * SQL (the Delta convention): size-based small-file clustering,
  * optionally Z-order sorted. The WHERE predicate references the column
  * `partition` and prunes which partitions are eligible (surgical
  * maintenance: at 100 TB you OPTIMIZE yesterday's partitions, not the
  * table) — evaluated driver-side over the live partition list, zero
  * data IO. Returns the replacecommit instant, or a no-op note when no
  * file group is eligible.
  */
final case class GraftOptimizeCommand(name: String, zorder: Seq[String],
    where: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "instant", org.apache.spark.sql.types.StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.table.Services.ClusterPlanStrategy
    val t = GraftSqlParser.tableOf(spark, name)
    val strategy = where match {
      case None => ClusterPlanStrategy.AllPartitions
      case Some(pred) =>
        import spark.implicits._
        val live = t.view.partitions(None)
        val kept = live.toDF("partition")
          .filter(org.apache.spark.sql.functions.expr(pred))
          .collect().map(_.getString(0)).toSeq
        ClusterPlanStrategy.SelectedPartitions(kept)
    }
    val inst = graft.table.Services.cluster(t,
      zorderColumns = zorder, strategy = strategy)
    Seq(Row(inst.getOrElse("no eligible file groups")))
  }
}

/** `VACUUM name [RETAIN n COMMITS] [DRY RUN]` — the cleaner as SQL.
  * DRY RUN lists the files a real VACUUM would delete right now (one
  * `path` row each), deleting nothing — the Delta-convention safety
  * check before reclaiming storage.
  */
final case class GraftVacuumCommand(name: String, retain: Option[Int],
    dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      if (dryRun) "path" else "instant", org.apache.spark.sql.types.StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.table.Services
    val t = GraftSqlParser.tableOf(spark, name)
    val policy = Services.CleanPolicy.KeepLatestCommits(
      retain.getOrElse(graft.core.ConfigKeys.DefaultCleanerRetained))
    if (dryRun)
      Services.planClean(t, policy)._1.map(f => Row(f.relPath))
    else
      Seq(Row(Services.cleanWith(t, policy).getOrElse("nothing to clean")))
  }
}

/** `SHOW MATERIALIZED VIEWS ON name` — the auto-sync registrations on a
  * graft table, with each view's checkpoint and freshness.
  */
final case class ShowMaterializedViewsCommand(name: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{BooleanType, StringType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("view_path", StringType)(),
    AttributeReference("checkpoint", StringType)(),
    AttributeReference("fresh", BooleanType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.tableOf(spark, name)
    MaterializedView.registered(t).map { p =>
      val v = GraftTable.load(spark, p)
      val ckpt = IncrementalSync.checkpoint(v, MaterializedView.SyncKeys).getOrElse("")
      Row(p, ckpt, MaterializedView.isFresh(v, t))
    }
  }
}

/** `DESCRIBE DETAIL name` — one-row table summary (the Delta
  * convention): identity, layout config, live file-set size, partition
  * count and commit history depth.
  */
final case class GraftDescribeDetailCommand(name: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{LongType, StringType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("format", StringType)(),
    AttributeReference("name", StringType)(),
    AttributeReference("location", StringType)(),
    AttributeReference("table_type", StringType)(),
    AttributeReference("record_key_fields", StringType)(),
    AttributeReference("partition_expr", StringType)(),
    AttributeReference("precombine_field", StringType)(),
    AttributeReference("num_file_groups", LongType)(),
    AttributeReference("size_bytes", LongType)(),
    AttributeReference("num_partitions", LongType)(),
    AttributeReference("num_commits", LongType)(),
    AttributeReference("last_commit", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.tableOf(spark, name)
    val slices = t.view.fileSlices(None)
    val bytes = slices.flatMap(_.baseFile).map(_.sizeBytes).sum +
      slices.map(_.totalDeltaBytes).sum
    val commits = t.timeline.completedDataInstants()
    Seq(Row("graft", t.cfg.tableName, t.basePath.toString, t.cfg.tableType,
      t.cfg.recordKeyFields.mkString(","), t.cfg.partitionPathExpr,
      t.cfg.precombineField, slices.size.toLong, bytes,
      slices.map(_.partitionPath).distinct.size.toLong,
      commits.size.toLong, commits.lastOption.map(_.ts).getOrElse("")))
  }
}

/** `ALTER TABLE name ADD CONSTRAINT cname CHECK (expr)` — ANSI table
  * CHECK constraint over a graft name: validated against existing rows,
  * persisted in table config, enforced on every future write entry
  * point. Returns the table's full constraint list.
  */
final case class GraftAddConstraintCommand(name: String, cname: String,
    cexpr: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("constraints", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.tableOf(spark, name).addCheckConstraint(cname, cexpr)
    Seq(Row(t.checkConstraints
      .map { case (n, e) => s"$n: CHECK ($e)" }.mkString("; ")))
  }
}

/** `ALTER TABLE name DROP CONSTRAINT cname` — removes the CHECK
  * constraint; future writes stop enforcing it.
  */
final case class GraftDropConstraintCommand(name: String, cname: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("constraints", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.tableOf(spark, name).dropCheckConstraint(cname)
    Seq(Row(t.checkConstraints
      .map { case (n, e) => s"$n: CHECK ($e)" }.mkString("; ")))
  }
}
