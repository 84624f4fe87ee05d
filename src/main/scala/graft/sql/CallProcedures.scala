package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand

import graft.table.{AdminArgs, AdminCommand, AdminTarget, CliFrame, CliText, GraftTable}

/** `CALL <procedure>(name => value, ...)` — the stored-procedure admin
  * surface the reference line later grew for exactly these operations
  * (the 0.x reference at /root/reference predates it and exposes them
  * only through the Java client / CLI; the statement shapes here follow
  * that convention so scripts written against it port directly).
  *
  * Procedures are the [[graft.table.AdminCommands]] entries with a `CALL`
  * name — the same entries the interactive CLI runs — so CALL is a pure
  * SQL veneer and behavior (locking, timeline actions, metrics hooks) is
  * identical across the programmatic API, the CLI and SQL.
  *
  * {{{
  * CALL run_compaction(table => 't', op => 'scheduleandexecute')
  * CALL run_clustering(table => 't', order => 'c1,c2', hilbert => true)
  * CALL run_clean(table => 't', retain_commits => 3)
  * CALL create_savepoint(table => 't' [, instant => '...'])
  * CALL rollback_to_savepoint(table => 't', instant => '...')
  * CALL delete_savepoint(table => 't', instant => '...')
  * CALL rollback_to_instant(table => 't', instant => '...')
  * CALL show_commits(table => 't' [, limit => 10])
  * CALL show_savepoints(table => 't')
  * CALL show_cleans(table => 't')
  * CALL show_rollbacks(table => 't')
  * CALL show_compaction(table => 't')
  * CALL show_fsview_all(table => 't')
  * CALL show_table_properties(table => 't')
  * }}}
  *
  * Arguments are named (`name => literal`); `table` also accepts the
  * first positional argument. Values are single-quoted strings, numbers
  * or booleans.
  */
object CallProcedures {

  final case class Arg(name: Option[String], value: String)

  /** Split the raw argument text on top-level commas (quote-aware) and
    * parse each `name => value` / positional pair. Quoted values keep
    * their inner text verbatim (doubled '' unescapes to ').
    */
  def parseArgs(raw: String): Seq[Arg] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\'') { inQuote = !inQuote; cur += c }
      else if (c == ',' && !inQuote) { parts += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    if (cur.nonEmpty) parts += cur.toString
    require(!inQuote, s"unterminated string literal in CALL arguments: $raw")
    parts.toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      // '=>' separates name from value only OUTSIDE quotes — a quoted
      // positional literal containing '=>' (a path, JSON) stays one value
      val arrow = {
        var inQ = false; var at = -1; var j = 0
        while (at < 0 && j < p.length - 1) {
          val c = p.charAt(j)
          if (c == '\'') inQ = !inQ
          else if (!inQ && c == '=' && p.charAt(j + 1) == '>') at = j
          j += 1
        }
        at
      }
      val (name, v) =
        if (arrow >= 0)
          (Some(p.substring(0, arrow).trim.toLowerCase),
            p.substring(arrow + 2).trim)
        else (None, p.trim)
      val unq =
        if (v.startsWith("'") && v.endsWith("'") && v.length >= 2)
          v.substring(1, v.length - 1).replace("''", "'")
        else v
      Arg(name, unq)
    }
  }
}

/** One admin command run from SQL: named arguments (`table` also as the
  * first positional), the `table` argument resolved like a SQL name, and
  * the entry's declared columns as the output.
  */
final case class GraftCallCommand(cmd: AdminCommand, args: Seq[CallProcedures.Arg])
    extends LeafRunnableCommand {
  import CallProcedures.Arg

  override val output: Seq[Attribute] =
    cmd.columns.map(f => AttributeReference(f.name, f.dataType, f.nullable)())

  override def run(spark: SparkSession): Seq[Row] = {
    // the first of repeated names wins
    val named = args.reverseIterator.collect { case Arg(Some(n), v) => n -> v }.toMap
    def tableArg: String =
      named.get("table").orElse(args.collectFirst { case Arg(None, v) => v })
        .getOrElse(throw new IllegalArgumentException(
          s"CALL ${cmd.call.head} needs a table argument: table => 'name'"))
    // a `/`-bearing value loads by PATH (pipeline-service state tables are
    // rarely cataloged), anything else resolves like a SQL name
    val target = new AdminTarget(() => GraftSqlParser.tableOf(spark, tableArg),
      v => if (v.contains("/")) GraftTable.load(spark, v) else GraftSqlParser.tableOf(spark, v))
    cmd.run(AdminArgs(spark, named, target, n => s"$n => '...'")) match {
      case CliFrame(df) => df.collect().toSeq
      case t: CliText => Seq(Row(t.result))
    }
  }
}
