package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Result of one admin command: a tabular view or a status line. */
sealed trait CliResult {
  /** The frame, for commands that return one. */
  def frame: DataFrame = this match {
    case CliFrame(df) => df
    case t: CliText => throw new IllegalStateException(s"command returned text: ${t.value}")
  }
  def text: String = this match {
    case t: CliText => t.value
    case CliFrame(_) => throw new IllegalStateException("command returned a frame")
  }
}
final case class CliFrame(df: DataFrame) extends CliResult
/** A status line. `result` is its short form (an instant, a count or a
  * no-op note), which `CALL` returns as its one `result` row.
  */
final case class CliText(value: String, result: String) extends CliResult
object CliText {
  def apply(value: String): CliText = CliText(value, value)
}

/** The reference's interactive admin shell re-expressed as a command
  * interpreter over the library (reference hudi-cli/.../commands/
  * TableCommand.java `connect`/`create`/`desc`, CommitsCommand.java
  * `commits show`/`commit rollback`, CleansCommand, SavepointsCommand,
  * CompactionCommand, ClusteringCommand, RollbacksCommand,
  * FileSystemViewCommand `show fsview all`, StatsCommand
  * `stats filesizes`). Command grammar matches the reference's shell
  * keys (`<noun> <verb> --opt value …`); results come back as DataFrames
  * (the reference renders the same tables as ASCII), so output composes
  * with Spark instead of a terminal. The commands are the
  * [[AdminCommands]] entries with a CLI key; this class only parses.
  */
final class GraftCli(spark: SparkSession) {

  private val target = new AdminTarget(
    () => throw new IllegalStateException(
      "no table connected — run: connect --path <basePath>"),
    GraftTable.load(spark, _))

  /** The connected table; commands besides connect/create require one. */
  def table: GraftTable = target.table

  def run(command: String): CliResult = GraftCli.run(spark, target, command)
}

object GraftCli {

  /** `--key value`, the value optionally single-quoted; a `--key`
    * followed by another `--key` or by the end is a bare flag.
    */
  private val Opt = """--(\S+)(?:\s+('[^']*'|(?!--)\S+))?""".r

  /** One command line against `target`: the longest command key that
    * prefixes the normalised line, then its options under their argument
    * names (a bare flag reads "true").
    */
  private[table] def run(spark: SparkSession, target: AdminTarget,
      command: String): CliResult = {
    val norm = command.trim.replaceAll("\\s+", " ")
    val (key, cmd) = AdminCommands.ByCli.find { case (k, _) =>
      norm == k || norm.startsWith(k + " ")
    }.getOrElse(throw new IllegalArgumentException(
      s"unknown command '$norm'; known: ${AdminCommands.ByCli.map(_._1).mkString(", ")}"))
    val opts = Opt.findAllMatchIn(norm.drop(key.length)).map { m =>
      cmd.fromCli(m.group(1)) ->
        Option(m.group(2)).fold("true")(_.stripPrefix("'").stripSuffix("'"))
    }.toMap
    cmd.run(AdminArgs(spark, opts, target, n => s"--${cmd.cliSpelling(n)}"))
  }
}
