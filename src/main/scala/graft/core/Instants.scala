package graft.core

import java.time.format.DateTimeFormatter
import java.time.{Instant => JInstant, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path

import graft.core.Storage.PathOps

/** Timeline actions — mirrors the reference's action taxonomy
  * (reference hudi-common/.../table/timeline/HoodieTimeline.java:46-93).
  */
object Action {
  val Commit = "commit"             // COW write
  val DeltaCommit = "deltacommit"   // MOR write (delta files)
  val ReplaceCommit = "replacecommit" // insert_overwrite / clustering
  val Compaction = "compaction"     // MOR log merge
  val Clean = "clean"
  val Rollback = "rollback"
  val Savepoint = "savepoint"
  val Restore = "restore"

  /** Actions that add data files visible to snapshot readers. */
  val DataActions: Set[String] = Set(Commit, DeltaCommit, ReplaceCommit, Compaction)
}

object State {
  val Requested = "requested"
  val Inflight = "inflight"
  val Completed = "completed"
}

/** One timeline instant: (timestamp, action, state). Serialized as a file
  * `<ts>.<action>[.<state>]` under `<base>/.graft/timeline/`; completed
  * instants omit the state suffix and carry the action metadata JSON as
  * file content. Completion is an atomic rename, which is the commit
  * protocol (reference HoodieActiveTimeline.java:143-297).
  */
final case class GraftInstant(ts: String, action: String, state: String) {
  def isCompleted: Boolean = state == State.Completed
  def fileName: String =
    if (isCompleted) s"$ts.$action" else s"$ts.$action.$state"
}

object InstantTime {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS").withZone(ZoneOffset.UTC)
  private val lastMillis = new AtomicLong(0L)

  /** Monotonically increasing commit timestamp, unique within this JVM.
    * (A multi-writer deployment serializes instant creation under the
    * table lock — see services.TableLock.)
    */
  /** Render an epoch-millisecond time in instant format — for policies
    * that compare timeline instants against wall-clock horizons (e.g.
    * KEEP_LATEST_BY_HOURS cleaning).
    */
  def fromEpochMilli(ms: Long): String = fmt.format(JInstant.ofEpochMilli(ms))

  /** Inverse of [[fromEpochMilli]]. */
  def toEpochMilli(ts: String): Long = JInstant.from(fmt.parse(ts)).toEpochMilli

  def newInstant(): String = {
    var candidate = System.currentTimeMillis()
    var prev = lastMillis.get()
    while ({
      if (candidate <= prev) candidate = prev + 1
      !lastMillis.compareAndSet(prev, candidate) && { prev = lastMillis.get(); true }
    }) {}
    fmt.format(JInstant.ofEpochMilli(candidate))
  }

  /** Timeline-aware allocation for multi-writer safety: a second writer
    * process (or a host with clock skew) must never allocate a ts ≤ an
    * instant already on the timeline — a collision would let the completed
    * instant file of one commit shadow another's. Callers hold TableLock,
    * so reading the timeline here is race-free.
    */
  def newInstant(timeline: Timeline): String = {
    timeline.listInstants().map(_.ts).maxOption.foreach { maxTs =>
      val maxMillis = JInstant.from(fmt.parse(maxTs)).toEpochMilli
      var prev = lastMillis.get()
      while (prev < maxMillis && !lastMillis.compareAndSet(prev, maxMillis))
        prev = lastMillis.get()
    }
    newInstant()
  }
}

/** The active timeline of a table: ordered instants persisted as files.
  *
  * State machine per instant: requested → inflight → completed, mirroring
  * the reference (HoodieActiveTimeline.java). Readers only trust completed
  * instants, which is what gives snapshot isolation: data files are named
  * by the instant that wrote them, and a file is only visible once its
  * instant file exists.
  */
final class Timeline(val basePath: Path) {
  val dir: Path = basePath.resolve(".graft").resolve("timeline")
  val archiveDir: Path = basePath.resolve(".graft").resolve("archive")

  def init(): Unit = Storage.mkdirs(dir)

  def listInstants(): Seq[GraftInstant] = {
    Storage.listPaths(dir)
      .map(_.getName)
      .flatMap(parse)
      .sortBy(i => (i.ts, i.action))
  }

  private def parse(name: String): Option[GraftInstant] = name.split('.') match {
    case Array(ts, action) => Some(GraftInstant(ts, action, State.Completed))
    case Array(ts, action, state) if state == State.Requested || state == State.Inflight =>
      Some(GraftInstant(ts, action, state))
    case _ => None
  }

  def completedInstants(): Seq[GraftInstant] =
    listInstants().filter(_.isCompleted)

  def completedDataInstants(): Seq[GraftInstant] =
    completedInstants().filter(i => Action.DataActions.contains(i.action))

  def lastCompleted(): Option[GraftInstant] = completedDataInstants().lastOption

  def pendingInstants(): Seq[GraftInstant] = listInstants().filterNot(_.isCompleted)

  def createRequested(ts: String, action: String, content: String = "{}"): GraftInstant = {
    Storage.mkdirs(dir)
    Storage.atomicWrite(dir.resolve(s"$ts.$action.${State.Requested}"), content)
    GraftInstant(ts, action, State.Requested)
  }

  def transitionToInflight(i: GraftInstant, content: String = "{}"): GraftInstant = {
    Storage.atomicWrite(dir.resolve(s"${i.ts}.${i.action}.${State.Inflight}"), content)
    GraftInstant(i.ts, i.action, State.Inflight)
  }

  /** Atomic publish: the completed instant file appears (with its metadata
    * as content) in one rename; requested/inflight markers are removed.
    * Create-new semantics: a pre-existing completed instant at the same ts
    * means another writer already committed under this timestamp —
    * overwriting it would orphan that commit's files (silent data loss), so
    * fail instead.
    */
  def saveAsComplete(i: GraftInstant, metadataJson: String): GraftInstant = {
    Storage.atomicWrite(dir.resolve(s"${i.ts}.${i.action}"), metadataJson,
      replaceExisting = false)
    Storage.deleteIfExists(dir.resolve(s"${i.ts}.${i.action}.${State.Requested}"))
    Storage.deleteIfExists(dir.resolve(s"${i.ts}.${i.action}.${State.Inflight}"))
    GraftInstant(i.ts, i.action, State.Completed)
  }

  /** Publish an instant whose content is known up front (rollback,
    * restore, savepoint, a copied timeline): requested, then inflight,
    * then completed with `metadataJson`.
    */
  def publishInstant(ts: String, action: String, metadataJson: String): GraftInstant =
    saveAsComplete(transitionToInflight(createRequested(ts, action)), metadataJson)

  def readContent(i: GraftInstant): String =
    Storage.readString(dir.resolve(i.fileName))

  def readRequestedContent(ts: String, action: String): String =
    Storage.readString(dir.resolve(s"$ts.$action.${State.Requested}"))

  def deleteInstantFiles(ts: String, action: String): Unit = {
    Storage.deleteIfExists(dir.resolve(s"$ts.$action"))
    Storage.deleteIfExists(dir.resolve(s"$ts.$action.${State.Inflight}"))
    Storage.deleteIfExists(dir.resolve(s"$ts.$action.${State.Requested}"))
  }

  /** Move completed instants older than `keepFrom` into the archive log
    * (one JSON line each), bounding active-timeline size like the
    * reference's HoodieTimelineArchiveLog.
    */
  def archiveBefore(keepFrom: String): Int = {
    val toArchive = completedInstants().filter(_.ts < keepFrom)
    if (toArchive.isEmpty) return 0
    Storage.mkdirs(archiveDir)
    val log = archiveDir.resolve("archived.jsonl")
    val lines = toArchive.map { i =>
      val content = readContent(i)
      Json.write(Map("ts" -> i.ts, "action" -> i.action, "metadata" -> content))
    }
    // read-concat-republish instead of FS append: append is unsupported on
    // object stores (and Hadoop's checksummed local FS); archiving runs
    // rarely and under the table lock, so the rewrite is safe and cheap
    val prior = if (Storage.exists(log)) Storage.readString(log) else ""
    Storage.atomicWrite(log, prior + lines.mkString("", "\n", "\n"))
    toArchive.foreach(i => Storage.deleteIfExists(dir.resolve(i.fileName)))
    toArchive.size
  }

  /** Replay the archive log: completed instants (with their metadata JSON)
    * that were moved off the active timeline. Incremental readers whose
    * begin falls before the earliest active instant consult this so change
    * records are never silently dropped (reference keeps the analogous
    * archived timeline readable for the same reason).
    */
  def archivedInstants(): Seq[(GraftInstant, String)] = {
    val log = archiveDir.resolve("archived.jsonl")
    if (!Storage.exists(log)) return Seq.empty
    Storage.readLines(log).map { line =>
      val m = Json.read[Map[String, String]](line)
      (GraftInstant(m("ts"), m("action"), State.Completed), m("metadata"))
    }.sortBy(_._1.ts)
  }

  /** Earliest completed ts still on the active timeline (archived ones
    * excluded), if any.
    */
  def earliestActiveCompleted(): Option[String] =
    completedInstants().headOption.map(_.ts)
}
