package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.{Action, CommitMetadata, GraftInstant, MetaCols}
import graft.read.Readers

/** The checkpoint discipline every incremental service shares (the
  * reference's DeltaSync keeps its one `CHECKPOINT_KEY` the same way):
  * a service maintains a TARGET table from a SOURCE table, and each sync
  * commit stamps two marks into the target's commit metadata —
  *
  *  - the checkpoint: the source data instant the target's state covers;
  *  - the rewind seen: the newest source rollback/restore instant the
  *    sync observed.
  *
  * Data and marks publish in ONE commit, so a crash before it leaves the
  * old marks (the replayed tick re-pulls the same window) and a crash
  * after it leaves the new ones — effectively-once without multi-table
  * transactions. A target rollback rewinds both marks together.
  *
  * [[plan]] turns the marks into the tick's work:
  *
  *  - [[Idle]]: nothing to do — the source is empty or unchanged, or
  *    every instant since the checkpoint is a layout rewrite
  *    (compaction, clustering, bucket split/merge/rescale), which moves
  *    records between files without changing them;
  *  - [[Rebuild]]: recompute from the source snapshot — on the first
  *    tick, and (`recovering`) once after a source rollback/restore.
  *    The (checkpoint, head] window replays only SURVIVING commits, so
  *    no delta can retract what the rewind removed; each service wipes
  *    whatever of its state the removed commits may have fed. Marks
  *    publish only with the rebuild's commit, so a crash mid-recovery
  *    recovers again;
  *  - [[Delta]]: fold the window (begin, head].
  *
  * Every decision reads commit metadata only — no Spark job.
  */
object IncrementalSync {

  /** The two mark keys of one service, `<prefix>.checkpoint` and
    * `<prefix>.rewind.seen`. Stored strings are the on-disk contract:
    * changing a prefix orphans every table synced under it.
    */
  final case class Keys(prefix: String) {
    val checkpoint: String = s"$prefix.checkpoint"
    val rewindSeen: String = s"$prefix.rewind.seen"
  }

  sealed trait Plan
  case object Idle extends Plan
  /** A tick with work: `head` is the source instant it reads through,
    * `marks` what its commit must stamp.
    */
  sealed trait Work extends Plan {
    def head: String
    def marks: Map[String, String]
    def recovering: Boolean
  }
  final case class Rebuild(head: String, recovering: Boolean,
      marks: Map[String, String]) extends Work
  /** `commits`: the window's logical commits, oldest first. */
  final case class Delta(begin: String, head: String, marks: Map[String, String],
      commits: Seq[CommitMetadata]) extends Work {
    def recovering: Boolean = false
  }

  /** extraMetadata of the newest completed data commit on `t` carrying
    * `key` (empty when none does).
    */
  def marks(t: GraftTable, key: String): Map[String, String] =
    t.timeline.completedDataInstants().reverse.iterator
      .map(i => CommitMetadata.fromJson(t.timeline.readContent(i)).extraMetadata)
      .find(_.contains(key))
      .getOrElse(Map.empty)

  /** The source instant `target`'s state covers, if it ever synced. */
  def checkpoint(target: GraftTable, keys: Keys): Option[String] =
    marks(target, keys.checkpoint).get(keys.checkpoint)

  /** Newest rollback/restore instant ts on the source ("" when none).
    * Archived instants only matter for SYNC: by the time a rewind
    * archives, either newer data instants made the target stale anyway,
    * or a sync already ran and recorded the rewind — so a freshness probe
    * can stay active-timeline-only.
    */
  def lastRewind(source: GraftTable, includeArchived: Boolean): String =
    latestRewind(source.timeline.completedInstants() ++
      (if (includeArchived) source.timeline.archivedInstants().map(_._1) else Nil))

  private def latestRewind(instants: Seq[GraftInstant]): String =
    instants.filter(i => i.action == Action.Rollback || i.action == Action.Restore)
      .map(_.ts).maxOption.getOrElse("")

  def plan(source: GraftTable, target: GraftTable, keys: Keys): Plan =
    plan(source, marks(target, keys.checkpoint), keys, forceRebuild = false)

  /** [[plan]] from already-read `stored` marks; `forceRebuild` turns any tick
    * the source would not leave idle into a [[Rebuild]] (a service-level
    * staleness the marks cannot see, e.g. a changed dimension table).
    */
  private[graft] def plan(source: GraftTable, stored: Map[String, String], keys: Keys,
      forceRebuild: Boolean): Plan = {
    val completed = source.timeline.completedInstants()
    val data = completed.filter(i => Action.DataActions.contains(i.action))
    val head = data.lastOption.map(_.ts).getOrElse(return Idle)
    val archived = source.timeline.archivedInstants()
    val rewindNow = latestRewind(completed ++ archived.map(_._1))
    val marks = Map(keys.checkpoint -> head, keys.rewindSeen -> rewindNow)
    stored.get(keys.checkpoint) match {
      case None => Rebuild(head, recovering = false, marks)
      case Some(_) if rewindNow > stored.getOrElse(keys.rewindSeen, "") =>
        Rebuild(head, recovering = true, marks)
      case Some(_) if forceRebuild => Rebuild(head, recovering = false, marks)
      case Some(begin) =>
        // the window reaches archived instants only when the checkpoint
        // is older than the active timeline
        def inWindow(i: GraftInstant) =
          Action.DataActions.contains(i.action) && i.ts > begin && i.ts <= head
        val window = archived.filter(a => inWindow(a._1)) ++
          data.filter(inWindow).map(i => i -> source.timeline.readContent(i))
        val logical = window.map { case (i, c) => i -> CommitMetadata.fromJson(c) }
          .collect { case (i, m) if !Readers.isLayoutRewrite(i, m) => m }
        if (logical.isEmpty) Idle else Delta(begin, head, marks, logical)
    }
  }

  /** The tick's source rows with the meta columns dropped: the snapshot
    * at `head` for a rebuild, the window's latest record states for a
    * delta.
    */
  def pull(source: GraftTable, work: Work): DataFrame = {
    val raw = work match {
      case Delta(begin, head, _, _) => Readers.incremental(source, begin, Some(head))
      case _ => Readers.snapshot(source, asOf = Some(work.head))
    }
    raw.select(raw.columns.filterNot(MetaCols.All.contains).toIndexedSeq.map(col): _*)
  }

  /** Truncate the non-empty `tables` — a recovering service's wipe of
    * state the removed commits may have fed.
    */
  def wipe(tables: GraftTable*): Unit =
    tables.filter(_.timeline.completedDataInstants().nonEmpty).foreach(_.truncate())
}
