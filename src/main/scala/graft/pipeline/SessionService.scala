package graft.pipeline

import org.apache.spark.sql.functions._

import graft.read.Readers
import graft.table.{GraftTable, IncrementalSync}

/** Incremental sessionization as a table service: maintain a SESSIONS
  * graft table from a keyed EVENTS graft table, recomputing only what
  * new data can have changed — the composition the engine exists for
  * (incremental pull → bounded recompute → transactional publish).
  *
  * Sessions cannot be maintained by appending per-batch results: a late
  * event can split, extend or renumber every session of its entity. The
  * correct incremental unit is the ENTITY, so the sessions table is
  * partitioned by a hash bucket of the entity column and each tick:
  *
  *  1. incrementally pulls events committed since the last tick's
  *     checkpoint ([[graft.table.IncrementalSync]] plans the tick and
  *     owns the checkpoint marks);
  *  2. derives the affected entity BUCKETS (tiny driver set, bounded by
  *     `buckets`);
  *  3. recomputes sessions for those buckets only, reading the events
  *     snapshot pruned to the same buckets when the events table shares
  *     the bucketing expression (plan-time partition pruning — at scale
  *     a tick touches buckets/|active entities| of the corpus);
  *  4. publishes via insert_overwrite: one replacecommit that swaps
  *     exactly the affected partitions, leaving the rest byte-identical.
  *     Readers see the old sessions until the commit lands (snapshot
  *     isolation); time travel pins any previous sessionization.
  *
  * Contract: the events table is append/update-shaped (the standard
  * clickstream contract). Deletes of individual events do not retrigger
  * their entity's recompute, because incremental pull surfaces changed
  * records, not removed ones.
  */
object SessionService {

  val SyncKeys = IncrementalSync.Keys("graft.sessions.events")

  def lastCheckpoint(sessions: GraftTable): Option[String] =
    IncrementalSync.checkpoint(sessions, SyncKeys)

  /** One tick. Returns the sessions commit ts, or None when the events
    * table has nothing new. `buckets` must match the sessions table's
    * partition expression (`pmod(<userCol>, <buckets>)`).
    */
  def sync(events: GraftTable, sessions: GraftTable,
      userCol: String = "user_id", tsCol: String = "ts", valueCol: String = "value",
      maxGapSeconds: Long = 1800, tieBreak: Option[String] = Some("event_id"),
      buckets: Int = 64): Option[String] = {
    val work = IncrementalSync.plan(events, sessions, SyncKeys) match {
      case IncrementalSync.Idle => return None
      case w: IncrementalSync.Work => w
    }
    val bucketOf = pmod(col(userCol).cast("long"), lit(buckets.toLong))
    // a rebuild recomputes every bucket; a delta reads the events snapshot
    // pruned to the buckets its window touched (partition pruning when
    // the events table is bucketed the same way; a filter otherwise)
    val snapshot = Readers.snapshot(events, asOf = Some(work.head))
    val scope = work match {
      case IncrementalSync.Delta(begin, head, _, _) =>
        val affected = Readers.incremental(events, begin, Some(head))
          .select(bucketOf.cast("string")).distinct()
          .collect().map(_.getString(0)).toSeq
        snapshot.filter(bucketOf.cast("string").isin(affected: _*))
      case _ => snapshot
    }
    val recomputed = Sessions.sessionStats(scope, userCol, tsCol, valueCol,
      maxGapSeconds, tieBreak)
    // recovery replaces the WHOLE table: a bucket whose every event rolled
    // back yields no recomputed rows, so partition-scoped overwrite would
    // leave its stale sessions behind
    if (work.recovering)
      Some(sessions.insertOverwriteTable(recomputed, extraMetadata = work.marks))
    else
      Some(sessions.insertOverwrite(recomputed, extraMetadata = work.marks))
  }
}
