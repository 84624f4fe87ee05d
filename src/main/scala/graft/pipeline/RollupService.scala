package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.read.Readers
import graft.table.{GraftTable, IncrementalSync}

/** Incremental materialized-aggregate maintenance: keep a ROLLUP graft
  * table (`GROUP BY groupCols` + arbitrary aggregates) in sync with a
  * keyed SOURCE graft table, recomputing only the groups new commits can
  * have changed — incremental view maintenance as a table service, the
  * generalization of [[SessionService]] from sessions to any aggregate.
  *
  * Arbitrary aggregates (min/max/count-distinct/percentiles) cannot be
  * maintained by merging per-batch deltas: an update or delete can
  * invalidate a group's max without saying what the new max is. The
  * correct incremental unit is the GROUP, so each tick:
  *
  *  1. pulls the CDC change feed since the last tick's checkpoint
  *     (before AND after images — a row UPDATEd out of a group must
  *     retrigger the group it LEFT, which the after-image alone would
  *     miss; [[graft.table.IncrementalSync]] plans the tick and owns the
  *     checkpoint marks);
  *  2. derives the affected group keys (bounded by groups-touched-per-
  *     tick, not table size — collected only onto the plan as an isin /
  *     join filter, the same bounded-driver contract as the services);
  *  3. re-aggregates those groups from the source snapshot — with the
  *     group filter pushed into the scan (partition pruning when the
  *     source partitions by a groupCol prefix);
  *  4. publishes upserts for recomputed groups AND tombstones for groups
  *     whose last source row vanished, in ONE `cdc_apply` commit —
  *     readers see the previous rollup until the commit lands, and a
  *     crash between upsert and delete is impossible because they are
  *     the same commit.
  *
  * The rollup table must be keyed by exactly `groupCols`. Aggregate
  * columns follow the catalog's float discipline (decimal sums, one
  * division at the end) if oracle-exact replay is wanted.
  */
object RollupService {

  val SyncKeys = IncrementalSync.Keys("graft.rollup.source")

  def lastCheckpoint(rollup: GraftTable): Option[String] =
    IncrementalSync.checkpoint(rollup, SyncKeys)

  /** One tick. Returns the rollup commit ts, or None when the source has
    * nothing new since the checkpoint.
    */
  def sync(source: GraftTable, rollup: GraftTable, groupCols: Seq[String],
      aggs: Seq[Column]): Option[String] = {
    val gcols = groupCols.map(col)
    def aggregate(df: DataFrame): DataFrame =
      df.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
    // upserts for the `fresh` groups + tombstones for the `gone` keys
    def withTombstones(fresh: DataFrame, gone: DataFrame): DataFrame = {
      val deletes = fresh.columns.filterNot(groupCols.contains).foldLeft(gone)((df, c) =>
        df.withColumn(c, lit(null).cast(fresh.schema(c).dataType)))
      fresh.withColumn("_op", lit("U")).unionByName(deletes.withColumn("_op", lit("D")))
    }

    IncrementalSync.plan(source, rollup, SyncKeys) match {
      case IncrementalSync.Idle => None
      case IncrementalSync.Rebuild(head, false, marks) =>
        // first tick: full build, plain upsert (nothing can vanish)
        val full = aggregate(Readers.snapshot(source, asOf = Some(head)))
          .withColumn("_op", lit("U"))
        Some(rollup.applyCdc(full, opCol = "_op", extraMetadata = marks))
      case IncrementalSync.Rebuild(head, true, marks) =>
        // recovery: removed commits' groups are never retriggered by the
        // change feed — full recompute + tombstones for rollup groups the
        // fresh state no longer has, in one commit
        val full = aggregate(Readers.snapshot(source, asOf = Some(head)))
        val gone = Readers.snapshot(rollup).select(gcols: _*)
          .join(full, groupCols, "left_anti")
        val batch = withTombstones(full, gone)
        Some(rollup.applyCdc(batch, opCol = "_op", extraMetadata = marks))
      case IncrementalSync.Delta(begin, head, marks, _) =>
        // both change images: a row that LEFT a group retriggers it too
        val touched = Readers.incrementalChanges(source, begin, Some(head))
          .select(gcols: _*).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // a logical commit that changed no rows (a no-op delete, say)
          // yields no groups: skip the commit, the next tick re-pulls the
          // same (cheap, empty) range
          if (touched.isEmpty) return None
          val scoped = Readers.snapshot(source, asOf = Some(head))
            .join(touched, groupCols, "left_semi")
          val recomputed = aggregate(scoped)
          // groups touched by the feed but absent from the recompute lost
          // their last source row → tombstone them out of the rollup
          val batch = withTombstones(recomputed,
            touched.join(recomputed, groupCols, "left_anti"))
          Some(rollup.applyCdc(batch, opCol = "_op", extraMetadata = marks))
        } finally touched.unpersist()
    }
  }
}
