package graft.table

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{MetaCols, Storage, TableConfig, TableType}
import graft.core.Storage.PathOps
import graft.read.Readers

/** Incrementally-maintained materialized aggregate views over graft
  * tables — beyond the 0.x reference (whose incremental queries leave
  * view maintenance to the user and drop the delete images doing it
  * right would need, IncrementalRelation.scala:60-178). The view is
  * itself a graft table keyed by the group columns, so it inherits the
  * whole table stack: snapshot/time-travel/incremental reads, OCC,
  * metrics, CLI.
  *
  * Maintenance is CDC-driven: each [[sync]] pulls the source's change
  * images for `(checkpoint, head]` via [[Readers.incrementalChanges]]
  * and folds them into the view state with one aggregation —
  * insert/update_after images count +1, delete/update_before count -1 —
  * so per-tick cost scales with the CHANGED rows, not the source size
  * (the 100 TB shape: a nightly full `GROUP BY` over the corpus is
  * exactly what this avoids). A group update that moves a row across
  * groups retracts from the old group and adds to the new one through
  * the same two images, no special casing.
  *
  * Aggregate kinds:
  *  - `count` / `sum` / `avg` are self-maintainable from deltas alone
  *    (avg persists sum+count state columns; [[read]] projects the
  *    quotient). Sums fold in DECIMAL(28,8) so incremental results are
  *    bit-identical to a from-scratch aggregate — addition of exact
  *    decimals is order-independent, double addition is not.
  *  - `min` / `max` are NOT delta-maintainable (deleting the minimum
  *    needs the runner-up), so the groups touched by the tick are
  *    re-aggregated from the source snapshot, semi-join-pruned to just
  *    those groups — bounded by the tick's group fan-out, and
  *    column-stats/dictionary file skipping prunes the scan when the
  *    group correlates with the layout.
  *
  * Crash safety: [[IncrementalSync]] plans each tick and owns the
  * checkpoint marks, which publish in the SAME view commit as the folded
  * state. Groups whose maintained row count reaches zero are tombstoned
  * through the delete-marker upsert, one commit for the whole fold.
  */
object MaterializedView {

  val SyncKeys = IncrementalSync.Keys("graft.view.source")
  /** Per-dimension head instants observed at sync (`alias=ts` ';'-joined). */
  val DimHeadsKey = "graft.view.dim.heads"
  /** Which fold the sync's commit ran: "delta" or "rebuild" (observable
    * via DESCRIBE HISTORY / tests; the adaptive choice must be visible).
    */
  val FoldKindKey = "graft.view.fold"
  /** Rebuild-over-delta switch point: when the change window's file bytes
    * reach this fraction of the live table, the CDC diff (which scans new
    * AND prior file versions) would read more than a from-scratch
    * re-aggregate — rebuild instead. Session conf
    * `spark.graft.mv.rebuild.window.ratio` overrides the view property.
    */
  val RebuildRatioKey = "graft.mv.rebuild.window.ratio"
  val RebuildRatioConf = "spark.graft.mv.rebuild.window.ratio"
  private val GroupsKey = "graft.view.groups"
  private val AggsKey = "graft.view.aggs"
  private val DimsKey = "graft.view.dims"
  private val FactAliasKey = "graft.view.fact.alias"
  val SourceKey = "graft.view.source.path"
  private val WhereKey = "graft.view.where"
  /** Internal per-group live-row count: detects vanished groups. */
  val RowsCol = "_mv_rows"

  /** One view aggregate: `name` is the output column, `kind` one of
    * count|sum|min|max|avg|approx_ndv, `expr` a Spark SQL expression
    * over the source columns (`*` for count(*)). `approx_ndv` maintains
    * a mergeable HLL sketch (DataSketches, the engine behind Spark's
    * `approx_count_distinct`) as group state: inserts union in, and only
    * a retraction forces the group's sketch to rebuild — [[read]]
    * projects the estimate.
    */
  final case class ViewAgg(name: String, kind: String, expr: String) {
    require(Seq("count", "sum", "min", "max", "avg", "approx_ndv").contains(kind),
      s"unsupported view aggregate kind '$kind' (count|sum|min|max|avg|approx_ndv)")
  }

  /** One dimension join of a STAR view: the fact table is aliased `f`,
    * each dim gets `alias`, and `cond` is a Spark SQL INNER-join
    * predicate over them (e.g. `f.o_custkey = c.c_custkey`). Group/agg/
    * where expressions may then reference dim columns through the alias.
    * Maintenance joins fact CHANGE IMAGES to the dims' CURRENT
    * snapshots — exact while the dims are unchanged; a dim write since
    * the last sync triggers a one-time full re-aggregate (the stored
    * per-dim head instants detect it), because a changed dim invalidates
    * folds no fact-side delta window can express.
    */
  final case class DimJoin(alias: String, table: GraftTable, cond: String)

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def dec(s: String) = URLDecoder.decode(s, UTF_8)

  /** Create the view table and record its definition as table
    * properties (the stored definition is authoritative — every sync
    * reads it back, so call-site drift cannot corrupt the state).
    * `groupBy` maps output alias -> Spark SQL expression.
    */
  def create(spark: SparkSession, path: String, source: GraftTable,
      groupBy: Seq[(String, String)], aggs: Seq[ViewAgg],
      where: Option[String] = None,
      dims: Seq[DimJoin] = Seq.empty,
      factAlias: String = "f"): GraftTable = {
    require(groupBy.nonEmpty, "materialized view needs group columns")
    require(aggs.nonEmpty, "materialized view needs aggregates")
    val names = groupBy.map(_._1) ++ aggs.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate output column among ${names.mkString(", ")}")
    val aliases = dims.map(_.alias)
    require(!aliases.contains(factAlias),
      s"'$factAlias' is the fact table's alias")
    require(aliases.distinct.size == aliases.size,
      s"duplicate dim alias among ${aliases.mkString(", ")}")
    GraftTable.create(spark, path, TableConfig(
      "mv_" + source.cfg.tableName, TableType.CopyOnWrite,
      recordKeyFields = groupBy.map(_._1),
      partitionPathExpr = "", precombineField = "",
      props = Map(
        GroupsKey -> groupBy.map { case (n, e) => s"${enc(n)}:${enc(e)}" }.mkString(";"),
        AggsKey -> aggs.map(a => s"${enc(a.name)}:${a.kind}:${enc(a.expr)}" ).mkString(";"),
        SourceKey -> source.basePath.toString) ++
        where.map(w => WhereKey -> enc(w)) ++
        (if (factAlias == "f") Map.empty else Map(FactAliasKey -> enc(factAlias))) ++
        (if (dims.isEmpty) Map.empty else Map(DimsKey -> dims.map(d =>
          s"${enc(d.alias)}:${enc(d.table.basePath.toString)}:${enc(d.cond)}")
          .mkString(";")))))
  }

  /** The view's dimension joins as `(alias, dim path, join cond)`. */
  private[graft] def dimsOf(view: GraftTable): Seq[(String, String, String)] =
    view.cfg.prop(DimsKey, "").split(";").toSeq.filter(_.nonEmpty).map { p =>
      val Array(a, pa, c) = p.split(":", 3); (dec(a), dec(pa), dec(c))
    }

  /** The fact table's alias in the view's expressions ("f" by default). */
  private[graft] def factAliasOf(view: GraftTable): String =
    Option(view.cfg.prop(FactAliasKey, null)).map(dec).getOrElse("f")

  /** Fact frame (aliased `f`) inner-joined to every dim's CURRENT
    * snapshot under its alias. Dims are lookup-sized by star-schema
    * convention — Spark broadcasts them under the join threshold, and
    * AQE handles the rest.
    */
  private def joinDims(view: GraftTable, df: DataFrame): DataFrame =
    dimsOf(view).foldLeft(df.alias(factAliasOf(view))) {
      case (acc, (al, p, cond)) =>
      acc.join(
        Readers.snapshot(GraftTable.load(view.spark, p)).drop(MetaCols.All: _*)
          .alias(al),
        expr(cond), "inner")
    }

  /** Current per-dim head instants, serialized for the sync marks. */
  private def dimHeads(view: GraftTable): String =
    dimsOf(view).map { case (al, p, _) =>
      val ts = GraftTable.load(view.spark, p)
        .timeline.lastCompleted().map(_.ts).getOrElse("")
      s"$al=$ts"
    }.mkString(";")

  /** The view's selection predicate, if any. Change images are filtered
    * by it PER IMAGE, which makes selection fall out of the fold: an
    * update moving a row out of the predicate retracts (before image
    * passes) without adding (after image fails) — a net delete from the
    * view, with no special casing.
    */
  def whereOf(view: GraftTable): Option[String] =
    Option(view.cfg.prop(WhereKey, null)).map(dec)

  private[graft] def groupsOf(view: GraftTable): Seq[(String, String)] =
    view.cfg.prop(GroupsKey, "").split(";").toSeq.filter(_.nonEmpty).map { p =>
      val Array(n, e) = p.split(":", 2); (dec(n), dec(e))
    }

  private[graft] def aggsOf(view: GraftTable): Seq[ViewAgg] =
    view.cfg.prop(AggsKey, "").split(";").toSeq.filter(_.nonEmpty).map { p =>
      val Array(n, k, e) = p.split(":", 3); ViewAgg(dec(n), k, dec(e))
    }

  /** Exact-fold input for sum/avg: decimal addition is associative and
    * commutative, so the incremental fold lands bit-identical to a
    * from-scratch aggregate regardless of batch boundaries.
    */
  private def decIn(e: String): Column = expr(e).cast("decimal(28,8)")

  /** Signed weight as a WIDTH-PINNED decimal: long(=decimal(20,0)) ×
    * decimal(28,8) overflows precision 38 and Spark silently drops the
    * scale to 6 — decimal(2,0) keeps the product at (31,8).
    */
  private def wDec: Column = col("_w").cast("decimal(2,0)")

  /** Canonical persisted type for sum state (folds re-cast to it so the
    * stored width never creeps toward the 38-digit precision cap).
    */
  private val SumType = "decimal(28,8)"

  private[graft] def sumCol(a: ViewAgg) = s"${a.name}__sum"
  private[graft] def cntCol(a: ViewAgg) = s"${a.name}__cnt"

  /** The view's persisted state columns for one aggregate. */
  private def stateCols(a: ViewAgg): Seq[String] = a.kind match {
    case "avg" => Seq(sumCol(a), cntCol(a))
    case _ => Seq(a.name)
  }

  /** HLL sketch input: `hll_sketch_agg` only accepts int/long/string/
    * binary, so every sketch site canonicalizes through a string cast —
    * distinctness-preserving for all types, and identical hashing across
    * initial build, incremental union, and rebuild (a mixed-site type
    * difference would silently skew the estimate).
    */
  private def hllIn(e: String): Column = expr(e).cast("string")

  /** From-scratch aggregate columns (initial sync and min/max repair). */
  private def fullAggs(aggs: Seq[ViewAgg]): Seq[Column] =
    aggs.flatMap { a =>
      a.kind match {
        case "count" if a.expr == "*" => Seq(count(lit(1)).as(a.name))
        case "count" => Seq(count(expr(a.expr)).as(a.name))
        case "sum" => Seq(sum(decIn(a.expr)).cast(SumType).as(a.name))
        case "min" => Seq(min(expr(a.expr)).as(a.name))
        case "max" => Seq(max(expr(a.expr)).as(a.name))
        case "approx_ndv" => Seq(hll_sketch_agg(hllIn(a.expr)).as(a.name))
        case "avg" => Seq(sum(decIn(a.expr)).cast(SumType).as(sumCol(a)),
          count(expr(a.expr)).as(cntCol(a)))
      }
    } :+ count(lit(1)).as(RowsCol)

  /** Signed delta aggregate columns over change images carrying `_w`.
    * min/max contribute the tick's ADDED extreme (folds inline via
    * least/greatest) and RETRACTED extreme (decides, per group, whether
    * the stored extreme might have been displaced — the selective-repair
    * test): an append-only tick, the common shape at scale, never
    * rescans the source.
    */
  private def deltaAggs(aggs: Seq[ViewAgg]): Seq[Column] =
    aggs.flatMap { a =>
      def nn = when(expr(a.expr).isNotNull, col("_w").cast("long")).otherwise(lit(0L))
      a.kind match {
        case "count" if a.expr == "*" => Seq(sum(col("_w").cast("long")).as(a.name))
        case "count" => Seq(sum(nn).as(a.name))
        case "sum" => Seq(sum(wDec * coalesce(decIn(a.expr), lit(0).cast(SumType))).cast(SumType).as(a.name))
        case "min" => Seq(
          min(when(col("_w") > 0, expr(a.expr))).as(s"_add_${a.name}"),
          min(when(col("_w") < 0, expr(a.expr))).as(s"_ret_${a.name}"))
        case "max" => Seq(
          max(when(col("_w") > 0, expr(a.expr))).as(s"_add_${a.name}"),
          max(when(col("_w") < 0, expr(a.expr))).as(s"_ret_${a.name}"))
        case "approx_ndv" => Seq(
          hll_sketch_agg(when(col("_w") > 0, hllIn(a.expr))).as(s"_add_${a.name}"),
          max(when(col("_w") < 0 && expr(a.expr).isNotNull, lit(1)).otherwise(lit(0)))
            .as(s"_ret_${a.name}"))
        case "avg" => Seq(sum(wDec * coalesce(decIn(a.expr), lit(0).cast(SumType))).cast(SumType).as(sumCol(a)),
          sum(nn).as(cntCol(a)))
      }
    } :+ sum(col("_w").cast("long")).as(RowsCol)

  /** True when the view's checkpoint covers every completed data instant
    * on the source AND no rollback/restore landed since the last sync —
    * the gate [[graft.sql.MvRewriteRule]] requires before answering a
    * source query from the view. Conservative: a layout-only
    * replacecommit (cluster/compact) newer than the checkpoint reads as
    * stale even though the logical content is unchanged — the query then
    * simply answers from the source, which is always correct.
    */
  def isFresh(view: GraftTable, source: GraftTable): Boolean = {
    val marks = IncrementalSync.marks(view, SyncKeys.checkpoint)
    marks.get(SyncKeys.checkpoint) match {
      case Some(c) =>
        !source.timeline.completedDataInstants().exists(_.ts > c) &&
          IncrementalSync.lastRewind(source, includeArchived = false) <=
            marks.getOrElse(SyncKeys.rewindSeen, "") &&
          // star views: any dim write since the sync makes the state stale
          (dimsOf(view).isEmpty || dimHeads(view) == marks.getOrElse(DimHeadsKey, ""))
      case None => source.timeline.completedDataInstants().isEmpty
    }
  }

  /** Fold the source's changes since the last sync into the view.
    * Returns the view commit instant, or None when already up to date.
    *
    * Serialized under the VIEW's table lock (reentrant — the upsert at
    * the end re-enters it): a fold is a RELATIVE delta onto the state it
    * read, so two concurrent syncs (e.g. two source writers' post-commit
    * hooks) that both read checkpoint c0 would each write `S0 + their
    * window` and the last writer would erase the other's fold — then the
    * surviving checkpoint replays one window onto state that already
    * contains it (a permanent double count). Under the lock the second
    * sync reads the first's checkpoint and folds only the remainder.
    */
  def sync(view: GraftTable, source: GraftTable): Option[String] =
      graft.core.TableLock.withLock(view.basePath) {
    val groups = groupsOf(view)
    val aggs = aggsOf(view)
    val stored = IncrementalSync.marks(view, SyncKeys.checkpoint)
    // star views: a dim write since the last sync invalidates the folded
    // state (old change images would join to NEW dim rows) — rebuild once
    val dimHeadsNow = dimHeads(view)
    val dimsChanged = dimsOf(view).nonEmpty && dimHeadsNow != stored.getOrElse(DimHeadsKey, "")
    // a source rewind needs no view-specific recovery: the rebuild's
    // tombstones retract the groups only removed commits fed
    val work = IncrementalSync.plan(source, stored, SyncKeys, forceRebuild = dimsChanged) match {
      case IncrementalSync.Idle => return None
      case w: IncrementalSync.Work => w
    }
    val head = work.head
    // set by the delta path when it materializes the folded state;
    // released after the view upsert consumed it
    var toRelease: Option[DataFrame] = None
    val groupCols = groups.map { case (n, e) => expr(e).as(n) }
    val names = groups.map(_._1)
    // reads pin to `head` (time travel), never "latest": a writer
    // landing a commit between checkpoint choice and the scan would
    // otherwise fold rows the checkpoint doesn't cover (double-counted
    // by the next sync). The WHERE applies AFTER the dim joins so it may
    // reference dim columns.
    val where = whereOf(view)
    def sourceAt = where.foldLeft(
      joinDims(view, Readers.timeTravel(source, head).drop(MetaCols.All: _*)))(
      (df, w) => df.where(expr(w)))
    // full re-aggregate + tombstones for groups the fresh state no longer
    // has (every Rebuild)
    def rebuild(): DataFrame = {
      val fa = fullAggs(aggs)
      val full = sourceAt.groupBy(groupCols: _*).agg(fa.head, fa.tail: _*)
      if (view.timeline.completedDataInstants().isEmpty) full
      else {
        val fullKeys = full.select(names.map(col): _*)
        val oldKeys = Readers.snapshot(view).drop(MetaCols.All: _*)
          .select(names.map(col): _*)
        val gone = oldKeys.join(fullKeys,
          names.map(n => oldKeys(n) <=> fullKeys(n)).reduce(_ && _), "left_anti")
        full.unionByName(gone.select(names.map(col) ++
          full.schema.fields.filterNot(f => names.contains(f.name)).map(f =>
            if (f.name == RowsCol) lit(0L).as(RowsCol)
            else lit(null).cast(f.dataType).as(f.name)): _*))
      }
    }
    // one finally spans the whole fold + upsert: a failure anywhere after
    // the delta path persists its state (min/max re-aggregation, dims
    // join, analysis of the tombstone column) must still release the cache
    var foldKind = "rebuild"
    try {
    val state = work match {
      case _: IncrementalSync.Rebuild => rebuild()
      case IncrementalSync.Delta(begin, _, _, logical) =>
        // Adaptive fold (metadata-only decision): the CDC diff reads the
        // window's NEW files AND the prior versions they replace, so once
        // the window's volume rivals the live table it costs MORE than a
        // from-scratch re-aggregate — rebuild then (and skip the min/max
        // repair machinery entirely). Small ticks — the 100-TB steady
        // state — keep the incremental path.
        val windowBytes = logical.iterator
          .map(_.writeStats.map(_.fileSizeInBytes).sum).sum
        val slices = source.view.fileSlices(None)
        val liveBytes = slices.flatMap(_.baseFile).map(_.sizeBytes).sum +
          slices.map(_.totalDeltaBytes).sum
        val ratio = source.spark.conf.getOption(RebuildRatioConf)
          .orElse(view.cfg.props.get(RebuildRatioKey))
          .map(_.toDouble).getOrElse(1.0)
        if (liveBytes > 0 && windowBytes >= ratio * liveBytes) rebuild()
        else {
        foldKind = "delta"
        val changes = where.foldLeft(
          joinDims(view, Readers.incrementalChanges(source, begin, Some(head))))(
          (df, w) => df.where(expr(w)))
        val w = when(col(Readers.ChangeTypeCol).isin("insert", "update_after"), lit(1))
          .otherwise(lit(-1))
        val da = deltaAggs(aggs)
        val delta = changes.withColumn("_w", w)
          .groupBy(groupCols: _*).agg(da.head, da.tail: _*)
        val old = Readers.snapshot(view).drop(MetaCols.All: _*)
        val d = names.foldLeft(delta)((df, n) => df.withColumnRenamed(n, s"_d_$n"))
          .withColumnsRenamed(
            aggs.flatMap(stateCols).map(c => c -> s"_d_$c").toMap + (RowsCol -> s"_d_$RowsCol"))
        val joined = d.join(old,
          names.map(n => d(s"_d_$n") <=> old(n)).reduce(_ && _), "left_outer")
        val newRows = coalesce(col(RowsCol), lit(0L)) + col(s"_d_$RowsCol")
        val mmAggs = aggs.filter(a =>
          a.kind == "min" || a.kind == "max" || a.kind == "approx_ndv")
        // a group needs a source rescan ONLY when a retracted value ties
        // or beats the stored extreme (the runner-up is unknowable from
        // deltas) — or, for sketches, when ANY retraction hit the group
        // (HLL cannot subtract); otherwise the state folds inline —
        // least/greatest/union skip nulls, so a brand-new group takes
        // the added side
        val repairFlag = mmAggs.map { a =>
          val ret = col(s"_ret_${a.name}")
          a.kind match {
            case "approx_ndv" => ret === 1
            case "min" => col(a.name).isNotNull && ret.isNotNull && ret <= col(a.name)
            case _ => col(a.name).isNotNull && ret.isNotNull && ret >= col(a.name)
          }
        }.reduceOption(_ || _).getOrElse(lit(false))
        val folded0 = joined.select(
          names.map(n => col(s"_d_$n").as(n)) ++
            aggs.flatMap { a =>
              a.kind match {
                case "min" => Seq(least(col(a.name), col(s"_add_${a.name}")).as(a.name))
                case "max" => Seq(greatest(col(a.name), col(s"_add_${a.name}")).as(a.name))
                case "approx_ndv" =>
                  val add = col(s"_add_${a.name}")
                  Seq(when(col(a.name).isNull, add).when(add.isNull, col(a.name))
                    .otherwise(hll_union(col(a.name), add)).as(a.name))
                case "count" | "avg" | "sum" =>
                  // decimal(28,8)+decimal(28,8) widens to (29,8): pin sum
                  // state back so the stored width is fold-count-invariant
                  stateCols(a).map { c =>
                    val added = coalesce(col(c), lit(0)) + col(s"_d_$c")
                    val isSumState = a.kind == "sum" || c == sumCol(a)
                    (if (isSumState) added.cast(SumType) else added).as(c)
                  }
              }
            } ++ Seq(newRows.as(RowsCol), repairFlag.as("_mv_repair")): _*)
        val folded =
          if (mmAggs.isEmpty) folded0.drop("_mv_repair")
          else {
            // the folded state is group-cardinality-sized, but its lineage
            // is the whole CDC-diff join: without materializing it once,
            // the norep/rep split + the repair semi-join replay that diff
            // subtree up to three times inside one plan
            val mat = folded0.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            toRelease = Some(mat)
            val norep = mat.filter(!col("_mv_repair")).drop("_mv_repair")
            val rep = mat.filter(col("_mv_repair")).drop("_mv_repair")
            // re-aggregate min/max for the REPAIR groups only: the scan
            // is semi-join-pruned to them (file skipping applies), and
            // with AQE an empty repair set collapses the whole subtree
            val touched = rep.select(names.map(col): _*)
            val mm = mmAggs.map(a => (a.kind match {
              case "min" => min(col(s"_in_${a.name}"))
              case "max" => max(col(s"_in_${a.name}"))
              case _ => hll_sketch_agg(col(s"_in_${a.name}"))
            }).as(a.name))
            val srcSel = sourceAt
              .select(groupCols ++ mmAggs.map(a => (if (a.kind == "approx_ndv")
                hllIn(a.expr) else expr(a.expr)).as(s"_in_${a.name}")): _*)
            val repaired = srcSel
              .join(touched, names.map(n => srcSel(n) <=> touched(n)).reduce(_ && _), "left_semi")
              .groupBy(names.map(col): _*)
              .agg(mm.head, mm.tail: _*)
            val r = names.foldLeft(repaired)((df, n) => df.withColumnRenamed(n, s"_r_$n"))
              .withColumnsRenamed(mmAggs.map(a => a.name -> s"_r_${a.name}").toMap)
            val repFixed = rep.join(r,
              names.map(n => rep(n) <=> r(s"_r_$n")).reduce(_ && _), "left_outer")
              .select(names.map(rep(_)) ++
                aggs.flatMap { a =>
                  a.kind match {
                    case "min" | "max" | "approx_ndv" =>
                      Seq(col(s"_r_${a.name}").as(a.name))
                    case _ => stateCols(a).map(rep(_))
                  }
                } :+ rep(RowsCol): _*)
            norep.unionByName(repFixed)
          }
        folded
        }
    }
    val marks = work.marks + (FoldKindKey -> foldKind) ++
      (if (dimsOf(view).isEmpty) Map.empty
       else Map(DimHeadsKey -> dimHeadsNow))
    if (view.timeline.completedDataInstants().isEmpty)
      // FIRST sync: the full aggregate IS the initial state — land it as
      // one bulk insert (no tag scan / dedup exchange against an empty
      // table, and no tombstones are possible), folding "create + first
      // sync" into a single view commit
      Some(view.bulkInsert(state, SortMode.NoSort, extraMetadata = marks))
    else {
      // vanished groups tombstone through the same commit
      val upsertable = state.withColumn(MetaCols.DeleteFlag, col(RowsCol) <= 0L)
      Some(view.upsert(upsertable, extraMetadata = marks))
    }
    } finally toRelease.foreach(_.unpersist())
  } // TableLock.withLock(view.basePath)

  /** Registry of views auto-synced after every data commit on `source`:
    * one file per view under `<source>/.graft/views/`, named by the
    * url-encoded view path (idempotent re-register). Kept OUT of
    * TableConfig so registering a view never rewrites the source's
    * config, and concurrent registrations never race each other.
    */
  private def viewsDir(source: GraftTable): Path =
    source.basePath.resolve(".graft").resolve("views")

  /** Opt this view into post-commit auto-sync on its source. */
  def register(view: GraftTable, source: GraftTable): Unit = {
    // the hook table may be the view's fact source OR one of its dims
    // (a dim write re-syncs a star view; maybeSyncRegistered resolves
    // the true source from the view's own definition)
    val tables = view.cfg.prop(SourceKey, "") +:
      dimsOf(view).map(_._2)
    require(tables.contains(source.basePath.toString),
      s"view ${view.basePath} joins neither fact nor dim ${source.basePath}")
    Storage.mkdirs(viewsDir(source))
    Storage.writeString(
      viewsDir(source).resolve(enc(view.basePath.toString) + ".mv"),
      view.basePath.toString)
  }

  def unregister(view: GraftTable, source: GraftTable): Unit =
    Storage.deleteIfExists(
      viewsDir(source).resolve(enc(view.basePath.toString) + ".mv"))

  /** Base paths of the views registered for auto-sync on `source`. */
  def registered(source: GraftTable): Seq[String] = {
    val dir = viewsDir(source)
    if (!Storage.exists(dir)) Seq.empty
    else Storage.listPaths(dir).filter(_.getName.endsWith(".mv"))
      .map(p => Storage.readString(p).trim).sorted
  }

  /** Cascade guard: a synced view's own commit re-enters this hook (a
    * view over a view refreshes transitively — intended), so a
    * registration CYCLE must hit a depth wall instead of looping.
    */
  private val syncDepth: ThreadLocal[Integer] = ThreadLocal.withInitial(() => Integer.valueOf(0))
  private val MaxCascadeDepth = 8

  /** Post-commit hook: fold the just-committed changes into every
    * registered view. Best-effort like the index syncs — a view failure
    * logs and defers to the next commit or an explicit [[sync]] (the
    * checkpoint discipline makes the retry fold the union window).
    */
  def maybeSyncRegistered(source: GraftTable): Unit = {
    val views = registered(source)
    if (views.isEmpty || syncDepth.get() >= MaxCascadeDepth) return
    syncDepth.set(syncDepth.get() + 1)
    try views.foreach { p =>
      // the registration hook may live on a DIM table of a star view —
      // sync against the view's RECORDED source, not the hook's table
      try {
        val v = GraftTable.load(source.spark, p)
        val actualSrc = v.cfg.prop(SourceKey, source.basePath.toString)
        sync(v,
          if (actualSrc == source.basePath.toString) source
          else GraftTable.load(source.spark, actualSrc))
      }
      catch {
        case NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"auto-sync of materialized view $p failed; will retry on next commit", e)
      }
    } finally syncDepth.set(syncDepth.get() - 1)
  }

  /** User-facing projection of the view state: avg becomes sum/count in
    * IEEE-754 double (both operands exact, so the quotient is
    * deterministic), internal state columns drop out.
    */
  def read(view: GraftTable): DataFrame =
    project(Readers.snapshot(view), view)

  /** Like [[read]] but through the `format("graft")` relation, whose
    * scan re-resolves the snapshot per query execution — the right frame
    * to register under a durable name (SQL temp view): auto-synced folds
    * become visible without re-registration.
    */
  def readLive(view: GraftTable): DataFrame =
    project(view.spark.read.format("graft").load(view.basePath.toString), view)

  private def project(df: DataFrame, view: GraftTable): DataFrame = {
    val groups = groupsOf(view)
    val aggs = aggsOf(view)
    df.select(
      groups.map { case (n, _) => col(n) } ++ aggs.map { a =>
        a.kind match {
          case "avg" => (col(sumCol(a)).cast("double") / col(cntCol(a)).cast("double")).as(a.name)
          case "approx_ndv" => hll_sketch_estimate(col(a.name)).as(a.name)
          case _ => col(a.name)
        }
      }: _*)
  }
}
