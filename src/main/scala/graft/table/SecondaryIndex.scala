package graft.table

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core._

/** Opt-in SECONDARY index (`graft.index.secondary.columns=colA,colB`) —
  * an exact value → file-group mapping for NON-KEY columns, persisted as
  * one internal graft table per indexed column. The reference's index
  * hierarchy only locates records by record key (hudi-client/.../index/
  * HoodieIndex.java:45-75); a predicate on any other column scans every
  * range-surviving file. This is the capability the reference line later
  * grew as the metadata-table secondary index: point/selective queries on
  * an arbitrary column read only the file groups that contain matching
  * rows — IO ∝ matches, not table size, the difference between a point
  * query and a full scan at 100 TB.
  *
  * Mapping semantics are a SUPERSET contract, which is what makes the
  * maintenance cheap: the index maps `value → (partition, fileGroup)` and
  * must contain every live (value, group) containment, but MAY contain
  * stale extras — a group a matching row once lived in, a value a row was
  * updated away from. Lookups re-apply the predicate over the pruned
  * groups (the residual filter), so false positives cost only the extra
  * group read; false negatives are the only correctness hazard, and they
  * cannot occur because every instant that creates a file is replayed
  * into the index before it serves a probe ([[DerivedIndex.sync]]). Dead
  * groups (clustering, delete_partition) drop out at probe time: the probe
  * intersects with the LIVE slice set, so stale mappings into replaced
  * groups are invisible.
  *
  * Layout: `<base>/.graft/sec_index/<col>` is a COPY_ON_WRITE graft
  * table, record key (`_si_val`, `_si_part`, `_si_fid`) — the upsert
  * dedups repeated containments for free — partitioned `b=<bucket>` where
  * `bucket = xxhash64(value) mod buckets`, precombine `_si_ord` (the
  * outer instant). Values are indexed by their Spark STRING cast, which
  * is exact for string / integral / date / decimal columns (floating
  * point equality lookups are not a sane index use and are documented
  * unsupported).
  *
  * Maintenance is the [[DerivedIndex]] fold over the OUTER timeline, the
  * same as [[RecordIndex]]'s: replacecommits re-map surviving rows to
  * their new groups; compaction keeps group ids so mappings stay valid
  * without replay.
  */
object SecondaryIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def enabledColumns(cfg: TableConfig): Seq[String] =
    cfg.prop(ConfigKeys.SecondaryIndexColumns, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** One maintained index: `name` is the identity (directory name, probe
    * handle) and `exprSql` the Spark SQL expression producing the indexed
    * value. A plain column index is the `name == column, exprSql ==
    * `column`` special case; an EXPRESSION (functional) index — the
    * capability the reference line later grew as functional indexes —
    * maps any deterministic scalar of the row (`lower(city)`,
    * `year(ts)`) to its file groups, so equality probes on the
    * EXPRESSION prune IO the way column probes do.
    */
  final case class IndexSpec(name: String, exprSql: String) {
    def valueCol: Column = expr(exprSql).cast("string")
  }

  /** Expression indexes from `graft.index.expressions`: `name:<expr>`
    * entries split on `;`, name split on the FIRST `:` (expressions may
    * contain colons). Names are directory-safe identifiers.
    */
  def expressionIndexes(cfg: TableConfig): Seq[IndexSpec] =
    cfg.prop(ConfigKeys.SecondaryIndexExpressions, "")
      .split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { s =>
        val i = s.indexOf(':')
        require(i > 0 && i < s.length - 1,
          s"malformed expression index '$s' (want name:<expr>)")
        val name = s.substring(0, i).trim
        require(name.matches("[A-Za-z0-9_]+"),
          s"expression index name '$name' must be [A-Za-z0-9_]+")
        IndexSpec(name, s.substring(i + 1).trim)
      }

  /** Every maintained index: plain columns first, then expressions. A
    * DOTTED column name (`meta.st`) indexes the nested struct leaf: each
    * path segment backticks separately so the expression resolves as a
    * field access, not one dot-bearing identifier (r16 — pairs with the
    * nested stats/DDL surface; the file-index probe side maps
    * GetStructField predicates to the same dotted name).
    */
  def indexSpecs(cfg: TableConfig): Seq[IndexSpec] =
    enabledColumns(cfg).map(c => IndexSpec(c,
      c.split('.').map(seg => s"`$seg`").mkString("."))) ++ expressionIndexes(cfg)

  def specOf(cfg: TableConfig, name: String): Option[IndexSpec] =
    indexSpecs(cfg).find(_.name == name)

  def indexPath(t: GraftTable, name: String): org.apache.hadoop.fs.Path = {
    import graft.core.Storage.PathOps
    t.basePath.resolve(".graft").resolve("sec_index").resolve(name)
  }

  /** The index's inner table: record key (`_si_val`, `_si_part`,
    * `_si_fid`), value the spec's string-cast expression.
    */
  def descriptor(t: GraftTable, spec: IndexSpec): DerivedIndex.Descriptor =
    DerivedIndex.Descriptor(indexPath(t, spec.name), "graft.secondary.index.applied",
      s"sec_index_${spec.name}", "_si_", "_si_val", Seq("_si_val", "_si_part", "_si_fid"),
      ConfigKeys.SecondaryIndexBuckets, spec.valueCol)

  /** The descriptors the post-commit hook syncs: every configured column
    * and expression index.
    */
  private[table] def descriptors(t: GraftTable): Seq[DerivedIndex.Descriptor] =
    indexSpecs(t.cfg).map(descriptor(t, _))

  // --------------------------------------------------------------- lookup

  /** The live file groups that may contain rows whose index value is in
    * `values` (see [[DerivedIndex.probe]]); None when `name` is not a
    * maintained index or its sync failed.
    */
  def probeGroups(t: GraftTable, name: String,
      values: Seq[String]): Option[Set[(String, String)]] =
    specOf(t.cfg, name).flatMap(spec => DerivedIndex.probeSynced(t, descriptor(t, spec), values))

  /** READ-ONLY probe for plan-time file pruning ([[graft.read.GraftFileIndex]]
    * consults this for equality/IN predicates on indexed columns): returns
    * the live groups that may contain the values ONLY when the persisted
    * index is exactly current (its applied watermark is the outer
    * timeline's latest data instant). A stale index could miss a
    * containment written since — a false negative — so staleness returns
    * None (no pruning) instead of syncing: query planning must never
    * write, and writers keep the index current eagerly.
    */
  def probeCurrentReadOnly(t: GraftTable, name: String,
      values: Seq[String]): Option[Set[(String, String)]] =
    try {
      val d = specOf(t.cfg, name).map(descriptor(t, _)).getOrElse(return None)
      if (values.isEmpty || !TableConfig.exists(d.path)) return None
      val inner = GraftTable.load(t.spark, d.path.toString)
      val latest = t.timeline.completedDataInstants().lastOption.map(_.ts)
      if (latest.isEmpty || DerivedIndex.lastApplied(inner, d) != latest) return None
      Some(DerivedIndex.probe(t, inner, d, values))
    } catch {
      case NonFatal(e) =>
        log.warn(s"read-only secondary probe failed for ${t.basePath}/$name " +
          s"(no pruning this query): $e")
        None
    }
}
