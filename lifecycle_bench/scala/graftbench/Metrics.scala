package graftbench

/** Metric definitions. Each metric is (name, value, unit). */
object Metrics {
  /** `metrics` are printed as the run's result; `reads` go to the run record. */
  final case class EndToEnd(metrics: Seq[(String, Double, String)],
      reads: Seq[(String, Double, String)], tails: Map[String, Any])

  /** End-to-end metrics of the measured calls. `strict` records a missing
    * sample set as a mismatch (an untraced run must print every metric).
    */
  def endToEnd(ctx: Ctx, strict: Boolean, setupS: Double, spaceAmp: Double): EndToEnd = {
    val tails = Map.newBuilder[String, Any]
    def need(kind: String): Option[Seq[Double]] = {
      val xs = ctx.samples.get(kind).map(_.toSeq).getOrElse(Nil)
      if (xs.isEmpty && strict) ctx.mismatch(s"no successful '$kind' call was measured")
      Option(xs).filter(_.nonEmpty)
    }
    def p50(name: String, kind: String) = need(kind).map(xs => (name, Stats.median(xs), "s"))
    def tail(name: String, kind: String) = need(kind).map { xs =>
      val (v, pct) = Stats.tail(xs)
      tails += kind -> Map("percentile" -> pct, "n" -> xs.size)
      (name, v, "s")
    }
    val (rows, secs) = (ctx.ingestRows, ctx.ingestSeconds)
    val printed = Seq(
      Some(("setup_s", setupS, "s")),
      p50("commit_p50_s", "commit"),
      tail("commit_tail_s", "commit"),
      Option.when(secs > 0)(("ingest_rows_per_s", rows / secs, "rows/s")),
      p50("lookup_p50_s", "lookup"),
      p50("sync_p50_s", "sync"),
      tail("sync_tail_s", "sync"),
      Option.when(ctx.inputBytes > 0)(("write_amp", ctx.writtenBytes.toDouble / ctx.inputBytes, "ratio")),
      Some(("space_amp", spaceAmp, "ratio"))).flatten
    // read latencies of the workloads that make those reads; kept in the
    // run record only, as not every workload makes them
    def read(name: String, kind: String) =
      ctx.samples.get(kind).filter(_.nonEmpty).map(xs => (name, Stats.median(xs.toSeq), "s"))
    val reads = Seq(read("snapshot_p50_s", "snapshot"), read("ro_p50_s", "ro"),
      read("pruned_p50_s", "pruned"), read("incr_p50_s", "incr"),
      read("timetravel_p50_s", "timetravel")).flatten
    EndToEnd(printed, reads, tails.result())
  }

  /** Per-layer metrics from the spans of a traced run: medians per call.
    * A layer call the workload never makes reads 0.
    */
  def perLayer(ctx: Ctx): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    def named(ns: String*): Seq[Span] = tr.spans.toSeq.filter(s => ns.contains(s.name))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def ms(ns: String*): Double = med(named(ns: _*).map(_.ms))
    def attr(a: String, ns: String*): Double = med(named(ns: _*).flatMap(_.attrs.get(a)))
    def work(ss: Seq[Span])(f: SparkWork => Double): Double = med(ss.map(s => f(tr.workOf(s))))
    val writeCalls = Seq("table.upsert", "table.delete", "table.insert")
    val commitCalls = writeCalls :+ "sql.merge"
    val writes = named(writeCalls: _*)
    val merges = named("sql.merge")
    val lookups = named("table.lookup")
    val snapshots = named("read.snapshot_exec")
    val syncs = named("pipeline.sync")
    Seq(
      ("core.load_ms", ms("core.load"), "ms"),
      ("core.view_fold_ms", ms("core.view_fold"), "ms"),
      ("core.active_instants", attr("active_instants", commitCalls: _*), "count"),
      ("core.file_slices", attr("file_slices", "core.view_fold"), "count"),
      ("core.pending_delta_files", attr("pending_delta_files", "core.view_fold"), "count"),
      ("table.upsert_ms", ms("table.upsert"), "ms"),
      ("table.delete_ms", ms("table.delete"), "ms"),
      ("table.insert_ms", ms("table.insert"), "ms"),
      ("table.commit_jobs", work(writes)(_.jobs.toDouble), "count"),
      ("table.commit_tasks", work(writes)(_.tasks.toDouble), "count"),
      ("table.commit_job_ms", med(writes.map(tr.jobMs)), "ms"),
      ("table.commit_driver_ms", med(writes.map(s => s.ms - tr.jobMs(s))), "ms"),
      ("table.commit_bytes_written", attr("disk_bytes_written", commitCalls: _*), "bytes"),
      ("table.commit_files_written", attr("disk_files_written", commitCalls: _*), "count"),
      ("table.commit_groups_touched", attr("groups_touched", commitCalls: _*), "count"),
      ("table.lookup_ms", ms("table.lookup"), "ms"),
      ("table.lookup_rows_scanned_per_hit", med(lookups.flatMap(s =>
        s.attrs.get("hits").filter(_ > 0).map(h => tr.workOf(s).rowsRead / h))), "rows"),
      ("table.compact_ms", ms("table.compact"), "ms"),
      ("table.compact_bytes_rewritten", attr("disk_bytes_written", "table.compact"), "bytes"),
      ("table.clean_ms", ms("table.clean"), "ms"),
      ("table.clean_files_deleted", attr("disk_files_deleted", "table.clean"), "count"),
      ("sql.merge_ms", ms("sql.merge"), "ms"),
      ("sql.merge_job_ms", med(merges.map(tr.jobMs)), "ms"),
      ("sql.catalog_sync_ms", ms("sql.catalog_sync"), "ms"),
      ("read.snapshot_plan_ms", ms("read.snapshot_plan"), "ms"),
      ("read.snapshot_exec_ms", ms("read.snapshot_exec"), "ms"),
      ("read.scan_bytes", work(snapshots)(_.bytesRead.toDouble), "bytes"),
      ("read.scan_rows", work(snapshots)(_.rowsRead.toDouble), "rows"),
      ("read.pruned_ms", ms("read.pruned"), "ms"),
      ("read.pruned_files_scanned", attr("files_scanned", "read.pruned"), "count"),
      ("read.ro_exec_ms", ms("read.ro_exec"), "ms"),
      ("read.incr_plan_ms", ms("read.incr_plan"), "ms"),
      ("read.incr_exec_ms", ms("read.incr_exec"), "ms"),
      ("read.timetravel_ms", ms("read.timetravel"), "ms"),
      ("pipeline.sync_ms", ms("pipeline.sync"), "ms"),
      ("pipeline.sync_jobs", work(syncs)(_.jobs.toDouble), "count"),
      ("pipeline.sync_job_ms", med(syncs.map(tr.jobMs)), "ms"),
      ("pipeline.sync_driver_ms", med(syncs.map(s => s.ms - tr.jobMs(s))), "ms"),
      ("pipeline.sync_commits", attr("commits", "pipeline.sync"), "count"),
      ("pipeline.sync_bytes_written", attr("disk_bytes_written", "pipeline.sync"), "bytes"))
  }
}
