package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State shared by a workload and the runner: the session, the tracer, op
  * accounting and the samples the metrics are computed from.
  *
  * Every call into the library goes through [[op]]. A call that throws is
  * logged with its exception, counted as failed and not timed.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val tables: Path,
    val tiny: Boolean) {

  /** True while the measured phase runs; set-up and warm-up calls are not sampled. */
  var timed = false
  var attempted = 0
  var failed = 0
  val mismatches: ArrayBuffer[String] = ArrayBuffer.empty

  /** Op kind -> wall seconds of each measured call. */
  val samples: mutable.Map[String, ArrayBuffer[Double]] = mutable.Map.empty
  /** Input rows of the measured write calls. */
  var ingestRows = 0L
  /** Seconds in measured write, table-service and sync calls. */
  var ingestSeconds = 0.0
  /** Bytes written under the table directories during the measured phase. */
  var writtenBytes = 0L
  /** Parquet bytes of the input batches written during the measured phase. */
  var inputBytes = 0L

  private var listing = Listing(Map.empty)

  def traced: Boolean = tracer.on

  /** Kinds of call that count as ingest work (write, table service, sync). */
  private val IngestKinds = Set("commit", "sync", "clean", "compact")

  /** Run one call, timed from entry to return. `rows` is the number of
    * input rows a write call consumes.
    */
  def op[T](kind: String, rows: Long = 0L)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.span("op." + kind)(f)
      val secs = (System.nanoTime() - t0) / 1e9
      if (timed) {
        samples.getOrElseUpdate(kind, ArrayBuffer.empty) += secs
        if (IngestKinds(kind)) {
          ingestRows += rows
          ingestSeconds += secs
        }
      }
      Some(out)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[lifecycle-bench] $kind call failed: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  def mismatch(what: String): Unit = {
    System.err.println(s"[lifecycle-bench] MISMATCH: $what")
    mismatches += what
  }

  /** Re-list the table directories after a call that may write; returns
    * (bytes written, files written, files deleted) since the last listing.
    */
  def relist(): (Long, Int, Int) = {
    val now = Listing.of(tables)
    val d = now.since(listing)
    listing = now
    if (timed) writtenBytes += d._1
    d
  }

  /** Attach counts to the most recent span of this name, when tracing. */
  def attr(span: String, kv: (String, Double)*): Unit =
    if (traced) tracer.last(span).foreach(s => kv.foreach { case (k, v) => s.attrs(k) = v })
}
