package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchListenerBus, SparkContext}
import org.apache.spark.scheduler._

/** One wrapped call into the library. Times are epoch nanoseconds. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val startNs: Long) {
  var endNs: Long = startNs
  /** Counts measured outside Spark around the call (files, instants, rows). */
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work whose jobs ran under one span's job group. */
final class SparkWork {
  var jobs = 0
  var tasks = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var bytesWritten = 0L
  val jobIntervalsMs: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
}

/** Driver-side spans around the benchmark's calls into the library, plus a
  * listener that tags each Spark job with the innermost open span through
  * the job group. Spans stay in memory until [[finish]]. With `on` false a
  * span is a plain call, so untraced rounds pay nothing but a branch.
  */
final class Tracer(sc: SparkContext) {
  private val GroupPrefix = "lifecycle-bench-span-"
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var open: List[Span] = Nil
  private var ops = 0
  var on = false

  private val lock = new Object
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val work = mutable.Map.empty[Int, SparkWork]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(GroupPrefix)) lock.synchronized {
        val id = g.stripPrefix(GroupPrefix).toInt
        jobSpan(e.jobId) = id
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
        work.getOrElseUpdate(id, new SparkWork).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.get(e.jobId).foreach { id =>
        work(id).jobIntervalsMs += ((jobStartMs(e.jobId), e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).flatMap(jobSpan.get).foreach { id =>
        val w = work(id)
        w.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          w.bytesRead += m.inputMetrics.bytesRead
          w.rowsRead += m.inputMetrics.recordsRead
          w.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  })

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = open.headOption
      val op = parent.map(_.op).getOrElse { ops += 1; ops }
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), op, name, nowNs)
      spans += s
      open = s :: open
      sc.setJobGroup(GroupPrefix + s.id, name)
      try f
      finally {
        s.endNs = nowNs
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The most recent span with this name (to attach counts after the call). */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Wait until every queued listener event is handled. */
  def finish(): Unit = BenchListenerBus.drain(sc)

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  private def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Spark work of a span and every span below it. */
  def workOf(s: Span): SparkWork = lock.synchronized {
    val out = new SparkWork
    subtree(s).flatMap(x => work.get(x.id)).foreach { w =>
      out.jobs += w.jobs
      out.tasks += w.tasks
      out.bytesRead += w.bytesRead
      out.rowsRead += w.rowsRead
      out.bytesWritten += w.bytesWritten
      out.jobIntervalsMs ++= w.jobIntervalsMs
    }
    out
  }

  /** Length of the union of the span's Spark-job intervals, clipped to it. */
  def jobMs(s: Span): Double = {
    val lo = s.startNs / 1e6
    val hi = s.endNs / 1e6
    Trace.unionLength(workOf(s).jobIntervalsMs.toSeq
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) })
  }

  /** Self time per layer: each span's duration minus what its children cover. */
  def selfMsByLayer: Map[String, Double] =
    spans.toSeq.map { s =>
      val covered = Trace.unionLength(children.getOrElse(s.id, Nil)
        .map(c => (c.startNs / 1e6, c.endNs / 1e6)))
      s.layer -> (s.ms - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)

  def spanJson(s: Span): String = {
    val w = workOf(s)
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
      "jobs" -> w.jobs, "tasks" -> w.tasks, "job_ms" -> jobMs(s),
      "bytes_read" -> w.bytesRead, "rows_read" -> w.rowsRead,
      "bytes_written" -> w.bytesWritten) ++ s.attrs.toSeq.sortBy(_._1))
  }
}

object Trace {
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    for ((a, b) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (curLo.isNaN || a > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }
}
