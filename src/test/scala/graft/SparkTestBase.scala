package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One local SparkSession shared by all suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    StallWatchdog.start()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")

  def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), prefix)
    p.toFile.deleteOnExit()
    p
  }

  val sf001 = "/root/testdata/sf0.001"
}

/** Stall watchdog for a test JVM: one daemon thread samples the process
  * CPU time every minute. When it grew by less than one second over the
  * last 5 minutes, the JVM is stuck — a deadlock or a lost wake-up, not
  * slow work — so every thread's stack with its lock owners goes to
  * stderr, once per stall. It only prints: it fails no test and changes
  * no timeout.
  */
object StallWatchdog {
  private val minCpuNanos = 1000000000L
  private val intervalMs = 60000L
  private val window = 5

  def start(): Unit =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = new Thread(() => {
          val samples = scala.collection.mutable.Queue(os.getProcessCpuTime)
          var reported = false
          while (true) {
            Thread.sleep(intervalMs)
            samples.enqueue(os.getProcessCpuTime)
            if (samples.size > window + 1) samples.dequeue()
            val stalled = samples.size == window + 1 &&
              samples.last - samples.head < minCpuNanos
            if (stalled && !reported)
              System.err.print(threadDump())
            reported = stalled
          }
        }, "graft-test-stall-watchdog")
        t.setDaemon(true)
        t.start()
      case _ => () // no process CPU clock on this JVM
    }

  /** Every thread's full stack (ThreadInfo.toString stops at 8 frames),
    * with the lock each one waits on, its owner, and the locks it holds.
    */
  private def threadDump(): String = {
    val sb = new StringBuilder(
      s"[stall-watchdog] under 1 s of process CPU in the last ${intervalMs * window / 1000} s; thread dump:\n")
    ManagementFactory.getThreadMXBean.dumpAllThreads(true, true).foreach { ti =>
      sb ++= s"\"${ti.getThreadName}\" id=${ti.getThreadId} ${ti.getThreadState}"
      Option(ti.getLockName).foreach(l => sb ++= s" on $l")
      Option(ti.getLockOwnerName).foreach(o =>
        sb ++= s" owned by \"$o\" id=${ti.getLockOwnerId}")
      sb += '\n'
      ti.getStackTrace.zipWithIndex.foreach { case (frame, depth) =>
        sb ++= s"\tat $frame\n"
        ti.getLockedMonitors.filter(_.getLockedStackDepth == depth)
          .foreach(m => sb ++= s"\t- locked $m\n")
      }
      ti.getLockedSynchronizers.foreach(l => sb ++= s"\t- locked synchronizer $l\n")
      sb += '\n'
    }
    sb.toString
  }
}
