package org.apache.spark.sql

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test bridge: the query executions of every SQL action that finishes
  * while `body` runs, on any session of the context (a session-scoped
  * `QueryExecutionListener` misses actions planned on child sessions).
  * The end event's `qe` is `private[sql]`, hence this package.
  */
object ExecutionCapture {
  def during[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd if end.qe != null => seen.add(end.qe)
        case _ =>
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
