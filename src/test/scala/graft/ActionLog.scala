package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records every SQL action the session runs while registered, as
  * (funcName, QueryExecution) in completion order. Listener events arrive
  * asynchronously, so every read first drains the listener bus. Counts SQL
  * actions, not Spark jobs: under AQE one action runs one job per stage. */
final class ActionLog private (spark: SparkSession) extends QueryExecutionListener with AutoCloseable {
  private val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(funcName -> qe)
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(funcName -> qe)

  /** Every recorded action, including those whose events were still queued. */
  def entries: Seq[(String, QueryExecution)] = {
    TestListenerBus.drain(spark.sparkContext)
    seen.asScala.toSeq
  }

  def names: Seq[String] = entries.map(_._1)

  def close(): Unit = {
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
  }
}

object ActionLog {
  /** Run `body` with a fresh log registered; the log is unregistered after. */
  def during[T](spark: SparkSession)(body: ActionLog => T): T = {
    // an action that returned before the log existed may still have its
    // event queued; deliver it first so the new log cannot record it
    TestListenerBus.drain(spark.sparkContext)
    val log = new ActionLog(spark)
    spark.listenerManager.register(log)
    try body(log) finally log.close()
  }
}
