package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Bridge into Spark's `private[sql]` planning and execution entry points
  * for a loop that plans its step once and runs a copy of that physical plan
  * every iteration ([[graft.run.PreparedStep]]). Pinned to Spark 4.1.2. */
object GraftPlanBridge {

  /** `df`'s physical plan, prepared for execution WITHOUT adaptive execution
    * whatever the session says: an adaptive plan re-plans its later stages
    * from the logical plan, which still holds the leaf a copy was re-bound
    * away from. Prepared as a subquery, so no exchange is replaced by a
    * reuse node that a re-binding could not reach. The exchanges it adds
    * have `shufflePartitions` partitions if given, else the session's count. */
  def prepare(df: DataFrame, shufflePartitions: Option[Int] = None): SparkPlan = {
    val qe = df.queryExecution
    val planned = qe.sparkPlan
    // the preparation rules read `SQLConf.get`, which on a driver thread
    // returns this conf first; the session's own conf is left as it is
    val conf = qe.sparkSession.sessionState.conf.clone()
    conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    shufflePartitions.foreach(conf.setConf(SQLConf.SHUFFLE_PARTITIONS, _))
    SQLConf.withExistingConf(conf)(QueryExecution.prepareExecutedPlan(qe.sparkSession, planned))
  }

  /** `p` with each attribute of `from` replaced by the one at the same
    * position of `to`. */
  def renamed(p: Partitioning, from: Seq[Attribute], to: Seq[Attribute]): Partitioning = p match {
    case e: Expression =>
      val rename = AttributeMap(from.zip(to))
      e.transform { case a: Attribute => rename.getOrElse(a, a) }.asInstanceOf[Partitioning]
    case other => other
  }

  /** Run `plan` (`prepare(df)` or a re-bound copy of it) as one SQL action
    * named `localCheckpoint` that stores its rows at `level` as a local
    * checkpoint, and return a frame over them with fresh attributes, `plan`'s
    * output partitioning and `df`'s size estimate. A failed job leaves no
    * block behind. */
  def localCheckpoint(df: DataFrame, plan: SparkPlan, level: StorageLevel): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = new PreparedExecution(session, df.queryExecution.logical, plan)
    val rdd = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = plan.execute().map(_.copy())
      rdd.persist(level).localCheckpoint()
      try rdd.count()
      catch { case t: Throwable => rdd.unpersist(false); throw t }
      rdd
    }
    frame(session, plan, rdd, df.queryExecution.optimizedPlan.stats)
  }

  private def frame(session: classic.SparkSession, plan: SparkPlan, rdd: RDD[InternalRow],
      stats: Statistics): DataFrame = {
    val output = plan.output.map(_.newInstance())
    val partitioning = renamed(plan.outputPartitioning, plan.output, output)
    classic.Dataset.ofRows(session, LogicalRDD(output, rdd, partitioning)(session,
      Some(Statistics(stats.sizeInBytes, stats.rowCount))))
  }

  /** A query execution whose physical plan is given, so running it neither
    * analyzes, optimizes nor plans anything. */
  private class PreparedExecution(session: classic.SparkSession, logical: LogicalPlan, plan: SparkPlan)
      extends QueryExecution(session, logical) {
    override def sparkPlan: SparkPlan = plan
    override def executedPlan: SparkPlan = plan
  }
}
