package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.Assertions._

/** Failure-path checks for the loops: make a step fail, then check that the
  * error propagates and nothing the loop persisted is left behind. */
object FailureChecks {

  /** Asserts that `body` throws an error with `message` in its cause chain
    * and leaves no RDD persisted that was not persisted before it ran. */
  def assertFailsWithoutLeak(spark: SparkSession, message: String)(body: => Any): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[Exception](body)
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains(message)), err)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"left persisted RDDs $left")
  }

  /** Runs `body` with an optimizer rule that throws `message` on the first
    * plan reading a local checkpoint, and asserts that the rule fired. */
  def failingFirstCheckpointRead(spark: SparkSession, message: String)(body: => Unit): Unit = {
    val fired = new AtomicBoolean(false)
    object FailOnCheckpointRead extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (plan.exists(_.isInstanceOf[LogicalRDD]) && fired.compareAndSet(false, true))
          throw new IllegalStateException(message)
        plan
      }
    }
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(FailOnCheckpointRead)
    try body
    finally spark.experimental.extraOptimizations = rules
    assert(fired.get, "no plan read a local checkpoint")
  }
}
