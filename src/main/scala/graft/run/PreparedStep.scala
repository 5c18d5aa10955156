package graft.run

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, GraftPlanBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.storage.StorageLevel

/** One loop step planned once. The step's physical
  * plan is prepared from its first input, a local checkpoint, and every
  * iteration runs a copy of it with two things re-bound: the checkpoint RDD
  * the step reads (matched by identity, so each ancestor of that leaf, and
  * with it every exchange and the metrics collector, is a fresh copy), and
  * the step's [[PreparedStep.scalar]]. Each run is one SQL action named
  * `localCheckpoint` that stores the new state serialized and returns it as
  * a local checkpoint with the same schema as the input, so the next
  * iteration can read it in place of the input. */
private[graft] final class PreparedStep private (step: DataFrame, plan: SparkPlan, leaf: RDD[InternalRow]) {

  /** Run the step over `input` (the step's first input or an earlier run's
    * output) with its scalar bound to `scalar`: returns the new state and the
    * observed metrics, in argument order, read off that same job. */
  def run(input: DataFrame, scalar: Double): (DataFrame, Row) = {
    val current = PreparedStep.checkpointRdd(input)
    val bound = plan
      .transformUp { case s: RDDScanExec if s.rdd eq leaf => s.copy(rdd = current) }
      .transformAllExpressions { case _: StepScalar => StepScalar(scalar) }
    val next = GraftPlanBridge.localCheckpoint(step, bound, StorageLevel.MEMORY_AND_DISK_SER)
    // the collector's accumulator is merged on the driver before the job
    // returns, so no listener wait
    (next, bound.collectFirst { case c: CollectMetricsExec => c.collectedMetrics }.get)
  }
}

private[graft] object PreparedStep {

  /** A double that [[PreparedStep.run]] binds anew every iteration. Its
    * generated code reads the value by reference, so a re-bound plan
    * generates the same source and compiles nothing. */
  def scalar: Column = GraftColumnBridge.column(StepScalar(0.0))

  /** Prepare `step`, a frame over `input` (a local checkpoint whose RDD the
    * step reads) with the aggregate `metrics` observed on it; the `drop`
    * columns are observed but not stored. The step must keep the input's
    * columns and partitioning (its exchanges are planned with the input's
    * partition count), or this throws. */
  def apply(input: DataFrame, step: DataFrame, metrics: Seq[Column], drop: Seq[String] = Nil): PreparedStep = {
    val observed = step.observe("graft_step", metrics.head, metrics.tail: _*).drop(drop: _*)
    def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    require(columns(observed) == columns(input),
      s"a step must keep its input's columns: ${observed.schema.simpleString} vs ${input.schema.simpleString}")
    val leaf = checkpointRdd(input)
    // the step shuffles into as many partitions as its input has, so its
    // output can be laid out as the input is
    val plan = GraftPlanBridge.prepare(observed, Some(leaf.getNumPartitions))
    val scans = plan.collect { case s: RDDScanExec if s.rdd eq leaf => s }
    require(scans.nonEmpty, "the prepared step does not read its input's checkpoint")
    // each run's output is re-bound into these scans, and the plan above
    // them (a co-partitioned join, say) relies on the layout they declare
    for (s <- scans) {
      val out = GraftPlanBridge.renamed(plan.outputPartitioning, plan.output, s.output)
      require(out == s.outputPartitioning,
        s"a step must keep its input's partitioning: $out vs ${s.outputPartitioning}")
    }
    new PreparedStep(observed, plan, leaf)
  }

  /** `df` (a plain projection of a query) stored serialized as a local
    * checkpoint, in one SQL action with its plan prepared as every step's
    * is: a loop's first input, which [[apply]] then re-binds away from. */
  def checkpoint(df: DataFrame): DataFrame =
    GraftPlanBridge.localCheckpoint(df, GraftPlanBridge.prepare(df), StorageLevel.MEMORY_AND_DISK_SER)

  private def checkpointRdd(df: DataFrame): RDD[InternalRow] = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd
    case other => throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
  }
}

/** See [[PreparedStep.scalar]]. */
private[run] final case class StepScalar(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stepScalar", java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();", isNull = FalseLiteral)
  }
}
