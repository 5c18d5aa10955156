package graft.run

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.LogicalRDD
import graft.graph.GraphOps

/** The loop of every iterative algorithm (PageRank, connected components,
  * label propagation). Each step turns the current state into the next one,
  * materialized by one action, and returns the scalars it observed on that
  * action as a row.
  *
  * Each step's state is an eager local checkpoint, which cuts the logical
  * plan every step. Measured on the bench harness (BENCH.md): a checkpointed
  * PageRank iteration costs the same executor CPU and wall time as one that
  * only persists, while persist-only iterations regress with distance from
  * the last cut. From the second iteration after a cut, each one re-executed
  * one more upstream 128-task stage (257 -> 385 -> 513 tasks: the
  * InMemoryRelation chained on a LogicalRDD stops being substituted), up to
  * 10x the iteration cost. A cut every step keeps every step flat and lets a
  * superseded state's blocks be released deterministically.
  *
  * Release rules:
  *  - a superseded state is released once its successor has been
  *    materialized and the stop test has read both;
  *  - a state that the snapshot in flight reads is released when that
  *    snapshot is joined: once it has ended, before the next one starts, or
  *    when the loop ends. The loop never waits on a snapshot to release a
  *    state, so a snapshot overlaps as many steps as it takes;
  *  - releasing a state frees its own storage only: its cache entry and, if
  *    it is itself a local checkpoint, that checkpoint's blocks. A frame the
  *    state reads, such as a checkpoint the caller passed in, stays readable;
  *  - the last state is returned to the caller, who releases it. On any
  *    failure the snapshot in flight is joined, every state the loop still
  *    holds (the start included) is released, and the first error is
  *    rethrown. */
private[graft] object Iterate {

  /** The last state, the number of the last step run, the row that step
    * observed (none if no step ran) and each step's seconds. */
  final case class Outcome(state: DataFrame, steps: Int, observed: Option[Row], stepSecs: Seq[Double])

  /** Run steps `from + 1` to at most `until` from `start`, stopping early
    * after the first step whose `stop(prev, next, observed)` holds.
    * `onStepEnd` gets the number of each step run; then `snapshots`, if
    * given, may start a snapshot of the new state. */
  def apply(start: DataFrame, from: Int, until: Int,
      stop: (DataFrame, DataFrame, Row) => Boolean = (_, _, _) => false,
      snapshots: Option[SnapshotWriter] = None,
      onStepEnd: Int => Unit = _ => ())(
      step: DataFrame => (DataFrame, Row)): Outcome = {
    var state = start
    var observed = Option.empty[Row]
    var steps = from
    var stopped = false
    val stepSecs = ArrayBuffer[Double]()
    try {
      while (!stopped && steps < until) {
        val t0 = System.nanoTime()
        val (next, row) = step(state)
        val prev = state
        state = next
        observed = Some(row)
        stopped = try stop(prev, next, row) finally snapshots.fold(release(prev))(_.release(prev))
        steps += 1
        stepSecs += (System.nanoTime() - t0) / 1e9
        onStepEnd(steps)
        snapshots.foreach(_.afterStep(steps, row, state))
      }
      snapshots.foreach(_.await())
      Outcome(state, steps, observed, stepSecs.toSeq)
    } catch {
      case t: Throwable =>
        try snapshots.foreach(_.await()) catch { case s: Throwable => t.addSuppressed(s) }
        release(state)
        throw t
    }
  }

  /** Free `state`'s own storage: the blocks of a local checkpoint
    * ([[GraphOps.releaseCheckpoint]]), else its cache entry only. A released
    * checkpoint cannot be recomputed, so no live plan may still read it. */
  def release(state: Dataset[_]): Unit = state.queryExecution.analyzed match {
    case _: LogicalRDD => GraphOps.releaseCheckpoint(state)
    case _ => state.unpersist(false)
  }
}
