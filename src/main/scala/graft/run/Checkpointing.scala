package graft.run

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import graft.table.TableIO

/** Periodic iteration-state checkpointing for the iterative algorithms
  * (SURVEY.md §2.9): every `every`-th iteration the state DataFrame is
  * committed as a table snapshot with per-partition lineage + metrics, so a
  * killed run resumes mid-algorithm from the latest snapshot and converges
  * to the identical result (north rule resumability requirement).
  *
  * A loop writes its snapshots through a [[SnapshotWriter]], which runs each
  * one while the next iteration runs: at most one snapshot is in flight, and
  * it is joined before the loop releases the vector it reads, before the
  * next snapshot starts and before the loop returns. */
final case class IterationCheckpoint(root: String, every: Int = 5) {

  def due(iteration: Int): Boolean = every > 0 && iteration % every == 0

  def write(iteration: Int, delta: Double, state: DataFrame): Unit = {
    TableIO.commit(state, root, iteration, Map("delta" -> delta))
    ()
  }

  /** Latest committed (iteration, state) if any. */
  def latest(spark: SparkSession): Option[(Int, DataFrame)] =
    TableIO.readLatest(spark, root).map { case (m, df) => (m.iteration, df) }

  def lineage: Seq[TableIO.Manifest] = TableIO.lineage(root)
}

/** Writes `checkpoint`'s snapshots off the loop's critical path, one at a
  * time, each on a short-lived daemon thread. The thread is started from the
  * loop thread, so its jobs inherit that thread's Spark local properties
  * (job group, scheduler pool, tags). A snapshot's failure is rethrown by
  * the join that follows it. Used by one loop thread only. */
private[graft] final class SnapshotWriter(checkpoint: IterationCheckpoint) {
  private var inFlight: Thread = _
  private var reads: Set[Int] = Set.empty
  private var failure: Throwable = _

  /** After joining the snapshot in flight, start the snapshot of `state` if
    * `iteration` is due. */
  def maybeStart(iteration: Int, delta: Double, state: DataFrame): Unit =
    if (checkpoint.due(iteration)) {
      await()
      reads = checkpointRdds(state)
      val t = new Thread(() =>
        try checkpoint.write(iteration, delta, state)
        catch { case e: Throwable => failure = e }, s"graft-snapshot-$iteration")
      t.setDaemon(true)
      t.start()
      inFlight = t
    }

  /** Join the snapshot in flight if it reads `ds`'s checkpoint blocks; call
    * before releasing `ds` (a released checkpoint cannot be recomputed). */
  def beforeRelease(ds: Dataset[_]): Unit = if (checkpointRdds(ds).exists(reads)) await()

  /** Join the snapshot in flight, rethrowing its failure. */
  def await(): Unit = if (inFlight != null) {
    inFlight.join()
    inFlight = null
    reads = Set.empty
    val f = failure
    failure = null
    if (f != null) throw f
  }

  private def checkpointRdds(ds: Dataset[_]): Set[Int] =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
}
