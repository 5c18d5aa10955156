package graft.run

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import graft.table.TableIO

/** Periodic iteration-state checkpointing for the iterative algorithms
  * (SURVEY.md §2.9): every `every`-th iteration the state DataFrame is
  * committed as a table snapshot with per-partition lineage + metrics, so a
  * killed run resumes mid-algorithm from the latest snapshot and converges
  * to the identical result (north rule resumability requirement).
  *
  * A loop writes its snapshots through a [[SnapshotWriter]], which runs each
  * one while the next iterations run: at most one snapshot is in flight, and
  * the state it reads is released only once it is joined ([[Iterate]]). */
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
  * time, each on a short-lived daemon thread; `delta` reads the value each
  * snapshot records from its step's observed row. The thread is started
  * from the loop thread, so its jobs inherit that thread's Spark local
  * properties (job group, scheduler pool, tags). A snapshot's failure is
  * rethrown by the join that follows it. Used by one loop thread only. */
private[graft] final class SnapshotWriter(checkpoint: IterationCheckpoint, delta: Row => Double) {
  private var inFlight: Thread = _
  private var reads: Set[Int] = Set.empty
  private var held: List[Dataset[_]] = Nil
  private var failure: Throwable = _

  /** Join the snapshot in flight if it has ended or `iteration` is due,
    * then start the snapshot of `state` if `iteration` is due. */
  def afterStep(iteration: Int, observed: Row, state: DataFrame): Unit = {
    val due = checkpoint.due(iteration)
    if (inFlight != null && (due || !inFlight.isAlive)) await()
    if (due) {
      reads = checkpointRdds(state)
      val t = new Thread(() =>
        try checkpoint.write(iteration, delta(observed), state)
        catch { case e: Throwable => failure = e }, s"graft-snapshot-$iteration")
      t.setDaemon(true)
      t.start()
      inFlight = t
    }
  }

  /** Release `ds` ([[Iterate.release]]) now, or when the snapshot in flight
    * is joined if it reads `ds`'s checkpoint blocks (a released checkpoint
    * cannot be recomputed). */
  def release(ds: Dataset[_]): Unit = if (checkpointRdds(ds).exists(reads)) held ::= ds else Iterate.release(ds)

  /** Join the snapshot in flight, release what it held, and rethrow its
    * failure. */
  def await(): Unit = if (inFlight != null) {
    inFlight.join()
    inFlight = null
    reads = Set.empty
    held.foreach(Iterate.release)
    held = Nil
    val f = failure
    failure = null
    if (f != null) throw f
  }

  private def checkpointRdds(ds: Dataset[_]): Set[Int] =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
}
