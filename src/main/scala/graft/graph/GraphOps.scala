package graft.graph

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared edge-table plumbing (SURVEY.md §1.3, §4).
  *
  * The reference stores undirected graphs as two directed half-edges per edge
  * (reference `loading.c:407-425`); [[symmetrize]] mirrors that. Degrees mirror
  * reference `graph.c:72-79`. All operators are pure DataFrame transforms so
  * Catalyst handles pushdown/pruning; partitioning is made explicit where an
  * iteration will reuse it (hash partition by the join key once, then every
  * per-iteration join is exchange-free on that side).
  */
object GraphOps {

  /** Normalize an arbitrary two-column frame into a canonical directed edge
    * table (long src/dst, no self-loops, deduplicated). */
  def canonicalEdges(edges: DataFrame): DataFrame = endpoints(edges).distinct()

  /** [[canonicalEdges]] without the dedupe, for callers that dedupe later
    * anyway (each `distinct` is an exchange of its own). */
  private[graft] def endpoints(edges: DataFrame): DataFrame =
    edges
      .select(col(edges.columns(0)).cast("long").as("src"), col(edges.columns(1)).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))

  /** Free the storage behind a superseded iteration frame. Cached plans
    * unpersist through the CacheManager, but a localCheckpoint'd frame holds
    * its blocks on the INTERNAL checkpointed RDD inside the LogicalRDD leaf,
    * which `Dataset.unpersist` cannot reach — without this, every superseded
    * per-iteration checkpoint stays resident until a driver GC collects the
    * weak reference (the leak class behind round 2's eviction-recompute
    * cascades). Call ONLY on frames no still-live plan references: a
    * released checkpoint's lineage is truncated and cannot be recomputed. */
  private[graft] def releaseCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit = {
    ds.unpersist(false)
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** Run `action` on `df` with the aggregate `metrics` observed on it and
    * return its result with the observed row (metrics in argument order),
    * so the metrics cost no second action. Callers keep the observation in
    * the action's result stage (no exchange above it), where accumulator
    * updates apply once per partition even when a stage is retried. */
  private[graft] def withObservation[T](df: DataFrame, metrics: Seq[Column])(action: DataFrame => T): (T, Row) = {
    val obs = Observation()
    val out = action(df.observe(obs, metrics.head, metrics.tail: _*))
    // metrics reach the Observation through the listener bus; bound the wait
    // so an event the bus dropped fails the step instead of hanging it
    (out, Await.result(obs.future, 5.minutes))
  }

  /** Eagerly localCheckpoint `df` minus the `drop` columns and read the
    * aggregate `metrics` over `df` off that same job ([[withObservation]]),
    * so a loop's per-step scalars (a convergence delta, a count) cost no
    * second action. */
  private[graft] def checkpointObserved(df: DataFrame, metrics: Seq[Column],
      drop: Seq[String] = Nil): (DataFrame, Row) =
    withObservation(df, metrics)(_.drop(drop: _*).localCheckpoint(true))

  /** Both directed half-edges per undirected edge (reference `loading.c:418-425`). */
  def symmetrize(edges: DataFrame): DataFrame = bothDirections(edges).distinct()

  /** [[symmetrize]] without the dedupe, for callers that repartition before
    * deduping (a hash partitioning on either column satisfies the distinct,
    * so the two share one exchange). */
  private[graft] def bothDirections(edges: DataFrame): DataFrame = {
    val e = endpoints(edges)
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Distinct vertex ids appearing as either endpoint. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("vid")).union(edges.select(col("dst").as("vid"))).distinct()

  /** Undirected degree per vertex (reference `graph.c:72-79`).
    * Map-side partial aggregation makes this skew-tolerant for hub vertices. */
  def degrees(edges: DataFrame): DataFrame =
    symmetrize(edges).groupBy(col("src").as("vid")).agg(count(lit(1)).as("degree"))

  /** Neighborhood generator (reference `executables/neighborhoodGenerator.c`,
    * help `neighborhoodGeneratorHelp.txt`): explode each vertex's 1-hop
    * ego-net into its own graph, keyed by `center`. `disk=false` is the
    * "neighbors" mode (subgraph induced on the open neighborhood N(c));
    * `disk=true` additionally keeps the spokes (c, x).
    *
    * Plan: an ego edge (c, a-b) is exactly a triangle {c,a,b}, so the rows
    * are the 3 center-rotations of the degree-ORIENTED triangle enumeration
    * ([[graft.algo.Triangles.enumerate]]). Unlike the round-1 wedge
    * self-join (a degree-d hub generated d² wedge candidates before the
    * existence check), no intermediate exceeds O(m^1.5): hub skew is
    * bounded by the orientation argument, and the output itself is the only
    * triangle-sized thing materialized. */
  def egoNets(edges: DataFrame, disk: Boolean = false): DataFrame = {
    // one pass over the triangle enumeration: emit the 3 center-rotations of
    // each triangle with a single in-place explode (three unioned scans of
    // the enumeration would re-run its intersection joins three times)
    val tri = graft.algo.Triangles.enumerate(edges.sparkSession, edges)
    // The rotation explode is over a CONSTANT 3-int array, with the actual
    // columns picked by codegen'd CASE projections afterwards: the previous
    // array-of-structs explode allocated an ArrayData of three 3-field rows
    // per triangle — at web densities the enumeration output is the largest
    // frame in the query, so that per-row allocation dominated the wall
    // clock (round-4 verdict: watchdog-killed under contention at sf0.1).
    val rot = col("rot")
    val ego = tri
      .select(col("a"), col("b"), col("c"),
        explode(array(lit(0), lit(1), lit(2))).as("rot"))
      .select(
        when(rot === 0, col("a")).when(rot === 1, col("b")).otherwise(col("c")).as("center"),
        when(rot === 0, least(col("b"), col("c"))).when(rot === 1, least(col("a"), col("c")))
          .otherwise(least(col("a"), col("b"))).as("src"),
        when(rot === 0, greatest(col("b"), col("c"))).when(rot === 1, greatest(col("a"), col("c")))
          .otherwise(greatest(col("a"), col("b"))).as("dst"))
    if (!disk) ego
    else {
      val sym = symmetrize(edges)
      ego.union(sym.select(col("src").as("center"),
        least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst")))
    }
  }

  /** Number of shuffle partitions configured on the session; the engine keys
    * every iteration-reused exchange off this single knob. */
  def defaultParallelism(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
}
