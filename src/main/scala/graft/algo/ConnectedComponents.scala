package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps
import graft.run.Iterate

/** Connected components via alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond" —
  * the formulation BASELINE.json's north rule mandates).
  *
  * Reference semantics being matched: every vertex is labeled with its
  * component (reference `connectedComponents.c:25-35` `markComp`,
  * `listComponents.c:306-319`). The reference numbers components by
  * first-visit order of a sequential DFS; the distributed canonical label is
  * the component's minimum vertex id. Tests compare the *partition* and also
  * normalize min-vid labels to first-visit numbering for exact-id agreement
  * (SURVEY.md §2.8.1).
  *
  * Scale design: a round is 3 exchanges and reads the previous round's
  * checkpoint once per direction of large-star's union. Each star is one
  * exchange: the per-vertex minimum rides on every edge row as a window
  * `min` over `src` (a `groupBy` min joined back onto the edges re-scans the
  * input once per reference, Spark reuses no exchange there), and the dedupe
  * is `repartition(p, src).distinct()`, whose hash partitioning serves the
  * next window too. Hub skew: all edge rows of a hub go to (and are sorted
  * in) the one task owning its `src`, as under the join-back's sort-merge
  * join; no map-side combine shrinks them. Rounds converge in O(log n).
  * The rounds run in [[graft.run.Iterate]], one action per round: each
  * round's checkpoint job observes its edge count, and the stop test (a
  * fixpoint of the edge set) confirms equal counts with an exact anti-join
  * of the two checkpoints, so the expensive check runs once.
  */
object ConnectedComponents {

  /** (vid, component) for every vertex that appears in `edges`; direction is
    * ignored (reference graphs store undirected edges as two half-edges). */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val p = GraphOps.defaultParallelism(spark)
    val initial = dedupe(GraphOps.endpoints(edges)
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst")), p)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allVerts = GraphOps.vertices(initial).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      allVerts.count()
      var edgeCount = initial.count() // the previous round's, for the stop test
      // Stable iff the (src,dst) set is unchanged; both sides are distinct
      // sets here so equal counts + empty anti-join is an exact test.
      val stars = Iterate(initial, 0, if (edgeCount == 0L) 0 else maxRounds, stop = (prev, next, stats) => {
        val stable = stats.getLong(0) == edgeCount && next.join(prev, Seq("src", "dst"), "left_anti").isEmpty
        edgeCount = stats.getLong(0)
        stable
      })(e => GraphOps.checkpointObserved(smallStar(largeStar(e, p), p), Seq(functions.count(lit(1)))))

      // Star edges point child -> root (src > dst); roots label themselves.
      // Eagerly checkpointed so every internal frame (the edge cache, the
      // vertex set, the final star round) can be released before returning —
      // the caller gets exactly ONE materialized result frame, same contract
      // as the miners' output.
      try allVerts
        .join(stars.state.select(col("src").as("vid"), col("dst").as("component")), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
        .localCheckpoint(true)
      finally Iterate.release(stars.state)
    } finally {
      initial.unpersist(false)
      allVerts.unpersist(false)
    }
  }

  private val byVertex = Window.partitionBy("src")

  /** Hash partitioning on `src` satisfies the distinct's clustering, so this
    * is one exchange. */
  private def dedupe(e: DataFrame, p: Int): DataFrame = e.repartition(p, col("src")).distinct()

  /** large-star(u): connect every neighbor v > u to m = min(Γ(u) ∪ {u}). */
  private[algo] def largeStar(e: DataFrame, p: Int): DataFrame =
    dedupe(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("m", least(min(col("dst")).over(byVertex), col("src")))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst")), p)

  /** small-star(u): connect every neighbor v <= u (and u itself) to
    * m = min(Γ≤(u) ∪ {u}). Input edges satisfy src > dst and are hash
    * partitioned by src, so the window needs no exchange. The window is a
    * column of its own: inside `explode` it fails analysis on Spark 4.1. */
  private[algo] def smallStar(e: DataFrame, p: Int): DataFrame =
    dedupe(e.withColumn("m", min(col("dst")).over(byVertex))
      .select(explode(array(struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .where(col("src") =!= col("dst")), p)

  /** gf `-f numberOfConnectedComponents` equivalent
    * (reference `listComponents.c:306-319`). */
  def count(spark: SparkSession, edges: DataFrame): Long =
    run(spark, edges).select(countDistinct("component")).head().getLong(0)

  /** Materialized components — the reference's `listConnectedComponents`
    * OUTPUT shape (reference `connectedComponents.c:52-77` main: per
    * component its edge set is printed; isolated vertices form singleton
    * components): per component the vertex count, edge count, and the
    * isolated flag. `vertices` supplies the full vertex universe so
    * edge-free vertices appear as singletons (the labels-only `run` can't
    * see them). Component id = min member vid. */
  def materialized(spark: SparkSession, edges: DataFrame, vertices: DataFrame): DataFrame = {
    val labels = run(spark, edges) // (vid, component) for edge-touching vertices
    val allV = vertices.select(col(vertices.columns(0)).cast("long").as("vid")).distinct()
    val withIso = allV
      .join(labels, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
    val vCounts = withIso.groupBy("component").agg(org.apache.spark.sql.functions.count(lit(1)).as("n_vertices"))
    val e = GraphOps.endpoints(edges)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val eCounts = e
      .join(labels.select(col("vid").as("a"), col("component")), "a")
      .groupBy("component").agg(org.apache.spark.sql.functions.count(lit(1)).as("n_edges"))
    vCounts.join(eCounts, Seq("component"), "left")
      .select(col("component"), col("n_vertices"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        (col("n_vertices") === 1).as("isolated"))
  }

  /** Normalize arbitrary component labels to the reference's first-visit
    * numbering: components are renumbered 0..k-1 in order of their smallest
    * *position* in the given vertex ordering (for fixture graphs whose vids
    * are the visit order, this equals reference `listComponents.c:306-319`). */
  def normalizeToFirstVisit(labels: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val firstSeen = labels.groupBy("component").agg(min("vid").as("firstVid"))
    // Distributed renumbering: range-partitioned sort + per-partition offsets
    // (zipWithIndex) — at web scale the component count is O(|V|), so a
    // single global unpartitioned window task would funnel everything
    // through one core (round-2 verdict #7).
    val renum = firstSeen.sort("firstVid")
      .select(col("component").cast("long")).as[Long]
      .rdd.zipWithIndex()
      .toDF("component", "normComponent")
    labels.join(renum, "component").select(col("vid"), col("normComponent").as("component"))
  }
}
