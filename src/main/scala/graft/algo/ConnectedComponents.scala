package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps

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
  * Scale design: each round is two groupBy-min + join passes; `min` is
  * algebraic so map-side combine absorbs hub skew. Rounds converge in
  * O(log n). Termination = the edge set reached a fixpoint, detected with
  * the edge count observed on each round's checkpoint job and confirmed by
  * an exact anti-join only when the count says "stable" (so the expensive
  * check runs once). One action per round.
  */
object ConnectedComponents {

  /** (vid, component) for every vertex that appears in `edges`; direction is
    * ignored (reference graphs store undirected edges as two half-edges). */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val p = GraphOps.defaultParallelism(spark)
    val initial = GraphOps.canonicalEdges(edges)
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .distinct()
      .repartition(p, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allVerts = GraphOps.vertices(initial).persist(StorageLevel.MEMORY_AND_DISK)
    allVerts.count()

    var e = initial
    var eCount = e.count() // carried across rounds
    var round = 0
    var converged = eCount == 0L
    while (!converged && round < maxRounds) {
      // localCheckpoint truncates the per-round lineage growth (the iterative
      // analogue of GraphFrames' checkpoint interval); the same eager job
      // observes the round's edge count for the convergence test below.
      val (ss, stats) = GraphOps.checkpointObserved(smallStar(largeStar(e)), Seq(functions.count(lit(1))))
      // Stable iff the (src,dst) set is unchanged; both sides are distinct
      // sets here so equal counts + empty anti-join is an exact test.
      val ssCount = stats.getLong(0)
      converged = ssCount == eCount && ss.join(e, Seq("src", "dst"), "left_anti").isEmpty
      // `ss` is already checkpoint-materialized, so the superseded round's
      // CHECKPOINT blocks can be freed (plain unpersist cannot reach them)
      if (e ne initial) GraphOps.releaseCheckpoint(e)
      e = ss
      eCount = ssCount
      round += 1
    }

    // Star edges point child -> root (src > dst); roots label themselves.
    // Eagerly checkpointed so every internal frame (the edge cache, the
    // vertex set, the final star round) can be released before returning —
    // the caller gets exactly ONE materialized result frame, same contract
    // as the miners' output.
    val labels = allVerts
      .join(e.select(col("src").as("vid"), col("dst").as("component")), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
      .localCheckpoint(true)
    initial.unpersist(false)
    allVerts.unpersist(false)
    if (e ne initial) GraphOps.releaseCheckpoint(e)
    labels
  }

  /** large-star(u): connect every neighbor v > u to m = min(Γ(u) ∪ {u}). */
  private[algo] def largeStar(e: DataFrame): DataFrame = {
    val b = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = b.groupBy("src").agg(least(min(col("dst")), col("src").cast("long")).as("m"))
      .select(col("src"), col("m"))
    b.where(col("dst") > col("src"))
      .join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star(u): connect every neighbor v <= u (and u itself) to
    * m = min(Γ≤(u) ∪ {u}). Input edges already satisfy src > dst. */
  private[algo] def smallStar(e: DataFrame): DataFrame = {
    val b = e.select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
    val m = b.groupBy("src").agg(min(col("dst")).as("m"))
    b.join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(m.select(col("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .distinct()
  }

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
    val e = GraphOps.canonicalEdges(edges)
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
