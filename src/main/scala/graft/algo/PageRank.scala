package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps
import graft.run.{IterationCheckpoint, Iterate, PreparedStep, SnapshotWriter}

/** Damped power-iteration PageRank as aggregate-then-join DataFrame message
  * passing (SURVEY.md §2.8.4; BASELINE.json north_rule).
  *
  * Semantics: d = 0.85 (configurable), uniform teleport, dangling-mass
  * redistribution, convergence when the L-infinity delta between successive
  * rank vectors drops below `tol` (default 1e-6, the BASELINE metric's bound).
  * Not present in the reference (its nearest relative is degree-weighted
  * preferential attachment, reference `randomGraphGenerators.c:262-330`);
  * goldens come from [[graft.fixtures.ReferenceOracles.pageRankScalar]].
  *
  * Scale design (one shuffle AND one action per iteration):
  *  - CSR adjacency `adj(src, nbrs, odeg)` (one row per source vertex) is
  *    hash-partitioned by `src` once and persisted; the per-iteration
  *    `ranks ⋈ adj` is a |V|x|V| shuffled-hash join, exchange-free on both sides
  *    because `ranks` exits each iteration hash-partitioned by `vid` (= the
  *    join key) from the previous `groupBy(dst)`. The hash table is built on
  *    the *narrow* ranks side, never on the array-bearing adjacency side.
  *  - the scatter `groupBy(dst).sum` is the single per-iteration shuffle;
  *    `sum` is algebraic so map-side partial aggregation absorbs hub skew
  *    (no salting needed for commutative message combination).
  *  - per iteration: ONE action, the eager local checkpoint materializing
  *    the new vector. The new vector is `prev ⋈left contribs`, so the same
  *    job observes the L-inf delta AND the dangling rank mass of the new
  *    vector; that mass is exactly the scalar the NEXT iteration
  *    redistributes, so no convergence job, no separate dangling-mass job
  *    (and no in-plan broadcast subquery whose exchange would have to be
  *    re-executed) ever runs.
  *  - the iteration is planned ONCE ([[graft.run.PreparedStep]]): set-up
  *    stores the start vector as a checkpoint and prepares the step's
  *    physical plan over it; every iteration runs a copy of that plan with
  *    the previous vector's checkpoint RDD and the redistributed-mass
  *    scalar `base` re-bound, so no iteration analyzes, optimizes, plans or
  *    compiles anything (re-planning the same query took about half of a
  *    0.21 s iteration on `powerLawEdges(6000, 8, 1)`, `local[4]` on 4
  *    vCPUs). The plan is prepared WITHOUT adaptive
  *    execution whatever the session says: an adaptive plan re-plans its
  *    later stages from the logical plan, which still names the start
  *    vector. `base` is read by reference in the generated code, so the
  *    re-bound plan generates the same source every iteration. The step's
  *    exchanges use the vector's partition count (`numPartitions`), not
  *    the session's shuffle partitions, so each new vector is laid out as
  *    the co-partitioned `ranks ⋈ adj` of the next iteration expects.
  *  - checkpoints are stored serialized (MEMORY_AND_DISK_SER): a
  *    deserialized store estimates the size of the growing row buffer with
  *    `SizeEstimator` about log1.1(n) times per partition, which held 64%
  *    of the wall-clock stack samples of an iteration's result tasks on the
  *    same run.
  *  - the loop is [[graft.run.Iterate]] with `delta < tol` as its stop
  *    test: it releases superseded vectors and writes the
  *    [[IterationCheckpoint]] snapshots on a background thread while the
  *    next iterations run ([[graft.run.SnapshotWriter]]). A failed
  *    iteration or snapshot releases every vector, `adj` and `verts`.
  */
object PageRank {

  final case class Result(ranks: DataFrame, iterations: Int, delta: Double, numVertices: Long, numEdges: Long,
      setupSecs: Double = 0.0, iterSecs: Double = 0.0, iterSecsEach: Seq[Double] = Nil) {
    /** Median per-iteration seconds — the robust "sustained" rate (hypervisor
      * steal / GC spikes excluded), per BASELINE.md's median-of-runs rule.
      * The first two iterations are excluded when enough samples exist: they
      * pay one-time costs (cache population, JIT tiering, heap growth) that
      * are not part of the sustained rate. */
    def iterSecsMedian: Double = if (warm.isEmpty) iterSecs else warm(warm.size / 2)
    /** Lower-quartile per-iteration seconds. On a host whose hypervisor
      * steals CPU in multi-minute waves the noise is strictly one-sided
      * (steal only ever ADDS time), so low quantiles estimate the engine's
      * true sustained rate while the median still reflects a typical run —
      * benchmarks report both. */
    def iterSecsP25: Double = if (warm.isEmpty) iterSecs else warm(warm.size / 4)
    /** Fastest warm iteration. Every iteration performs IDENTICAL work (same
      * input, same plan, fixed partitioning), so with strictly one-sided
      * noise (hypervisor steal / GC only ever ADD time) the minimum is the
      * cleanest estimator of the engine's per-iteration floor. */
    def iterSecsMinWarm: Double = if (warm.isEmpty) iterSecs else warm.head
    /** The warm iterations' seconds, sorted: all but the first two when at
      * least six were timed. */
    private lazy val warm = (if (iterSecsEach.size >= 6) iterSecsEach.drop(2) else iterSecsEach).sorted
  }

  def run(
      spark: SparkSession,
      edges: DataFrame,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 200,
      numPartitions: Option[Int] = None,
      checkpoint: Option[IterationCheckpoint] = None,
      onIterationsStart: () => Unit = () => (),
      onIterationEnd: Int => Unit = _ => ()): Result = withHashCsrBuild(spark) {

    val setupT0 = System.nanoTime()
    val p = numPartitions.getOrElse(GraphOps.defaultParallelism(spark))
    // Scanned exactly twice during setup (adj build + vertex set), so cache it.
    val e = GraphOps.canonicalEdges(edges).persist(StorageLevel.MEMORY_AND_DISK)

    // Static structures: CSR adjacency blocks (one row per source vertex,
    // SURVEY.md §4) and the vertex set with a static dangling flag. The
    // per-iteration join is then |V| x |V| on the partition key — the edge
    // fan-out happens map-side via explode, never in the join itself.
    val adj = csr(e, p).persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps
      .vertices(e)
      .join(adj.select(col("src").as("vid"), lit(true).as("hasOut")), Seq("vid"), "left")
      .select(col("vid"), col("hasOut").isNull.as("dangling"))
      .repartition(p, col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    iterate(spark, adj, verts, Seq(e), damping, tol, maxIter, p, checkpoint, onIterationsStart, onIterationEnd,
      setupT0)
  }

  /** Write the static iteration structures (CSR adjacency + vertex/dangling
    * table) to `path`/adj and `path`/verts once, so repeated benchmark or
    * restart runs skip the canonicalize/dedupe/aggregate setup — the
    * "build once, iterate many" shape of a production link-graph store
    * (at scale: the Iceberg-materialized adjacency of SURVEY §4). */
  def writeStatic(spark: SparkSession, edges: DataFrame, path: String): Unit = withHashCsrBuild(spark) {
    val e = GraphOps.canonicalEdges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    // explicit wide partitioning for the one-time build: at a low session
    // shuffle-partition setting the per-task collect_list hash state over
    // ~|V|/p keys is what blows the heap, not the data volume
    val p = math.max(GraphOps.defaultParallelism(spark), 128)
    csr(e, p).write.mode("overwrite").parquet(s"$path/adj")
    val adjKeys = spark.read.parquet(s"$path/adj").select(col("src").as("vid"), lit(true).as("hasOut"))
    GraphOps.vertices(e)
      .join(adjKeys, Seq("vid"), "left")
      .select(col("vid"), col("hasOut").isNull.as("dangling"))
      .write.mode("overwrite").parquet(s"$path/verts")
    e.unpersist(false)
  }

  /** `adj`(src, nbrs, odeg): one row per source vertex of the edges `e`,
    * hash-partitioned by `src` into `p` partitions. */
  private def csr(e: DataFrame, p: Int): DataFrame = e.repartition(p, col("src")).groupBy("src")
    .agg(collect_list(col("dst")).as("nbrs"))
    .select(col("src"), col("nbrs"), size(col("nbrs")).cast("double").as("odeg"))

  /** Runs `body` with collect_list's ObjectHashAggregate kept a hash
    * aggregation: it falls back to sort-based agg after a tiny default key
    * threshold, so the threshold is raised for the one-time CSR build (keys
    * are vertex ids; values are small arrays). The caller's value is put
    * back, or the key unset, when `body` returns or throws. */
  private def withHashCsrBuild[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getAll.get(key) // getOption would read the default as a value
    spark.conf.set(key, "20000000")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Run the iteration loop from [[writeStatic]] output: read + co-partition
    * + persist the two static tables, then the identical per-iteration work
    * as [[run]] (the measured protocol is unchanged — only the one-time
    * setup is cheaper). */
  def runFromStatic(
      spark: SparkSession,
      path: String,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 200,
      numPartitions: Option[Int] = None,
      checkpoint: Option[IterationCheckpoint] = None,
      onIterationsStart: () => Unit = () => (),
      onIterationEnd: Int => Unit = _ => ()): Result = {
    val setupT0 = System.nanoTime()
    val p = numPartitions.getOrElse(GraphOps.defaultParallelism(spark))
    val adj = spark.read.parquet(s"$path/adj")
      .repartition(p, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = spark.read.parquet(s"$path/verts")
      .repartition(p, col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    iterate(spark, adj, verts, Nil, damping, tol, maxIter, p, checkpoint, onIterationsStart, onIterationEnd,
      setupT0)
  }

  /** The damped power-iteration loop over the persisted, co-partitioned
    * `adj`(src, nbrs, odeg) and `verts`(vid, dangling), which it counts
    * first; the `setUp` frames they were built from are unpersisted once
    * both are materialized. */
  private def iterate(spark: SparkSession, adj: DataFrame, verts: DataFrame, setUp: Seq[DataFrame],
      damping: Double, tol: Double, maxIter: Int, p: Int, checkpoint: Option[IterationCheckpoint],
      onIterationsStart: () => Unit, onIterationEnd: Int => Unit, setupT0: Long): Result = try {
    val numEdges = adj.agg(coalesce(sum(size(col("nbrs"))), lit(0))).head().getLong(0)
    val counts = verts.agg(count(lit(1)), count_if(col("dangling"))).head()
    val (n, danglingCount) = (counts.getLong(0), counts.getLong(1))
    setUp.foreach(_.unpersist(false))
    if (n == 0) return Result(spark.emptyDataFrame.select(lit(0L).as("vid"), lit(0.0).as("rank")), 0, 0.0, 0L, 0L)
    val teleport = (1.0 - damping) / n
    // Resume support: start from the latest checkpointed iteration if present.
    // `danglingMass` is the rank mass sitting on dangling vertices in the
    // CURRENT vector — the scalar each iteration redistributes uniformly.
    // For a resumed vector it costs one aggregate, which also counts the
    // snapshot's rows; for the uniform start it is danglingCount/n.
    val (startIter, startRanks, startMass) = checkpoint.flatMap(_.latest(spark)) match {
      case Some((it, df)) =>
        val s = df.agg(count(lit(1)), coalesce(sum(when(col("dangling"), col("rank"))), lit(0.0))).head()
        // the loop iterates the snapshot's own vertex set, so a snapshot of
        // another graph must fail here rather than iterate with the wrong mass
        if (s.getLong(0) != n)
          throw new IllegalArgumentException(
            s"snapshot at iteration $it has ${s.getLong(0)} vertices, the graph has $n")
        (it, df.select("vid", "rank", "dangling"), s.getDouble(1))
      case None =>
        (0, verts.select(col("vid"), lit(1.0 / n).as("rank"), col("dangling")), danglingCount.toDouble / n)
    }
    // the start vector is a checkpoint like every later one, so every
    // iteration runs the one prepared step
    val start = PreparedStep.checkpoint(startRanks.repartition(p, col("vid")))
    val step = try prepare(start, adj, damping) catch { case t: Throwable => Iterate.release(start); throw t }
    var danglingMass = startMass
    val setupSecs = (System.nanoTime() - setupT0) / 1e9
    onIterationsStart() // lets harnesses snapshot metrics at the setup/loop boundary
    val loopT0 = System.nanoTime()
    val loop = Iterate(start, startIter, maxIter, stop = (_, _, stats) => stats.getDouble(0) < tol,
        snapshots = checkpoint.map(new SnapshotWriter(_, _.getDouble(0))), onStepEnd = onIterationEnd) { ranks =>
      val (next, stats) = step.run(ranks, teleport + damping * danglingMass / n)
      danglingMass = stats.getDouble(1)
      (next, stats)
    }
    Result(loop.state.select(col("vid"), col("rank")), loop.steps, loop.observed.fold(Double.MaxValue)(_.getDouble(0)),
      n, numEdges, setupSecs, (System.nanoTime() - loopT0) / 1e9, loop.stepSecs)
  } finally {
    (setUp :+ adj :+ verts).foreach(_.unpersist(false))
  }

  /** The iteration over the start vector `ranks`(vid, rank, dangling) and
    * `adj`, planned once; its scalar is `base = teleport + damping *
    * danglingMass / n`, and it observes (L-inf delta, next dangling mass).
    *
    * Gather-scatter: fan rank/odeg out over the CSR rows (map-side explode,
    * never inside the join), partial-agg, one exchange on vid, final agg.
    * Build side = narrow ranks rows; the array-bearing adj side streams.
    * The previous vector is the LEFT side of a left-outer join, whose
    * output partitioning is the left side's HashPartitioning(vid) alone, so
    * every checkpoint carries the same one-expression partitioning. An
    * inner join would report a PartitioningCollection of both sides
    * instead; an earlier plan whose checkpoints accumulated such
    * expressions made the localCheckpoint call itself grow without bound
    * (measured: 0.2s -> 88s/iteration by iteration 25). */
  private def prepare(ranks: DataFrame, adj: DataFrame, damping: Double): PreparedStep = {
    val joinHint = "shuffle_hash"
    val contribs = ranks.as("r").hint(joinHint)
      .join(adj.as("l"), col("r.vid") === col("l.src"))
      .select((col("r.rank") / col("l.odeg")).as("w"), explode(col("l.nbrs")).as("vid"))
      .groupBy(col("vid"))
      .agg(sum(col("w")).as("contrib"))
    PreparedStep(ranks,
      ranks
        .join(contribs.hint(joinHint), Seq("vid"), "left")
        .select(
          col("vid"),
          (PreparedStep.scalar + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"),
          col("dangling"),
          col("rank").as("prev")),
      Seq(max(abs(col("rank") - col("prev"))), sum(when(col("dangling"), col("rank")).otherwise(0.0))),
      drop = Seq("prev"))
  }
}
