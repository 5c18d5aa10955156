package graft

/** One pinned PageRank measurement in a dedicated JVM (spawned by
  * [[graft.Bench]] under `taskset -c 0..N-1`).
  *
  * Why a separate JVM per parallelism level: a `local[8]` session inside a
  * 32-core JVM is NOT an 8-core machine — GC threads, netty IO, codegen and
  * the driver all run on the 24 idle cores, inflating the low level and
  * biasing the N-vs-4N scaling comparison. `taskset` confines the WHOLE JVM
  * (JDK 17 sizes GC/compiler pools from the affinity mask), which is the
  * faithful single-box analogue of an N-core executor fleet.
  *
  * args: cores edgesPath maxIter tol shufflePartitions aqe(0|1)
  * stdout: one `BENCHRUN k=v ...` line (parsed by Bench).
  */
object BenchWorker {

  def main(args: Array[String]): Unit = {
    // spec grammar in BenchShared.parseSpec ("8" | "4x8"); 8g per executor
    // default: the 64M-edge working set (CSR cache + a handful of pinned
    // rank vectors) must fit the SINGLE executor of the low level without
    // eviction — eviction under an unpersisted-parent lineage was round 2's
    // within-run degradation (recompute cascades, see BENCH.md)
    val spec = args(0)
    val (_, cores) = BenchShared.parseSpec(spec)
    val edgesPath = args(1)
    val maxIter = args(2).toInt
    val tol = args(3).toDouble
    val parts = if (args.length > 4) args(4).toInt else 128
    val aqe = if (args.length > 5) args(5) == "1" else false

    val spark = BenchShared.pinnedSession(spec, s"graft-bench-worker-$spec", parts, aqe)

    val edges = spark.read.parquet(edgesPath)
    // Warm JIT/codegen once on a small prefix (excluded from timing),
    // repartitioned so warmup tasks land on EVERY executor — a narrow
    // single-task warmup leaves all but one executor JVM cold, and their C2
    // compilation then pollutes the first measured iterations (observed as
    // 2x CPU + GC spikes at multi-executor levels).
    graft.algo.PageRank.run(spark, edges.limit(400000).repartition(parts), maxIter = 4)

    val listener = new BenchShared.CpuListener
    spark.sparkContext.addSparkListener(listener)
    val pre = BenchShared.stealSecs()
    val t0 = System.nanoTime()
    var cpuAtLoopStart = 0L
    var lastCpu = 0L; var lastTasks = 0L; var lastGc = 0L; var lastFetch = 0L
    // SPARK_GRAFT_BENCH_STATIC: path of PageRank.writeStatic output (adj +
    // verts precomputed ONCE by the harness) — the measured per-iteration
    // work is identical, only the per-run one-time setup shrinks, which is
    // what lets the deadline fit >= 2 scaling pairs per level (round-3
    // verdict #1: the n=1 evidentiary gap).
    val staticPath = sys.env.get("SPARK_GRAFT_BENCH_STATIC")
    def runIt(onStart: () => Unit, onEnd: Int => Unit) = staticPath match {
      case Some(sp) => graft.algo.PageRank.runFromStatic(spark, sp, tol = tol,
        maxIter = maxIter, numPartitions = Some(parts),
        onIterationsStart = onStart, onIterationEnd = onEnd)
      case None => graft.algo.PageRank.run(spark, edges, tol = tol, maxIter = maxIter,
        numPartitions = Some(parts), onIterationsStart = onStart, onIterationEnd = onEnd)
    }
    val res = runIt(
      onStart = () => {
        cpuAtLoopStart = listener.cpuNanos.get()
        lastCpu = cpuAtLoopStart; lastTasks = listener.tasks.get()
        lastGc = listener.gcMillis.get(); lastFetch = listener.shufFetchNanos.get()
      },
      onEnd = it => {
        if (sys.env.contains("GRAFT_PR_VERBOSE")) {
          val (c, t) = (listener.cpuNanos.get(), listener.tasks.get())
          val (g, f) = (listener.gcMillis.get(), listener.shufFetchNanos.get())
          println(f"[prx] iter=$it cpu=${(c - lastCpu) / 1e9}%.1f tasks=${t - lastTasks} " +
            f"gc=${(g - lastGc) / 1e3}%.1f fetchwait=${(f - lastFetch) / 1e9}%.1f")
          lastCpu = c; lastTasks = t; lastGc = g; lastFetch = f
        }
        // Old shuffles and broadcasts are dropped only when the driver's
        // ContextCleaner sees their weak references die, i.e. after a driver
        // GC; on a large-heap driver that can lag a long run and pile up
        // shuffle files. `Bench` sets GRAFT_PR_GC for its workers; the nudge
        // runs between timed iterations.
        if (it % 5 == 0 && sys.env.contains("GRAFT_PR_GC")) System.gc()
      })
    val wall = (System.nanoTime() - t0) / 1e9
    val hostCores = Runtime.getRuntime.availableProcessors() // = affinity-mask size under taskset
    val steal = BenchShared.stealFraction(pre, wall)
    val cpuPerIter = (listener.cpuNanos.get() - cpuAtLoopStart) / 1e9 / math.max(1, res.iterations)
    spark.stop()

    val e = res.numEdges.toDouble
    println(("BENCHRUN " +
      s"spec=$spec cores=$cores parts=$parts iters=${res.iterations} edges=${res.numEdges} " +
      f"setup=${res.setupSecs}%.2f itertotal=${res.iterSecs}%.2f delta=${res.delta}%.3e " +
      f"eps_min=${e / res.iterSecsMinWarm}%.0f eps_p25=${e / res.iterSecsP25}%.0f eps_med=${e / res.iterSecsMedian}%.0f " +
      f"steal=$steal%.3f cpu_per_iter=$cpuPerIter%.2f jvmcores=$hostCores " +
      s"iter_secs=${res.iterSecsEach.map(s => f"$s%.2f").mkString(",")}"))
  }
}
