package graft

import org.apache.spark.sql.SparkSession

/** Plumbing shared by the pinned measurement JVMs ([[BenchWorker]],
  * [[BenchSuite]], [[BenchDedup]]): the /proc/stat steal probe, the
  * task-metrics listener, the worker-spec grammar, and the pinned
  * SparkSession config. One copy, so a fix to any of them (the fragile
  * index-based /proc/stat parse in particular) cannot silently diverge
  * between the PageRank record and the per-algorithm appendix evidence.
  */
private[graft] object BenchShared {

  /** Cumulative hypervisor-steal seconds from /proc/stat (col 8). */
  def stealSecs(): Double =
    try {
      val first = java.nio.file.Files.lines(java.nio.file.Paths.get("/proc/stat"))
      try first.findFirst.get.trim.split("\\s+")(8).toDouble / 100.0
      finally first.close()
    } catch { case _: Throwable => 0.0 }

  /** Steal fraction of `wall` seconds across the whole host (the mask the
    * hypervisor steals from is the host's cores, not the taskset mask). */
  def stealFraction(preStealSecs: Double, wall: Double): Double =
    (stealSecs() - preStealSecs) / wall /
      sys.env.getOrElse("GRAFT_HOST_CORES", "32").toInt

  /** Sums executor CPU time across tasks — a hypervisor-steal-immune witness
    * of per-iteration work (flat across levels when nothing serializes). */
  final class CpuListener extends org.apache.spark.scheduler.SparkListener {
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufFetchNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcMillis = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNanos.addAndGet(m.executorCpuTime)
        gcMillis.addAndGet(m.jvmGCTime)
        if (m.shuffleReadMetrics != null) shufFetchNanos.addAndGet(m.shuffleReadMetrics.fetchWaitTime * 1000000L)
      }
      tasks.incrementAndGet()
      ()
    }
    override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      if (sys.env.contains("GRAFT_BENCH_STAGELOG"))
        println(s"[stage] id=${s.stageInfo.stageId} tasks=${s.stageInfo.numTasks} " +
          s"name=${s.stageInfo.name} details=${s.stageInfo.details.linesIterator.take(3).mkString(" | ")}")
  }

  /** Worker-spec grammar: "8" -> local[8] (one in-process executor);
    * "4x8" -> local-cluster[4,8,m] (4 SEPARATE executor JVMs x 8 cores —
    * the faithful single-box analogue of a 4-executor cluster, including
    * inter-process netty shuffle). */
  def parseSpec(spec: String): (String, Int) =
    if (spec.contains("x")) {
      val Array(nex, nc) = spec.split("x").map(_.toInt)
      (s"local-cluster[$nex,$nc,$execMemMb]", nex * nc)
    } else (s"local[$spec]", spec.toInt)

  /** local-cluster's third parameter is WORKER memory (scheduling budget);
    * the executor JVM heap is spark.executor.memory and defaults to 1g —
    * leaving it unset silently starves the caches (measured: adj + rank
    * vectors evicted every iteration, recompute storms). Used for both. */
  def execMemMb: Int = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "8192").toInt

  /** Where this JVM loaded the graft classes from (their classes directory
    * or jar), for local-cluster executors, which are fresh JVMs; the JVM's
    * whole class path when the class loader names no code source. */
  def graftClassPath: String =
    Option(getClass.getProtectionDomain.getCodeSource).flatMap(cs => Option(cs.getLocation))
      .map(url => java.nio.file.Paths.get(url.toURI).toString)
      .getOrElse(sys.props("java.class.path"))

  /** The pinned measurement session: storage-protected memory, zero
    * locality wait (a benchmark must never hold a task wave hostage to
    * block locality), tmpfs shuffle dirs (single-box analogue of
    * node-local SSDs), and the graft classes on the executor classpath
    * (local-cluster executors are fresh JVMs). */
  def pinnedSession(spec: String, appName: String, parts: Int, aqe: Boolean): SparkSession = {
    val (master, _) = parseSpec(spec)
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.executor.memory", s"${execMemMb}m")
      .config("spark.memory.storageFraction", sys.env.getOrElse("GRAFT_STORAGE_FRACTION", "0.5"))
      .config("spark.locality.wait", "0")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
      .config("spark.executor.extraClassPath", graftClassPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
