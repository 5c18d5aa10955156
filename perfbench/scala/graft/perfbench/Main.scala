package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Layer calls and output checks of one run: every call that throws and
  * every check that fails counts as a failed operation. */
final class Ledger {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer[String]()

  private def fail(what: String): Unit = { failed += 1; failures += what }

  def call[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch { case e: Throwable => fail(s"$what threw $e"); None }
  }

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable => fail(s"$what threw $e"); true }
    if (!pass) fail(what)
  }
}

/** Everything a workload needs from the run that drives it. */
final class Ctx(val dataDir: Path, val workDir: Path, val seed: Long, val tr: Tracer, val ledger: Ledger) {
  /** Persisted RDDs of the cached inputs, which the leak check leaves alone. */
  var inputRdds = Set.empty[Int]

  /** A fresh, empty directory under the run's work directory. */
  def freshDir(name: String): Path = {
    val d = workDir.resolve(name)
    Main.deleteTree(d)
    d
  }

  /** Release check after a layer call's result was released: a persisted or
    * checkpointed RDD left behind would squat memory during the next call. */
  def assertNoLeak(spark: SparkSession, what: String, allowed: Int = 0): Unit = {
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !inputRdds(id) }
    ledger.check(s"$what left ${left.size} persisted RDDs (allowed $allowed)")(left.size <= allowed)
    if (inputRdds.isEmpty) spark.sharedState.cacheManager.clearCache()
    left.values.foreach(_.unpersist(false))
  }
}

/** One seeded workload: inputs, set-up, the timed pass and its checks. */
trait Workload {
  /** Whether the workload runs in the link-graph bench session. */
  def linkGraph: Boolean
  /** Make the seeded inputs under the data directory unless they are cached
    * there already. Runs before set-up and is not part of it. */
  def prepare(spark: SparkSession, ctx: Ctx): Unit
  /** Scan and cache the inputs: part of set-up. */
  def load(spark: SparkSession, ctx: Ctx): Unit
  /** The untimed warm-up pass before the timed phase, on a down-scaled
    * instance; keeps what the oracle check needs. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit
  /** One timed pass, returning named seconds and counts for this pass.
    * Work after `stopClock()` is excluded from the pass's wall time. */
  def pass(spark: SparkSession, ctx: Ctx, stopClock: () => Unit): Map[String, Double]
  /** Checks that need no Spark, run after the timed phase. */
  def checkOracles(ctx: Ctx): Unit
  /** Release the cached inputs before the session stops. */
  def unload(spark: SparkSession): Unit
}

/** One benchmark run in this JVM:
  * prepare inputs, set up `Setups` times (fresh session each time, the last
  * one kept), run the untimed warm-up pass once, loop timed passes for the
  * requested seconds, check outputs, and print one JSON line of per-pass
  * medians.
  *
  * Usage: graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> */
object Main {
  val Setups = 3

  /** The session of `graft.Verify` (the operator sweep) or, with `linkGraph`,
    * that of the repository's link-graph bench harness (`BenchShared`):
    * adaptive execution off and no locality wait. */
  def session(linkGraph: Boolean): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", !linkGraph)
      .config("spark.locality.wait", if (linkGraph) "0" else "3s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this JVM, all threads: tasks, driver, JIT and GC. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  def stealTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def workloadNamed(name: String): Workload = name match {
    case "crawl_pagerank" => new CrawlPageRank
    case "linkgraph_scale" => new LinkgraphScale
    case "operator_sweep" => new OperatorSweep
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit =
    if (args.head == "prepare") prepareOnly(args(1), args(2).toLong, args.drop(3).toSeq) else run(args)

  /** Make a workload's inputs in each given data directory and print, per
    * directory, the partition stats of every committed table: the same seed
    * must give the same checksums. */
  private def prepareOnly(name: String, seed: Long, dirs: Seq[String]): Unit = {
    val workload = workloadNamed(name)
    val spark = session(workload.linkGraph)
    dirs.foreach { d =>
      val dir = Paths.get(d)
      workload.prepare(spark, new Ctx(dir, dir, seed, new Tracer(false, ""), new Ledger))
      val roots = Files.list(dir).iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.toString)
      println(roots.map { root =>
        val parts = graft.table.TableIO.lineage(root.toString).flatMap(_.partitions)
        str(root.getFileName.toString) + ":" +
          parts.map(p => s"[${p.partition},${p.rows},${p.checksum}]").mkString("[", ",", "]")
      }.mkString("{", ",", "}"))
    }
    spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, dataS, workS) = args
    val workload = workloadNamed(name)
    val seed = seedS.toLong
    val tr = new Tracer(traceS == "1", s"$name-$seed-${ProcessHandle.current().pid()}")
    val workDir = Paths.get(workS)
    Files.createDirectories(workDir)
    val ctx = new Ctx(Paths.get(dataS), workDir, seed, tr, new Ledger)

    val jvmT0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // phase times since JVM start, for the log
    def stamp(what: String): Unit = System.err.println(s"PERFBENCH ${System.currentTimeMillis() - jvmT0} ms $what")
    stamp("main")
    var spark = session(workload.linkGraph)
    stamp("session")
    val prepT0 = System.nanoTime()
    workload.prepare(spark, ctx)
    val prepareS = (System.nanoTime() - prepT0) / 1e9
    stamp("prepared")

    // Set-up is a new session plus the input scan and cache. Only the first
    // of the set-ups pays class loading; the reported figure is their median.
    val setups = (1 to Setups).map { _ =>
      workload.unload(spark)
      spark.stop()
      stamp("stopped")
      val t0 = System.nanoTime()
      spark = session(workload.linkGraph)
      tr.attach(spark)
      tr("setup")(workload.load(spark, ctx))
      ctx.inputRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      (System.nanoTime() - t0) / 1e9
    }
    stamp("setups")
    val warmT0 = System.nanoTime()
    tr("warmup")(workload.warmup(spark, ctx))
    val warmupS = (System.nanoTime() - warmT0) / 1e9

    // every timed phase starts from a compacted heap, whatever set-up left
    System.gc()
    val seconds = secondsS.toDouble
    val passes = ArrayBuffer[Map[String, Double]]()
    val timedT0 = System.nanoTime()
    do {
      val span = tr.open("pass")
      val t0 = System.nanoTime()
      val c0 = cpuSeconds()
      val (st0, tot0) = stealTicks()
      var wall, cpu, steal = -1.0
      val stop = () => if (wall < 0) {
        wall = (System.nanoTime() - t0) / 1e9
        cpu = cpuSeconds() - c0
        val (st1, tot1) = stealTicks()
        steal = (st1 - st0).toDouble / math.max(1L, tot1 - tot0)
        tr.close(span)
      }
      val m = workload.pass(spark, ctx, stop)
      stop()
      passes += m + ("wall_s" -> wall) + ("jvm_cpu_s" -> cpu) + ("steal_frac" -> steal)
      stamp(s"pass ${passes.size}: " + passes.last.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    } while ((System.nanoTime() - timedT0) / 1e9 < seconds)

    stamp("timed")
    workload.checkOracles(ctx)
    stamp("checked")
    workload.unload(spark)
    ctx.assertNoLeak(spark, "run end")

    val traceFile = if (tr.enabled) {
      val f = workDir.resolve("spans.json")
      Files.writeString(f, tr.toJson)
      Some(f)
    } else None
    spark.stop()
    stamp("end")

    val keys = passes.flatMap(_.keys).distinct.sorted
    val med = keys.map(k => k -> median(passes.flatMap(_.get(k)).toSeq))
    val metrics = (med ++ Seq(
      "setup_s" -> median(setups),
      "peak_rss_mb" -> peakRssMb(),
      "prepare_s" -> prepareS,
      "warmup_s" -> warmupS,
      "passes" -> passes.size.toDouble))
      .map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val failures = ctx.ledger.failures.take(20).map(str).mkString("[", ",", "]")
    println(s"""{"attempted":${ctx.ledger.attempted},"failed":${ctx.ledger.failed},"failures":$failures,""" +
      s""""setups_s":${setups.map(num).mkString("[", ",", "]")},""" +
      s""""trace":${traceFile.map(f => str(f.toString)).getOrElse("null")},"metrics":$metrics}""")
  }
}
