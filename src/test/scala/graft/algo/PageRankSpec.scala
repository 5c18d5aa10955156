package graft.algo

import org.apache.spark.SparkException
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.{ActionLog, SparkTestBase}
import graft.fixtures.{Generators, ReferenceOracles}
import graft.graph.GraphOps

class PageRankSpec extends AnyFunSuite with SparkTestBase {

  private def ranksOf(edges: Seq[(Long, Long)], directed: Boolean = true): Map[Long, Double] = {
    val e0 = if (directed) edges else edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val df = Generators.edgesDF(spark, e0)
    PageRank.run(spark, df).ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def assertAllClose(got: Map[Long, Double], want: Map[Long, Double], tol: Double = 1e-6): Unit = {
    assert(got.keySet == want.keySet, s"vertex sets differ: ${got.keySet} vs ${want.keySet}")
    for ((v, w) <- want) assert(math.abs(got(v) - w) < tol, s"vertex $v: got ${got(v)} want $w")
  }

  test("uniform 1/n on directed cycle C_5 (analytic)") {
    val got = ranksOf(Generators.cycle(5))
    for ((_, r) <- got) assert(math.abs(r - 0.2) < 1e-6)
  }

  test("uniform 1/n on clique K_4 (analytic, undirected)") {
    val got = ranksOf(Generators.clique(4), directed = false)
    for ((_, r) <- got) assert(math.abs(r - 0.25) < 1e-6)
  }

  test("matches scalar oracle on undirected path P_5") {
    val e = Generators.path(5)
    assertAllClose(ranksOf(e, directed = false),
      ReferenceOracles.pageRankScalar(e.flatMap { case (a, b) => Seq((a, b), (b, a)) }), 2e-6)
  }

  test("matches scalar oracle on star S_4 with dangling leaves (directed to hub)") {
    val e = (1 to 4).map(i => (i.toLong, 0L)) // leaves -> hub; hub dangling
    assertAllClose(ranksOf(e), ReferenceOracles.pageRankScalar(e), 2e-6)
  }

  test("matches scalar oracle on BA power-law n=60") {
    val e = Generators.barabasiAlbert(60, 2, seed = 42L)
    assertAllClose(ranksOf(e), ReferenceOracles.pageRankScalar(e), 5e-6)
  }

  test("ranks sum to 1 every run (probability mass conservation)") {
    val e = Generators.barabasiAlbert(40, 2, seed = 7L)
    val total = ranksOf(e).values.sum
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("fixed-iteration variant matches fixed-iteration oracle exactly-ish") {
    val e = Generators.barabasiAlbert(30, 2, seed = 3L)
    val df = Generators.edgesDF(spark, e)
    val got = PageRank.run(spark, df, tol = 0.0, maxIter = 5).ranks
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = ReferenceOracles.pageRankScalarFixed(e, 5)
    assertAllClose(got, want, 1e-12)
  }

  test("lineage truncation boundary (run crossing LineageTruncateEvery) matches the scalar oracle") {
    val e = Generators.barabasiAlbert(50, 2, seed = 21L)
    val df = Generators.edgesDF(spark, e)
    val got = PageRank.run(spark, df).ranks
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assertAllClose(got, ReferenceOracles.pageRankScalar(e), 5e-6)
  }

  test("checkpoint + resume reproduces identical converged scores") {
    val e = Generators.barabasiAlbert(50, 2, seed = 11L)
    val df = Generators.edgesDF(spark, e)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ck = graft.run.IterationCheckpoint(dir, every = 2)
    // Run 1: stop early (simulated kill) by capping iterations after a checkpoint.
    PageRank.run(spark, df, maxIter = 4, checkpoint = Some(ck))
    assert(ck.lineage.nonEmpty, "checkpoint wrote no manifests")
    // Run 2: resume from checkpoint and converge.
    val resumed = PageRank.run(spark, df, checkpoint = Some(ck))
    assert(resumed.iterations > 4)
    val fresh = PageRank.run(spark, df)
    val a = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = fresh.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((v, r) <- b) assert(math.abs(a(v) - r) < 1e-9, s"resume drift at $v")
    // lineage carries per-partition metrics
    val m = ck.lineage.last
    assert(m.partitions.nonEmpty && m.rows == a.size)
  }

  test("writeStatic + runFromStatic reproduces run() exactly (same fixed-point)") {
    val e = Generators.barabasiAlbert(60, 2, seed = 33L)
    val df = Generators.edgesDF(spark, e)
    val dir = java.nio.file.Files.createTempDirectory("graft-static").toString
    PageRank.writeStatic(spark, df, dir)
    val fromStatic = PageRank.runFromStatic(spark, dir)
    val direct = PageRank.run(spark, df)
    assert(fromStatic.numVertices == direct.numVertices &&
      fromStatic.numEdges == direct.numEdges)
    val a = fromStatic.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = direct.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    for ((v, r) <- b) assert(math.abs(a(v) - r) < 1e-12, s"static-path drift at $v")
  }

  test("runFromStatic kill/resume: mid-iteration restart from static tables converges identically") {
    // the production restart story (round-4 verdict #9): writeStatic output
    // + IterationCheckpoint resume, i.e. a worker dies mid-algorithm and a
    // NEW process resumes from the static tables + last checkpoint
    val e = Generators.barabasiAlbert(50, 2, seed = 77L)
    val df = Generators.edgesDF(spark, e)
    val staticDir = java.nio.file.Files.createTempDirectory("graft-static-resume").toString
    PageRank.writeStatic(spark, df, staticDir)
    val ckDir = java.nio.file.Files.createTempDirectory("graft-static-ckpt").toString
    val ck = graft.run.IterationCheckpoint(ckDir, every = 2)
    // run 1: killed after a few iterations (post-checkpoint)
    PageRank.runFromStatic(spark, staticDir, maxIter = 4, checkpoint = Some(ck))
    assert(ck.lineage.nonEmpty, "checkpoint wrote no manifests")
    // run 2: a fresh checkpoint handle (new process) resumes and converges
    val ck2 = graft.run.IterationCheckpoint(ckDir, every = 2)
    val resumed = PageRank.runFromStatic(spark, staticDir, checkpoint = Some(ck2))
    assert(resumed.iterations > 4)
    val fresh = PageRank.run(spark, df)
    val a = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = fresh.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((v, r) <- b) assert(math.abs(a(v) - r) < 1e-9, s"static-resume drift at $v")
    // lineage carries per-partition metrics across the restart
    val m = ck2.lineage.last
    assert(m.partitions.nonEmpty && m.rows == a.size)
  }

  test("one action per iteration: the iteration loop runs only its localCheckpoints") {
    val df = Generators.edgesDF(spark, Generators.barabasiAlbert(40, 2, seed = 9L))
    val loop = ActionLog.during(spark) { log =>
      var start, end = -1
      val r = PageRank.run(spark, df, tol = 0.0, maxIter = 6,
        onIterationsStart = () => start = log.names.size,
        onIterationEnd = _ => end = log.names.size)
      GraphOps.releaseCheckpoint(r.ranks)
      log.names.slice(start, end)
    }
    assert(loop == Seq.fill(6)("localCheckpoint"))
  }

  test("the rank vector's partitioning stays one hash expression across iterations") {
    val df = Generators.edgesDF(spark, Generators.barabasiAlbert(40, 2, seed = 19L))
    def partitioningAfter(iterations: Int) = {
      val r = PageRank.run(spark, df, tol = 0.0, maxIter = iterations)
      assert(r.iterations == iterations)
      val part = r.ranks.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.outputPartitioning }
      GraphOps.releaseCheckpoint(r.ranks)
      part.getOrElse(fail("the returned vector is not a checkpoint"))
    }
    // a checkpoint keeps its plan's partitioning only without AQE (an
    // adaptive plan reports none), which is how the link-graph runs execute
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (early, late) = try (partitioningAfter(2), partitioningAfter(30))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    late match {
      case h: HashPartitioning => assert(h.expressions.size == 1, h)
      case other => fail(s"expected a HashPartitioning, got $other")
    }
    assert(late.getClass == early.getClass && late.numPartitions == early.numPartitions)
  }

  test("resuming from a snapshot of another graph throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-foreign").toString
    val ck = graft.run.IterationCheckpoint(dir, every = 2)
    val first = PageRank.run(spark, Generators.edgesDF(spark, Generators.barabasiAlbert(50, 2, seed = 13L)),
      maxIter = 2, checkpoint = Some(ck))
    GraphOps.releaseCheckpoint(first.ranks)
    assert(ck.lineage.nonEmpty, "checkpoint wrote no manifests")
    val other = Generators.edgesDF(spark, Generators.barabasiAlbert(60, 2, seed = 13L))
    intercept[IllegalArgumentException](PageRank.run(spark, other, checkpoint = Some(ck)))
  }

  test("each snapshot holds its own iteration's vector although the loop ran on") {
    val df = Generators.edgesDF(spark, Generators.barabasiAlbert(40, 2, seed = 29L))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-async").toString
    val ck = graft.run.IterationCheckpoint(dir, every = 2)
    val r = PageRank.run(spark, df, tol = 0.0, maxIter = 6, checkpoint = Some(ck))
    GraphOps.releaseCheckpoint(r.ranks)
    val lineage = ck.lineage
    assert(lineage.map(_.iteration) == Seq(2, 4, 6))
    for (m <- lineage) {
      val snap = spark.read.parquet(s"$dir/data/snap-${m.snapshotId}")
        .select("vid", "rank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val fixed = PageRank.run(spark, df, tol = 0.0, maxIter = m.iteration)
      val want = fixed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      GraphOps.releaseCheckpoint(fixed.ranks)
      assertAllClose(snap, want, 1e-12)
    }
  }

  test("a failed snapshot fails the run with its own error and leaks no cache") {
    val df = Generators.edgesDF(spark, Generators.barabasiAlbert(40, 2, seed = 31L))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-broken")
    java.nio.file.Files.createFile(dir.resolve("data")) // the snapshot cannot create its data directory
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[java.io.IOException](
      PageRank.run(spark, df, tol = 0.0, maxIter = 6, checkpoint = Some(graft.run.IterationCheckpoint(dir.toString, 2))))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("a job cancelled in a re-bound iteration fails the run and leaks no cache") {
    val df = Generators.edgesDF(spark, Generators.barabasiAlbert(40, 2, seed = 37L))
    val sc = spark.sparkContext
    // from iteration 3 on, every job is cancelled as it starts (a job that
    // finishes before its cancel lands only moves the failure one iteration on)
    @volatile var cancelling = false
    val canceller = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (cancelling) sc.cancelJob(e.jobId)
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(canceller)
    try intercept[SparkException](PageRank.run(spark, df, tol = 0.0, maxIter = 6,
      onIterationEnd = it => if (it == 2) cancelling = true))
    finally {
      cancelling = false
      sc.removeSparkListener(canceller)
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("steady-state iterations neither plan nor compile") {
    val e = Generators.barabasiAlbert(60, 2, seed = 43L)
    // dangling vertices make the redistributed mass, and with it the step's
    // scalar, change every iteration
    assert((e.flatMap { case (a, b) => Seq(a, b) }.toSet -- e.map(_._1)).nonEmpty)
    val df = Generators.edgesDF(spark, e)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val (got, compiled, steady) = ActionLog.during(spark) { log =>
      var c3, c8 = 0L
      var a3, a8 = 0
      val r = PageRank.run(spark, df, tol = 0.0, maxIter = 8, onIterationEnd = {
        case 3 => c3 = compiles.getCount; a3 = log.entries.size
        case 8 => c8 = compiles.getCount; a8 = log.entries.size
        case _ => ()
      })
      val ranks = r.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      GraphOps.releaseCheckpoint(r.ranks)
      (ranks, c8 - c3, log.entries.slice(a3, a8))
    }
    assert(compiled == 0, s"$compiled classes compiled in iterations 4-8")
    assert(steady.map(_._1) == Seq.fill(5)("localCheckpoint"))
    for ((_, qe) <- steady)
      assert(!qe.tracker.phases.contains(QueryPlanningTracker.OPTIMIZATION), qe.tracker.phases.keySet)
    assertAllClose(got, ReferenceOracles.pageRankScalarFixed(e, 8), 1e-12)
  }

  test("a partition count other than the session's shuffle partitions iterates on it") {
    val e = Generators.barabasiAlbert(30, 2, seed = 3L)
    val df = Generators.edgesDF(spark, e)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    for (k <- Seq(shufflePartitions / 2, shufflePartitions * 2)) {
      val r = PageRank.run(spark, df, tol = 0.0, maxIter = 5, numPartitions = Some(k))
      assert(r.ranks.rdd.getNumPartitions == k)
      val got = r.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      GraphOps.releaseCheckpoint(r.ranks)
      assertAllClose(got, ReferenceOracles.pageRankScalarFixed(e, 5), 1e-12)
    }
  }

  test("run and writeStatic leave the caller's session conf as they found it") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val df = Generators.edgesDF(spark, Generators.barabasiAlbert(30, 2, seed = 5L))
    def unchanged(body: => Unit): Unit = {
      val before = spark.conf.getAll
      body
      assert(spark.conf.getAll == before)
    }
    val original = spark.conf.getAll.get(key)
    try for (callers <- Seq(None, Some("4096"))) {
      callers.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      unchanged(GraphOps.releaseCheckpoint(PageRank.run(spark, df, maxIter = 3).ranks))
      unchanged(PageRank.writeStatic(spark, df, java.nio.file.Files.createTempDirectory("graft-conf").toString))
    } finally original.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
