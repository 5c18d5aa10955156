package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.{ActionLog, SparkTestBase}
import graft.FailureChecks.{assertFailsWithoutLeak, failingFirstCheckpointRead}
import graft.graph.GraphOps
import graft.fixtures.{Generators, ReferenceOracles}

class LabelPropagationSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.functions._

  private def partitionOf(labels: Map[Long, Any]): Set[Set[Long]] =
    labels.groupBy(_._2).values.map(_.keySet).toSet

  test("WL refinement partition matches scalar oracle on path P_5 (1 and 2 rounds)") {
    val e = Generators.path(5)
    val df = Generators.edgesDF(spark, e)
    val init = spark.createDataFrame((0L to 4L).map(v => (v, "a"))).toDF("vid", "label")
    for (rounds <- Seq(1, 2)) {
      val got = LabelPropagation.wlRefine(spark, df, init, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ReferenceOracles.wlPartition(e, (0L to 4L).map(_ -> "a").toMap, rounds)
      assert(partitionOf(got.map { case (k, v) => k -> (v: Any) }) ==
        partitionOf(want.map { case (k, v) => k -> (v: Any) }),
        s"rounds=$rounds")
    }
  }

  test("WL distinguishes labeled vertices (initial labels respected)") {
    val e = Generators.path(3) // 0-1-2
    val df = Generators.edgesDF(spark, e)
    val init = spark.createDataFrame(Seq((0L, "x"), (1L, "y"), (2L, "x"))).toDF("vid", "label")
    val got = LabelPropagation.wlRefine(spark, df, init, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0 and 2 are structurally identical (label x, one y-neighbor); 1 differs.
    assert(got(0L) == got(2L) && got(0L) != got(1L))
  }

  test("WL refinement is monotone (partition never coarsens)") {
    val e = Generators.barabasiAlbert(40, 2, seed = 9L)
    val verts = e.flatMap(x => Seq(x._1, x._2)).distinct
    val init = spark.createDataFrame(verts.map(v => (v, "a"))).toDF("vid", "label")
    val df = Generators.edgesDF(spark, e)
    val sizes = (1 to 3).map { r =>
      LabelPropagation.wlRefine(spark, df, init, r).select("label").distinct().count()
    }
    assert(sizes == sizes.sorted)
  }

  test("wlSignatures produces exact reference signature strings") {
    val e = Generators.path(3)
    val df = Generators.edgesDF(spark, e)
    val init = spark.createDataFrame(Seq((0L, "a"), (1L, "b"), (2L, "c"))).toDF("vid", "label")
    val sigs = LabelPropagation.wlSignatures(spark, df, init)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs == Map(0L -> "a:b", 1L -> "b:a,c", 2L -> "c:b"))
  }

  test("hashed WL fold induces the same partition as sorted-list WL (BA fixture)") {
    val e = Generators.barabasiAlbert(60, 2, seed = 5L)
    val df = Generators.edgesDF(spark, e)
    val vids = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val init = spark.createDataFrame(vids.map(v => (v, "a"))).toDF("vid", "label")
    for (rounds <- Seq(1, 3)) {
      val sorted = LabelPropagation.wlRefine(spark, df, init, rounds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1): Any)).toMap
      val hashed = LabelPropagation.wlRefineHashed(spark, df, init, rounds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1): Any)).toMap
      assert(partitionOf(sorted) == partitionOf(hashed), s"rounds=$rounds")
    }
  }

  test("majority LP matches scalar oracle on two cliques joined by a bridge") {
    val e = Generators.clique(4) ++
      Generators.clique(4).map { case (a, b) => (a + 10, b + 10) } ++ Seq((3L, 10L))
    val df = Generators.edgesDF(spark, e)
    for (rounds <- Seq(1, 2, 3)) {
      val got = LabelPropagation.majority(spark, df, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ReferenceOracles.lpMajority(e, rounds)
      assert(got == want, s"rounds=$rounds: $got vs $want")
    }
  }

  test("set-up shuffles once: every mode persists its symmetric edges with one exchange") {
    val e = Generators.barabasiAlbert(40, 2, seed = 5L)
    val df = Generators.edgesDF(spark, e)
    val vids = (e.map(_._1) ++ e.map(_._2)).distinct
    val init = spark.createDataFrame(vids.map(v => (v, "a"))).toDF("vid", "label")
    val modes = Seq[(String, () => Any)](
      "wlRefine" -> (() => LabelPropagation.wlRefine(spark, df, init, 1).collect()),
      "wlRefineHashed" -> (() => LabelPropagation.wlRefineHashed(spark, df, init, 1).collect()),
      // a single majority round persists nothing
      "majority" -> (() => LabelPropagation.majority(spark, df, 2).collect()))
    // counted without AQE, whose plans hide their exchanges until they run
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for ((mode, call) <- modes) {
      val persisted = ActionLog.during(spark) { log =>
        call()
        log.entries.flatMap(_._2.executedPlan.collect {
          case s: InMemoryTableScanExec if s.relation.output.map(_.name) == Seq("src", "dst") =>
            s.relation.cachedPlan
        })
      }
      assert(persisted.nonEmpty, s"$mode read no persisted edge frame")
      for (plan <- persisted) {
        val exchanges = plan.collect { case x: ShuffleExchangeExec => x }
        assert(exchanges.size == 1, s"$mode: $exchanges")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("WL rounds read the cached symmetric edges as they are: no round shuffles on (src, dst)") {
    val e = Generators.barabasiAlbert(40, 2, seed = 5L)
    val df = Generators.edgesDF(spark, e)
    val vids = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val init = spark.createDataFrame(vids.map(v => (v, "a"))).toDF("vid", "label")
    // without AQE the recorded plan is the final physical plan
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (got, rounds) = try ActionLog.during(spark) { log =>
      val labels = LabelPropagation.wlRefine(spark, df, init, 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (labels, log.entries.collect { case ("localCheckpoint", qe) => qe.executedPlan })
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val want = ReferenceOracles.wlPartition(e, vids.map(_ -> "a").toMap, 2)
    assert(partitionOf(got.map { case (k, v) => k -> (v: Any) }) ==
      partitionOf(want.map { case (k, v) => k -> (v: Any) }))
    assert(rounds.size == 2)
    for (plan <- rounds) {
      val keys = plan.collect { case x: ShuffleExchangeExec => x.outputPartitioning }.collect {
        case h: HashPartitioning => h.expressions.collect { case a: AttributeReference => a.name }
      }
      assert(!keys.contains(Seq("src", "dst")), plan)
    }
  }

  test("a caller's checkpointed start labels stay readable after every mode") {
    val e = Generators.barabasiAlbert(40, 2, seed = 5L)
    val df = Generators.edgesDF(spark, e)
    val vids = (e.map(_._1) ++ e.map(_._2)).distinct
    val modes = Seq[(String, org.apache.spark.sql.DataFrame => Any)](
      "wlRefine" -> (l => LabelPropagation.wlRefine(spark, df, l, 2).collect()),
      "wlRefineHashed" -> (l => LabelPropagation.wlRefineHashed(spark, df, l, 2).collect()),
      "majority 1 round" -> (l => LabelPropagation.majority(spark, df, 1, Some(l)).collect()),
      "majority 2 rounds" -> (l => LabelPropagation.majority(spark, df, 2, Some(l)).collect()))
    for ((mode, call) <- modes) {
      val labels = spark.createDataFrame(vids.map(v => (v, v % 3))).toDF("vid", "label").localCheckpoint(true)
      call(labels)
      assert(labels.count() == vids.size, mode)
    }
  }

  test("one action per round: after set-up, each round is its checkpoint") {
    val e = Generators.barabasiAlbert(40, 2, seed = 5L)
    val df = Generators.edgesDF(spark, e)
    val init = spark.createDataFrame((e.map(_._1) ++ e.map(_._2)).distinct.map(v => (v, "a"))).toDF("vid", "label")
    def actions(call: => DataFrame): Seq[String] =
      ActionLog.during(spark) { log => GraphOps.releaseCheckpoint(call); log.names }
    // set-up counts the cached start labels
    for (k <- Seq(1, 3))
      assert(actions(LabelPropagation.wlRefineHashed(spark, df, init, k)) ==
        "count" +: Seq.fill(k)("localCheckpoint"), s"$k rounds")
    assert(actions(LabelPropagation.majority(spark, df, 3)) == "count" +: Seq.fill(3)("localCheckpoint"))
    // a single majority round persists nothing, so it has no set-up action
    assert(actions(LabelPropagation.majority(spark, df, 1)) == Seq("localCheckpoint"))
  }

  test("a failed round or set-up rethrows and leaves no persisted RDD behind") {
    val e = Generators.barabasiAlbert(40, 2, seed = 5L)
    val df = Generators.edgesDF(spark, e)
    val vids = (e.map(_._1) ++ e.map(_._2)).distinct
    val init = spark.createDataFrame(vids.map(v => (v, v % 3))).toDF("vid", "label")
    val modes = Seq[(String, (DataFrame, DataFrame) => DataFrame)](
      "wlRefine" -> ((edges, labels) => LabelPropagation.wlRefine(spark, edges, labels, 2)),
      "wlRefineHashed" -> ((edges, labels) => LabelPropagation.wlRefineHashed(spark, edges, labels, 3)),
      "majority 3 rounds" -> ((edges, labels) => LabelPropagation.majority(spark, edges, 3, Some(labels))),
      "majority 1 round" -> ((edges, labels) => LabelPropagation.majority(spark, edges, 1, Some(labels))))
    // a round fails to optimize once the set-up caches and the previous
    // round's checkpoint exist: the first plan that reads a checkpoint is
    // round 2's, or the only round's over checkpointed start labels
    for ((mode, call) <- modes) {
      val labels = if (mode == "majority 1 round") init.localCheckpoint(true) else init
      failingFirstCheckpointRead(spark, s"$mode failed") {
        assertFailsWithoutLeak(spark, s"$mode failed")(call(df, labels))
      }
      GraphOps.releaseCheckpoint(labels)
    }
    // a vertex that fails when read: in the edges, round 1 fails; in the
    // start labels, the set-up count fails (a single majority round has no
    // set-up, so there its round fails)
    val boom = udf((v: Long) => if (v == 7L) throw new IllegalStateException("bad vertex 7") else v)
    val badEdges = df.select(boom(col("src")).as("src"), col("dst"))
    val badLabels = init.select(boom(col("vid")).as("vid"), col("label"))
    for ((_, call) <- modes) {
      assertFailsWithoutLeak(spark, "bad vertex 7")(call(badEdges, init))
      assertFailsWithoutLeak(spark, "bad vertex 7")(call(df, badLabels))
    }
  }
}
