package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.{ActionLog, SparkTestBase}
import graft.FailureChecks.{assertFailsWithoutLeak, failingFirstCheckpointRead}
import graft.fixtures.{Generators, ReferenceOracles}

class ConnectedComponentsSpec extends AnyFunSuite with SparkTestBase {

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] = labelsOf(Generators.edgesDF(spark, edges))

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    ConnectedComponents.run(spark, df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("single component on path, cycle, clique, star") {
    for (e <- Seq(Generators.path(16), Generators.cycle(8), Generators.clique(6), Generators.star(50))) {
      val l = labels(e)
      assert(l.values.toSet.size == 1, s"expected 1 component, got ${l.values.toSet}")
      assert(l.values.head == l.keys.min) // min-vid canonical label
    }
  }

  test("two_comp fixture: exact min-vid labels (P_3 + C_4)") {
    val l = labels(Generators.twoComp)
    val want = ReferenceOracles.connectedComponentsMinVid(Generators.twoComp)
    assert(l == want)
  }

  test("first-visit normalization matches reference numbering (listComponents.c:306)") {
    val df = Generators.edgesDF(spark, Generators.twoComp)
    val norm = ConnectedComponents.normalizeToFirstVisit(ConnectedComponents.run(spark, df))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ReferenceOracles.connectedComponentsFirstVisit(Generators.twoComp)
    assert(norm == want)
  }

  test("matches oracle partition on BA power-law with planted extra components") {
    // BA graph (ids 0..99) plus two disjoint cycles far away in id space.
    val e = Generators.barabasiAlbert(100, 2, seed = 5L) ++
      Generators.cycle(5).map { case (a, b) => (a + 1000, b + 1000) } ++
      Generators.path(4).map { case (a, b) => (a + 2000, b + 2000) }
    val got = labels(e)
    val want = ReferenceOracles.connectedComponentsMinVid(e)
    assert(got == want)
  }

  test("invariant under vertex-id permutation (partition structure)") {
    val e = Generators.chainBlocks(3, 5)
    val perm = e.map { case (a, b) => (a * 7 + 13, b * 7 + 13) }
    val l1 = labels(e)
    val l2 = labels(perm)
    val p1 = l1.groupBy(_._2).values.map(_.keys.map(v => v * 7 + 13).toSet).toSet
    val p2 = l2.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(p1 == p2)
  }

  test("component count (gf numberOfConnectedComponents equivalent)") {
    val e = Generators.twoComp
    assert(ConnectedComponents.count(spark, Generators.edgesDF(spark, e)) == 2L)
  }

  test("one action per round: each round's edge count rides on its checkpoint") {
    val e = Generators.barabasiAlbert(100, 2, seed = 5L) ++
      Generators.cycle(5).map { case (a, b) => (a + 1000, b + 1000) } ++
      Generators.path(4).map { case (a, b) => (a + 2000, b + 2000) }
    val (got, names) = ActionLog.during(spark)(log => (labels(e), log.names))
    assert(got == ReferenceOracles.connectedComponentsMinVid(e))
    // set-up counts the vertex cache and the initial edges; each round is
    // its checkpoint, plus the anti-join confirmation once the counts agree;
    // then the labels checkpoint and the collect
    val rounds = names.count(_ == "localCheckpoint") - 1
    val confirmations = names.count(_ == "isEmpty")
    assert(rounds >= 2 && confirmations >= 1 && confirmations <= rounds, names)
    assert(names.filterNot(_ == "isEmpty") ==
      Seq("count", "count") ++ Seq.fill(rounds + 1)("localCheckpoint") :+ "collect", names)
  }

  test("matches the oracle on power-law graphs") {
    for (seed <- Seq(3L, 17L, 41L)) {
      val df = Generators.powerLawEdges(spark, 2000, 4, seed)
      val e = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(labelsOf(df) == ReferenceOracles.connectedComponentsMinVid(e), s"seed $seed")
    }
  }

  test("matches the oracle on a degree-2000 hub joined to a path") {
    // the hub is not the component minimum, so its whole neighbourhood is
    // relabelled through the one window partition that holds it
    val e = Generators.star(2000).map { case (_, leaf) => (3000L, leaf) } ++
      Generators.path(100).map { case (a, b) => (a + 2000, b + 2000) }
    assert(labels(e) == ReferenceOracles.connectedComponentsMinVid(e))
  }

  test("matches the oracle on int-typed input with duplicates, reversals, self-loops and nulls") {
    import spark.implicits._
    val raw: Seq[(Option[Int], Option[Int])] = Seq(
      (Some(1), Some(2)), (Some(1), Some(2)), (Some(2), Some(1)), (Some(2), Some(3)),
      (Some(3), Some(3)), (Some(9), Some(9)), (None, Some(4)), (Some(5), None), (None, None),
      (Some(6), Some(7)), (Some(7), Some(6)), (Some(7), Some(8)), (Some(8), Some(6)))
    val df = raw.toDF("a", "b")
    val clean = raw.collect { case (Some(a), Some(b)) if a != b => (a.toLong, b.toLong) }
    assert(labelsOf(df) == ReferenceOracles.connectedComponentsMinVid(clean))
  }

  test("a failure mid-run rethrows and leaves no persisted RDD behind") {
    val path = Generators.edgesDF(spark, Generators.path(20))
    // set-up fails while it builds its caches
    val boom = udf((v: Long) => if (v == 7L) throw new IllegalStateException("bad vertex 7") else v)
    assertFailsWithoutLeak(spark, "bad vertex 7")(
      ConnectedComponents.run(spark, path.select(boom(col("src")).as("src"), col("dst"))))
    // a round fails once the set-up caches and a round's checkpoint exist:
    // the first plan that reads a checkpoint fails to optimize
    failingFirstCheckpointRead(spark, "round failed") {
      assertFailsWithoutLeak(spark, "round failed")(ConnectedComponents.run(spark, path))
    }
  }

  test("plan shape: a round is 3 shuffle exchanges and reads the previous round twice") {
    val e = Generators.barabasiAlbert(100, 2, seed = 5L) ++
      Generators.cycle(5).map { case (a, b) => (a + 1000, b + 1000) }
    // without AQE the recorded plan is the final physical plan
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (got, plans) = try ActionLog.during(spark) { log =>
      (labels(e), log.entries.collect { case ("localCheckpoint", qe) => qe.executedPlan })
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(got == ReferenceOracles.connectedComponentsMinVid(e))
    val rounds = plans.init // the last checkpoint is the labels
    assert(rounds.size >= 2)
    // the one source every scan of a round reads: round 1 the cached set-up
    // edges, later rounds the previous round's checkpoint RDD
    def sources(plan: SparkPlan): Seq[AnyRef] = plan.collectLeaves().map {
      case s: RDDScanExec => s.rdd
      case s: InMemoryTableScanExec => s.relation.cacheBuilder
      case other => fail(s"unexpected leaf $other")
    }
    val read = rounds.map { plan =>
      assert(plan.collect { case x: ShuffleExchangeExec => x }.size == 3, plan)
      assert(plan.collect { case x: BroadcastExchangeExec => x }.isEmpty, plan)
      val src = sources(plan)
      assert(src.size == 2 && (src(0) eq src(1)), plan)
      src.head
    }
    assert(read.sliding(2).forall { case Seq(a, b) => a ne b }, "a round re-read its own input")
  }
}
