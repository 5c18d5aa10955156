package graft.algo

import org.scalatest.funsuite.AnyFunSuite
import graft.{ActionLog, SparkTestBase}
import graft.fixtures.{Generators, ReferenceOracles}

class ConnectedComponentsSpec extends AnyFunSuite with SparkTestBase {

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = Generators.edgesDF(spark, edges)
    ConnectedComponents.run(spark, df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

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
}
