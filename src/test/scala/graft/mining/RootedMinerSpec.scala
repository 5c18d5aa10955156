package graft.mining

import org.scalatest.funsuite.AnyFunSuite
import graft.{ActionLog, SparkTestBase}
import graft.mining.FrequentSubtrees.TGraph

/** lwgr: rooted canonical strings, rooted embedding, rooted miner vs a
  * brute-force enumeration of connected sub-shapes of directed forests. */
class RootedMinerSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("rooted canonical string: child order normalized, root fixed") {
    val a = FrequentSubtrees.rootedCanonicalString(
      Seq("r", "x", "y"), Seq((0, 1, "e"), (0, 2, "f")))
    val b = FrequentSubtrees.rootedCanonicalString(
      Seq("r", "y", "x"), Seq((0, 2, "e"), (0, 1, "f")))
    assert(a == b) // same rooted tree, children listed in different order
    // rooted strings distinguish orientations the free form folds together
    val down = FrequentSubtrees.rootedCanonicalString(Seq("a", "b"), Seq((0, 1, "e")))
    val up = FrequentSubtrees.rootedCanonicalString(Seq("b", "a"), Seq((0, 1, "e")))
    assert(down == "a(e b)" && up == "b(e a)" && down != up)
  }

  test("rooted embedding: directed, label-matched, sibling-injective") {
    // graph: r -> x, x -> y, r -> x' (two x children)
    val g = TGraph(0L, Seq("r", "x", "y", "x"),
      Seq((0, 1, "e"), (1, 2, "e"), (0, 3, "e")))
    assert(FrequentSubtrees.embedsRooted(Seq("r", "x"), Seq((0, 1, "e")), g))
    assert(FrequentSubtrees.embedsRooted(Seq("x", "y"), Seq((0, 1, "e")), g)) // root maps mid-tree
    assert(!FrequentSubtrees.embedsRooted(Seq("y", "x"), Seq((0, 1, "e")), g)) // direction matters
    assert(FrequentSubtrees.embedsRooted(Seq("r", "x", "x"), Seq((0, 1, "e"), (0, 2, "e")), g))
    assert(!FrequentSubtrees.embedsRooted(Seq("r", "x", "x", "x"),
      Seq((0, 1, "e"), (0, 2, "e"), (0, 3, "e")), g)) // injectivity: only 2 x children
    assert(!FrequentSubtrees.embedsRooted(Seq("r", "y"), Seq((0, 1, "e")), g)) // no r->y edge
  }

  /** Brute force: every connected vertex subset of a directed forest induces
    * a unique rooted subtree (rooted at its top vertex). */
  private def bruteRooted(graphs: Seq[(Long, Seq[String], Seq[(Int, Int, String)])],
      threshold: Int, maxK: Int): Map[(Int, String), Long] = {
    def shapesOf(vl: Seq[String], es: Seq[(Int, Int, String)]): Set[(Int, String)] = {
      val n = vl.size
      val und = Array.fill(n)(List.empty[Int])
      for ((a, b, _) <- es) { und(a) ::= b; und(b) ::= a }
      val found = scala.collection.mutable.Set[(Int, String)]()
      def record(cur: Set[Int]): Unit = {
        val sub = es.filter(e => cur(e._1) && cur(e._2))
        val tops = cur.filterNot(v => sub.exists(_._2 == v))
        assert(tops.size == 1)
        val order = tops.head +: cur.toSeq.sorted.filterNot(_ == tops.head)
        val remap = order.zipWithIndex.toMap
        found += ((cur.size, FrequentSubtrees.rootedCanonicalString(
          order.map(vl), sub.map { case (a, b, l) => (remap(a), remap(b), l) })))
      }
      def grow(cur: Set[Int]): Unit = {
        record(cur)
        if (cur.size < maxK)
          for (f <- cur.flatMap(und(_)).filterNot(cur)) grow(cur + f)
      }
      for (v <- 0 until n) grow(Set(v))
      found.toSet
    }
    graphs.flatMap { case (_, vl, es) => shapesOf(vl, es) }
      .groupBy(identity).map { case (k, occ) => k -> occ.size.toLong }
      .filter(_._2 >= threshold)
  }

  test("rooted miner matches brute-force oracle on a directed forest DB") {
    val graphs = Seq[(Long, Seq[String], Seq[(Int, Int, String)])](
      (0L, Seq("a", "b", "a", "c"), Seq((0, 1, "x"), (1, 2, "x"), (2, 3, "y"))),
      (1L, Seq("a", "b", "a"), Seq((0, 1, "x"), (1, 2, "x"))),
      (2L, Seq("b", "a", "a", "a"), Seq((0, 1, "x"), (0, 2, "x"), (0, 3, "y"))),
      (3L, Seq("c", "b", "a", "a"), Seq((0, 1, "y"), (1, 2, "x"), (1, 3, "x"))))
    val verts = graphs.flatMap { case (g, vl, _) => vl.zipWithIndex.map { case (l, i) => (g, i.toLong, l) } }
      .toDF("graph_id", "vid", "vlabel")
    val edges = graphs.flatMap { case (g, _, es) => es.map { case (a, b, l) => (g, a.toLong, b.toLong, l) } }
      .toDF("graph_id", "src", "dst", "elabel")
    for (t <- Seq(2, 3)) {
      val got = FrequentSubtrees.mineRooted(spark, verts, edges, t, maxPatternSize = 4)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = bruteRooted(graphs, t, 4)
      assert(got == want, s"threshold=$t\ngot=${got.toSeq.sorted}\nwant=${want.toSeq.sorted}")
    }
  }

  private def rootedDB(graphs: Seq[(Long, Seq[String], Seq[(Int, Int, String)])]) =
    (graphs.flatMap { case (g, vl, _) => vl.zipWithIndex.map { case (l, i) => (g, i.toLong, l) } }
      .toDF("graph_id", "vid", "vlabel"),
      graphs.flatMap { case (g, _, es) => es.map { case (a, b, l) => (g, a.toLong, b.toLong, l) } }
        .toDF("graph_id", "src", "dst", "elabel"))

  test("rooted miner rejects a shared child and a directed cycle, and leaves no persisted RDD") {
    val path = (0L, Seq("a", "b", "c"), Seq((0, 1, "x"), (1, 2, "x")))
    val dbs = Seq(
      // graph 7: a -> c <- b, acyclic as an undirected graph
      "in-degree > 1" -> Seq(path, (7L, Seq("a", "b", "c"), Seq((0, 2, "x"), (1, 2, "x")))),
      // graph 8: a -> b -> c -> a, every in-degree 1
      "is cyclic" -> Seq(path, (8L, Seq("a", "b", "c"), Seq((0, 1, "x"), (1, 2, "x"), (2, 0, "x")))))
    for ((why, graphs) <- dbs) {
      val (verts, edges) = rootedDB(graphs)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val err = intercept[Exception](FrequentSubtrees.mineRooted(spark, verts, edges, 1L, maxPatternSize = 3))
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        String.valueOf(t.getMessage).contains(why)), err)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$why: left persisted RDDs $left")
    }
  }

  test("a rooted level is two checkpoint actions: the pattern count rides on the first") {
    val (verts, edges) = rootedDB(Seq(
      (0L, Seq("a", "b", "a", "c"), Seq((0, 1, "x"), (1, 2, "x"), (2, 3, "y"))),
      (1L, Seq("a", "b", "a"), Seq((0, 1, "x"), (1, 2, "x"))),
      (2L, Seq("b", "a", "a", "a"), Seq((0, 1, "x"), (0, 2, "x"), (0, 3, "y")))))
    val (sizes, names) = ActionLog.during(spark) { log =>
      val got = FrequentSubtrees.mineRooted(spark, verts, edges, 1L, maxPatternSize = 4)
        .collect().map(_.getInt(0)).toSet
      (got, log.names)
    }
    assert(sizes == Set(1, 2, 3, 4), sizes) // so levels 2, 3 and 4 all ran
    assert(names == Seq("collect") ++ Seq.fill(2 * 3)("localCheckpoint") ++
      Seq("localCheckpoint", "collect"), names)
  }
}
