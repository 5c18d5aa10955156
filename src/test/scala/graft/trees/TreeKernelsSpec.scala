package graft.trees

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.fixtures.Generators

class TreeKernelsSpec extends AnyFunSuite with SparkTestBase {

  private def unl(vs: Seq[Long]) = vs.map(_ -> "v").toMap

  test("canonical string is invariant under vertex relabeling (cs_Tree semantics)") {
    val t = Seq((0L, 1L), (1L, 2L), (1L, 3L), (3L, 4L)) // a 5-vertex tree
    val perm = Map(0L -> 7L, 1L -> 3L, 2L -> 9L, 3L -> 1L, 4L -> 5L)
    val t2 = t.map { case (a, b) => (perm(a), perm(b)) }
    val cs1 = TreeKernels.canonicalString(t, unl(t.flatMap(e => Seq(e._1, e._2))))
    val cs2 = TreeKernels.canonicalString(t2, unl(t2.flatMap(e => Seq(e._1, e._2))))
    assert(cs1 == cs2)
  }

  test("canonical string distinguishes non-isomorphic trees, respects labels") {
    val path4 = Generators.path(4)
    val star3 = Generators.star(3)
    val u = (vs: Seq[(Long, Long)]) => unl(vs.flatMap(e => Seq(e._1, e._2)))
    assert(TreeKernels.canonicalString(path4, u(path4)) != TreeKernels.canonicalString(star3, u(star3)))
    val labeled1 = TreeKernels.canonicalString(path4, Map(0L -> "a", 1L -> "b", 2L -> "b", 3L -> "a"))
    val labeled2 = TreeKernels.canonicalString(path4, Map(0L -> "a", 1L -> "b", 2L -> "b", 3L -> "c"))
    assert(labeled1 != labeled2)
  }

  test("tree centers: path has middle center(s), star has hub") {
    assert(TreeKernels.treeCenters(Generators.path(5)) == Seq(2L))
    assert(TreeKernels.treeCenters(Generators.path(4)) == Seq(1L, 2L))
    assert(TreeKernels.treeCenters(Generators.star(6)) == Seq(0L))
  }

  test("wilson + kruskal produce spanning trees (n-1 edges, connected, reproducible)") {
    val g = Generators.clique(6)
    val t1 = TreeKernels.wilsonSpanningTree(g, 42L)
    val t2 = TreeKernels.wilsonSpanningTree(g, 42L)
    assert(t1 == t2) // seeded reproducibility
    assert(t1.size == 5)
    val cc = graft.fixtures.ReferenceOracles.connectedComponentsMinVid(t1)
    assert(cc.values.toSet.size == 1)
  }

  test("TreeOps over a graph DB: per-graph canonical strings + sampling") {
    import spark.implicits._
    val edges = (Generators.path(4).map { case (a, b) => (0L, a, b) } ++
      Generators.star(3).map { case (a, b) => (1L, a, b) } ++
      Generators.path(4).map { case (a, b) => (2L, a + 5, b + 5) })
      .toDF("graph_id", "src", "dst")
    val labels = edges.selectExpr("graph_id", "src AS vno").union(edges.selectExpr("graph_id", "dst"))
      .distinct().selectExpr("graph_id", "vno", "'v' AS label")
    val cs = TreeOps.canonicalStrings(spark, edges, labels)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cs(0L) == cs(2L)) // isomorphic paths, different ids
    assert(cs(0L) != cs(1L)) // path vs star
  }
}
