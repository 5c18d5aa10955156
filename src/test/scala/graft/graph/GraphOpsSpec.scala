package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fixtures.Generators

class GraphOpsSpec extends AnyFunSuite with SparkTestBase {

  test("checkpointObserved: observed count and sum equal a separate aggregate on a shuffled frame") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = spark.range(0, 5000).repartition(7)
      .groupBy((col("id") % 97).as("k"))
      .agg(sum(col("id")).as("s"), count(lit(1)).as("c"))
    val (cp, row) = GraphOps.checkpointObserved(df, Seq(count(lit(1)), sum(col("s"))), drop = Seq("c"))
    val want = df.agg(count(lit(1)), sum(col("s"))).head()
    assert(row.getLong(0) == want.getLong(0) && row.getLong(1) == want.getLong(1))
    assert(want.getLong(0) == 97L && want.getLong(1) == 4999L * 5000L / 2)
    assert(cp.columns.toSeq == Seq("k", "s"))
    assert(cp.agg(count(lit(1)), sum(col("s"))).head() == want)
    GraphOps.releaseCheckpoint(cp)
  }

  test("egoNets neighbors mode: K_4 ego of any center is the triangle on the other three") {
    val df = Generators.edgesDF(spark, Generators.clique(4))
    val ego = GraphOps.egoNets(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ego of center c = K_3 on the other three vertices (3 edges each), 4 centers
    assert(ego.size == 12)
    assert(ego.filter(_._1 == 0L) == Set((0L, 1L, 2L), (0L, 1L, 3L), (0L, 2L, 3L)))
  }

  test("egoNets neighbors mode: star has empty egos; path P_3 center sees no 0-2 edge") {
    val star = Generators.edgesDF(spark, Generators.star(4))
    assert(GraphOps.egoNets(star).isEmpty)
    val p3 = Generators.edgesDF(spark, Generators.path(3))
    assert(GraphOps.egoNets(p3).isEmpty) // neighbors of 1 are {0,2}, not adjacent
  }

  test("egoNets disk mode adds the spokes (reference neighborhoodGeneratorHelp 'disk')") {
    val p3 = Generators.edgesDF(spark, Generators.path(3))
    val disk = GraphOps.egoNets(p3, disk = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(disk == Set((0L, 0L, 1L), (1L, 0L, 1L), (1L, 1L, 2L), (2L, 1L, 2L)))
  }

  test("erdosRenyiEdges: deterministic, p=1 gives the clique, p=0 empty, density ~ p") {
    val n = 60L
    val all = Generators.erdosRenyiEdges(spark, n, 1.0, 7L).count()
    assert(all == n * (n - 1) / 2)
    assert(Generators.erdosRenyiEdges(spark, n, 0.0, 7L).isEmpty)
    val p = 0.3
    val got = Generators.erdosRenyiEdges(spark, n, p, 7L)
    assert(got.count() == Generators.erdosRenyiEdges(spark, n, p, 7L).count()) // deterministic
    val frac = got.count().toDouble / (n * (n - 1) / 2)
    assert(math.abs(frac - p) < 0.05, s"density $frac vs p=$p")
    // different seed -> different graph
    val other = Generators.erdosRenyiEdges(spark, n, p, 8L)
    assert(got.join(other, Seq("src", "dst"), "left_anti").count() > 0)
  }

  test("overlapGraph: deterministic geometric threshold graph; d=2 gives the clique") {
    assert(Generators.overlapGraph(30, 0.2, 5L) == Generators.overlapGraph(30, 0.2, 5L))
    assert(Generators.overlapGraph(20, 2.0, 5L).size == 20 * 19 / 2) // unit square diameter < 2
    assert(Generators.overlapGraph(20, 0.0, 5L).isEmpty)
  }

  test("clusteredOverlapGraph: cluster labels, truncation, tight clusters connect") {
    val (labels, edges) = Generators.clusteredOverlapGraph(31, 0.05, 3, 0.001, 9L)
    assert(labels.size == 30) // truncated to a multiple of nClusters
    assert(labels.map(_._2).distinct.sorted == Seq("0", "1", "2"))
    // with tiny spread and d >> sigma, same-cluster vertices are connected
    val lab = labels.toMap
    val intra = edges.count { case (a, b) => lab(a) == lab(b) }
    assert(intra >= 3 * (10 * 9 / 2) - 5, s"intra=$intra") // nearly all intra-cluster pairs
  }

  test("blockChain: vertex/edge structure and cactus case (diagonalProbability 0)") {
    val g = Generators.blockChain(4, 3, 0.0, 3L) // 4 triangles chained
    val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
    assert(verts.size == 4 * 3 - 4 + 1 && g.size == 12)
    assert(graft.trees.GraphKernels.isConnectedCactus(g))
    assert(graft.trees.TreeKernels.countSpanningTrees(g).contains(81L)) // 3^4
    // diagonals appear with probability 1
    val dense = Generators.blockChain(2, 5, 1.0, 3L)
    assert(dense.size == 2 * (5 * 4 / 2)) // two 5-cliques sharing a vertex
  }

  test("AIDS decode tables: intended mapping (reference fall-through bug not ported)") {
    import graft.sources.AidsLabels
    assert(AidsLabels.VertexTable(1) == "H" && AidsLabels.VertexTable(2) == "C")
    assert(AidsLabels.VertexTable(37) == "RH" && AidsLabels.VertexTable(63) == "AC")
    assert(AidsLabels.VertexTable.size == 63)
    import spark.implicits._
    val got = Seq(1, 37, 63, 99).toDF("code")
      .select(AidsLabels.vertexElement(org.apache.spark.sql.functions.col("code")))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("H"), Some("RH"), Some("AC"), None))
  }

  test("symmetrize equals canonicalEdges mirrored and deduped on messy int-typed input") {
    import spark.implicits._
    val df = Seq[(Option[Int], Option[Int])](
      (Some(1), Some(2)), (Some(1), Some(2)), (Some(2), Some(1)), (Some(2), Some(3)),
      (Some(3), Some(3)), (None, Some(4)), (Some(5), None), (None, None), (Some(5), Some(4)))
      .toDF("a", "b")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val c = GraphOps.canonicalEdges(df)
    val want = rows(c.union(c.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val got = rows(GraphOps.symmetrize(df))
    assert(got.size == got.distinct.size)
    assert(got.toSet == want.toSet)
    assert(want.toSet == Set(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 5L -> 4L, 4L -> 5L))
  }
}
