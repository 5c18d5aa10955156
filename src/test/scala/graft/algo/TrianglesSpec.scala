package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.fixtures.{Generators, ReferenceOracles}

class TrianglesSpec extends AnyFunSuite with SparkTestBase {

  private def choose3(n: Int): Long = n.toLong * (n - 1) * (n - 2) / 6

  /** Every case runs on both pair sources: a budget no graph exceeds (the
    * broadcast map) and budget 0 (the shuffled join). */
  private val budgets = Seq(Long.MaxValue, 0L)

  private def perVertex(df: DataFrame, budget: Long): Map[Long, Long] =
    Triangles.perVertex(spark, df, budget).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K_n has C(n,3) triangles; per-vertex C(n-1,2)") {
    for (n <- Seq(3, 4, 6); b <- budgets) {
      val df = Generators.edgesDF(spark, Generators.clique(n))
      assert(Triangles.globalCount(spark, df, b) == choose3(n))
      val per = perVertex(df, b)
      val want = (n - 1).toLong * (n - 2) / 2
      assert(per.size == n && per.values.forall(_ == want))
    }
  }

  test("paths, stars, trees have 0 triangles; C_3 has 1; C_5 has 0") {
    for (b <- budgets) {
      assert(Triangles.globalCount(spark, Generators.edgesDF(spark, Generators.path(16)), b) == 0L)
      assert(Triangles.globalCount(spark, Generators.edgesDF(spark, Generators.star(50)), b) == 0L)
      assert(Triangles.globalCount(spark, Generators.edgesDF(spark, Generators.cycle(3)), b) == 1L)
      assert(Triangles.globalCount(spark, Generators.edgesDF(spark, Generators.cycle(5)), b) == 0L)
    }
  }

  test("matches wedge-check oracle on BA power-law graph") {
    val e = Generators.barabasiAlbert(80, 3, seed = 42L)
    val (g, per) = ReferenceOracles.triangles(e)
    val df = Generators.edgesDF(spark, e)
    for (b <- budgets) {
      assert(Triangles.globalCount(spark, df, b) == g)
      assert(perVertex(df, b) == per)
    }
  }

  test("invariant under edge-list direction/duplication (symmetrization idempotent)") {
    val e = Generators.clique(5)
    val noisy = e ++ e.map { case (a, b) => (b, a) } ++ e.take(3)
    for (b <- budgets)
      assert(Triangles.globalCount(spark, Generators.edgesDF(spark, noisy), b) == choose3(5))
  }

  test("common neighbor counts (graph.c:105 commonNeighborCount semantics)") {
    val df = Generators.edgesDF(spark, Generators.clique(4))
    val cn = Triangles.commonNeighbors(spark, df).collect()
    assert(cn.length == 6 && cn.forall(_.getInt(2) == 2))
  }

  private val ba = Generators.barabasiAlbert(80, 3, seed = 42L)

  /** Brute-force neighbour sets of the undirected, loop-free graph `e`. */
  private def nbrs(e: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    (e ++ e.map(_.swap)).filter { case (a, b) => a != b }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }

  /** Brute-force triangles of `e` as ascending (u, v, w). */
  private def bruteTriangles(e: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val n = nbrs(e)
    for (u <- n.keys.toSeq; v <- n(u).toSeq if v > u; w <- n(u).toSeq if w > v && n(v)(w)) yield (u, v, w)
  }

  test("enumerate lists every triangle of a BA graph exactly once, on both pair sources") {
    val want = bruteTriangles(ba).sorted
    assert(want.nonEmpty)
    for (b <- budgets) {
      val got = Triangles.enumerate(spark, Generators.edgesDF(spark, ba), b).collect().toSeq.map { r =>
        val Seq(x, y, z) = Seq(r.getLong(0), r.getLong(1), r.getLong(2)).sorted
        (x, y, z)
      }
      assert(got.sorted == want)
    }
  }

  test("commonNeighbors matches brute-force counts on a BA graph, on both pair sources") {
    val n = nbrs(ba)
    val want = (for (u <- n.keys.toSeq; v <- n(u).toSeq if v > u) yield (u, v, (n(u) & n(v)).size)).sorted
    for (b <- budgets) {
      val got = Triangles.commonNeighbors(spark, Generators.edgesDF(spark, ba), b).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(got.sorted == want)
    }
  }

  private def labelTriples(e: Seq[(Long, Long)], labels: Map[Long, String], b: Long): Map[Seq[String], Long] = {
    import spark.implicits._
    Triangles.labelTripleCounts(spark, Generators.edgesDF(spark, e), labels.toSeq.toDF("vid", "lab"), b)
      .collect().map(r => Seq(r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
  }

  test("labelTripleCounts matches brute-force label-triple counts on a BA graph, on both pair sources") {
    val labels = nbrs(ba).keys.map(v => v -> s"L${v % 3}").toMap
    val want = bruteTriangles(ba).groupBy { case (u, v, w) => Seq(u, v, w).map(labels).sorted }
      .map { case (k, ts) => k -> ts.size.toLong }
    assert(want.size > 1)
    for (b <- budgets) assert(labelTriples(ba, labels, b) == want)
  }

  test("labelTripleCounts counts a triangle with an unlabeled vertex in no class, on both pair sources") {
    // all four degrees of K_4 are equal, so vertex 0 is the source of every
    // oriented edge
    val labels = Map(1L -> "x", 2L -> "y", 3L -> "x")
    for (b <- budgets) assert(labelTriples(Generators.clique(4), labels, b) == Map(Seq("x", "x", "y") -> 1L))
  }

  test("no entry point leaves a persisted RDD behind, on success or when the edges fail") {
    import spark.implicits._
    val sc = spark.sparkContext
    val df = Generators.edgesDF(spark, ba)
    val labels = nbrs(ba).keys.toSeq.map(v => (v, s"L${v % 3}")).toDF("vid", "lab")
    def noneLeft(body: => Any): Unit = {
      val before = sc.getPersistentRDDs.keySet
      body
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"left persisted RDDs $left")
    }
    for (b <- budgets) {
      noneLeft(Triangles.enumerate(spark, df, b).collect())
      noneLeft(Triangles.globalCount(spark, df, b))
      noneLeft(Triangles.perVertex(spark, df, b).collect())
      noneLeft(Triangles.labelTripleCounts(spark, df, labels, b).collect())
      noneLeft(Triangles.commonNeighbors(spark, df, b).collect())
    }
    val failing = df.select(when(col("src") === 5, raise_error(lit("boom"))).otherwise(col("src")).as("src"), col("dst"))
    noneLeft {
      val err = intercept[Exception](Triangles.globalCount(spark, failing))
      val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(messages.exists(_.contains("boom")), err)
    }
  }
}
