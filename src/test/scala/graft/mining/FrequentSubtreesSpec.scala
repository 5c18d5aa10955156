package graft.mining

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import graft.{ActionLog, SparkTestBase}
import graft.FailureChecks.{assertFailsWithoutLeak, failingFirstCheckpointRead}
import graft.mining.SubtreeIso.LTree

class FrequentSubtreesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // ---- SubtreeIso kernel ----

  private def lt(vl: Seq[String], es: (Int, Int, String)*) = LTree(vl.toArray, es.toArray)

  test("subtree iso: labeled path embeds in longer path, label mismatch rejects") {
    val p2 = lt(Seq("a", "b"), (0, 1, "x"))
    val t3 = lt(Seq("a", "b", "a"), (0, 1, "x"), (1, 2, "x"))
    assert(SubtreeIso.embeds(p2, t3))
    assert(SubtreeIso.embeds(lt(Seq("b", "a"), (0, 1, "x")), t3)) // orientation-free
    assert(!SubtreeIso.embeds(lt(Seq("a", "c"), (0, 1, "x")), t3)) // no c label
    assert(!SubtreeIso.embeds(lt(Seq("a", "b"), (0, 1, "y")), t3)) // edge label
  }

  test("subtree iso: star needs enough same-label children (injectivity)") {
    val star3 = lt(Seq("c", "l", "l", "l"), (0, 1, "e"), (0, 2, "e"), (0, 3, "e"))
    val star2 = lt(Seq("c", "l", "l"), (0, 1, "e"), (0, 2, "e"))
    assert(SubtreeIso.embeds(star2, star3))
    assert(!SubtreeIso.embeds(star3, star2)) // bipartite matching must fail
  }

  test("subtree iso: path of 4 does not embed in star of 4 (shape)") {
    val p4 = lt(Seq("l", "l", "l", "l"), (0, 1, "e"), (1, 2, "e"), (2, 3, "e"))
    val s4 = lt(Seq("l", "l", "l", "l"), (0, 1, "e"), (0, 2, "e"), (0, 3, "e"))
    assert(!SubtreeIso.embeds(p4, s4))
    assert(SubtreeIso.embeds(lt(Seq("l", "l", "l"), (0, 1, "e"), (1, 2, "e")), s4)) // P3 does
  }

  test("canonical string: invariant under relabeling of vertex ids") {
    val a = lt(Seq("x", "y", "z"), (0, 1, "e"), (1, 2, "f"))
    val b = lt(Seq("z", "y", "x"), (2, 1, "e"), (1, 0, "f"))
    assert(SubtreeIso.canonicalString(a) == SubtreeIso.canonicalString(b))
    val c = lt(Seq("x", "y", "z"), (0, 1, "e"), (1, 2, "e"))
    assert(SubtreeIso.canonicalString(a) != SubtreeIso.canonicalString(c))
  }

  test("cstring reader: parse is the inverse of canonicalString (round trip)") {
    val trees = Seq(
      lt(Seq("a")),
      lt(Seq("a", "b"), (0, 1, "x")),
      lt(Seq("a", "b", "a", "c"), (0, 1, "x"), (1, 2, "x"), (2, 3, "y")),
      lt(Seq("c", "l", "l", "l"), (0, 1, "e"), (0, 2, "e"), (0, 3, "f")))
    for (t <- trees) {
      val cs = SubtreeIso.canonicalString(t)
      val parsed = SubtreeIso.parseCanonicalString(cs)
      assert(parsed.n == t.n && parsed.edges.length == t.edges.length)
      assert(SubtreeIso.canonicalString(parsed) == cs, s"round trip of $cs")
    }
  }

  // ---- miner vs brute-force oracle ----

  /** All connected vertex subsets of size <= maxK of a FOREST are exactly its
    * subtrees; canonical-string them (per graph, distinct). */
  private def bruteFrequent(graphs: Seq[(Long, Seq[String], Seq[(Int, Int, String)])],
      threshold: Int, maxK: Int): Map[(Int, String), Long] = {
    def subtreesOf(vl: Seq[String], es: Seq[(Int, Int, String)]): Set[(Int, String)] = {
      val n = vl.size
      val adj = Array.fill(n)(List.empty[Int])
      val elab = scala.collection.mutable.Map[(Int, Int), String]()
      for ((a, b, l) <- es) {
        adj(a) ::= b; adj(b) ::= a; elab((a, b)) = l; elab((b, a)) = l
      }
      val found = scala.collection.mutable.Set[(Int, String)]()
      def grow(cur: Set[Int]): Unit = {
        val sub = es.filter(e => cur(e._1) && cur(e._2)).map(e => e.copy())
        val remap = cur.toSeq.sorted.zipWithIndex.toMap
        found += ((cur.size, SubtreeIso.canonicalString(LTree(
          cur.toSeq.sorted.map(vl).toArray,
          sub.map { case (a, b, l) => (remap(a), remap(b), l) }.toArray))))
        if (cur.size < maxK) {
          val frontier = cur.flatMap(adj(_)).filterNot(cur)
          for (f <- frontier) grow(cur + f)
        }
      }
      for (v <- 0 until n) grow(Set(v))
      found.toSet
    }
    graphs.flatMap { case (_, vl, es) => subtreesOf(vl, es) }
      .groupBy(identity).map { case (k, occ) => k -> occ.size.toLong }
      .filter(_._2 >= threshold)
  }

  test("miner matches brute-force oracle on a labeled forest DB") {
    // 4 small labeled trees: two similar paths, a star, a 2-level tree
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
      val got = FrequentSubtrees.mine(spark, verts, edges, t, maxPatternSize = 4)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = bruteFrequent(graphs, t, 4)
      assert(got == want, s"threshold=$t\ngot=${got.toSeq.sorted}\nwant=${want.toSeq.sorted}")
    }
  }

  test("DFS strategy mines the identical set + supports as BFS (lwg -m dfs parity)") {
    val graphs = Seq[(Long, Seq[String], Seq[(Int, Int, String)])](
      (0L, Seq("a", "b", "a", "c"), Seq((0, 1, "x"), (1, 2, "x"), (2, 3, "y"))),
      (1L, Seq("a", "b", "a"), Seq((0, 1, "x"), (1, 2, "x"))),
      (2L, Seq("b", "a", "a", "a"), Seq((0, 1, "x"), (0, 2, "x"), (0, 3, "y"))),
      (3L, Seq("c", "b", "a", "a"), Seq((0, 1, "y"), (1, 2, "x"), (1, 3, "x"))))
    val verts = graphs.flatMap { case (g, vl, _) => vl.zipWithIndex.map { case (l, i) => (g, i.toLong, l) } }
      .toDF("graph_id", "vid", "vlabel")
    val edges = graphs.flatMap { case (g, _, es) => es.map { case (a, b, l) => (g, a.toLong, b.toLong, l) } }
      .toDF("graph_id", "src", "dst", "elabel")
    for (t <- Seq(1, 2, 3)) {
      val bfs = FrequentSubtrees.mine(spark, verts, edges, t, maxPatternSize = 4)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val dfs = FrequentSubtrees.mineDfs(spark, verts, edges, t, maxPatternSize = 4)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(dfs == bfs, s"threshold=$t strategy mismatch")
      // the support-set cap only degrades the restriction, never the result
      val dfsCapped = FrequentSubtrees.mineDfs(spark, verts, edges, t, maxPatternSize = 4,
        supportSetCap = 0)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(dfsCapped == bfs, s"threshold=$t capped mismatch")
    }
  }

  test("DFS miner destroys its per-expansion broadcasts (no accumulation over the walk)") {
    val graphs = Seq[(Long, Seq[String], Seq[(Int, Int, String)])](
      (0L, Seq("a", "b", "a", "c"), Seq((0, 1, "x"), (1, 2, "x"), (2, 3, "y"))),
      (1L, Seq("a", "b", "a"), Seq((0, 1, "x"), (1, 2, "x"))),
      (2L, Seq("b", "a", "a", "a"), Seq((0, 1, "x"), (0, 2, "x"), (0, 3, "y"))),
      (3L, Seq("c", "b", "a", "a"), Seq((0, 1, "y"), (1, 2, "x"), (1, 3, "x"))))
    val verts = graphs.flatMap { case (g, vl, _) => vl.zipWithIndex.map { case (l, i) => (g, i.toLong, l) } }
      .toDF("graph_id", "vid", "vlabel")
    val edges = graphs.flatMap { case (g, _, es) => es.map { case (a, b, l) => (g, a.toLong, b.toLong, l) } }
      .toDF("graph_id", "src", "dst", "elabel")
    val created0 = FrequentSubtrees.dfsBroadcastsCreated.get()
    val destroyed0 = FrequentSubtrees.dfsBroadcastsDestroyed.get()
    // threshold 1 maximizes the pattern space -> many expansions, each of
    // which creates a children broadcast and (under the support-set path)
    // a support-id-set broadcast; all must be destroyed before return
    FrequentSubtrees.mineDfs(spark, verts, edges, 1L, maxPatternSize = 4).collect()
    val created = FrequentSubtrees.dfsBroadcastsCreated.get() - created0
    val destroyed = FrequentSubtrees.dfsBroadcastsDestroyed.get() - destroyed0
    assert(created >= 10, s"expected a deep walk (many expansions), saw only $created broadcasts")
    assert(created == destroyed, s"DFS mine leaked broadcasts: created=$created destroyed=$destroyed")
  }

  test("mine rejects shared graphs prepared under an operator with other per-transaction structures") {
    val verts = Seq((0L, 0L, "a"), (0L, 1L, "a")).toDF("graph_id", "vid", "vlabel")
    val edges = Seq((0L, 0L, 1L, "x")).toDF("graph_id", "src", "dst", "elabel")
    val prepared = FrequentSubtrees.prepareGraphs(spark, verts, edges,
      FrequentSubtrees.HopsVariant(0, importance = 4, seed = 1L))
    intercept[IllegalArgumentException] {
      FrequentSubtrees.mine(spark, verts, edges, threshold = 1L, maxPatternSize = 2,
        operator = FrequentSubtrees.PsSampledOnce(k = 2, seed = 1L), sharedGraphs = Some(prepared))
    }
  }

  test("GraphCtx serializes without its derived indexes; a deserialized copy answers the same") {
    val g = FrequentSubtrees.TGraph(7L, Seq("a", "b", "a", "c"),
      Seq((0, 1, "x"), (1, 2, "x"), (2, 3, "y")), psForests = Seq(Seq((0, 1, "x"), (1, 2, "x"))))
    def bytes(o: AnyRef): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o)
      oos.close()
      bos.toByteArray
    }
    val fresh = new FrequentSubtrees.GraphCtx(g)
    val forced = new FrequentSubtrees.GraphCtx(g)
    assert(forced.gt.n == 4 && forced.psLts.size == 1 && forced.comps.size == 1) // forces all three
    val spilled = bytes(forced)
    assert(spilled.length == bytes(fresh).length)
    val copy = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(spilled))
      .readObject().asInstanceOf[FrequentSubtrees.GraphCtx]
    val ops = Seq(FrequentSubtrees.ExactSubtree, FrequentSubtrees.AbsImportant(1),
      FrequentSubtrees.PsSampledOnce(1, 0L))
    for (op <- ops; (vl, es, embeds) <- Seq(
        (Seq("a", "b", "a"), Seq((0, 1, "x"), (1, 2, "x")), true),
        (Seq("a", "c"), Seq((0, 1, "x")), false))) {
      assert(FrequentSubtrees.embedsCtx(op, vl, es, forced) == embeds, s"$op $vl")
      assert(FrequentSubtrees.embedsCtx(op, vl, es, copy) == embeds, s"$op $vl (copy)")
    }
  }

  test("treeEnumeration: unlabeled free-tree counts 1,1,1,2 and alphabet filtering") {
    // single frequent label + single triple -> free trees up to iso by size
    val verts = Seq((0L, 0L, "o"), (0L, 1L, "o")).toDF("graph_id", "vid", "vlabel")
    val edges = Seq((0L, 0L, 1L, "e")).toDF("graph_id", "src", "dst", "elabel")
    val got = FrequentSubtrees.enumerateTrees(spark, verts, edges, 1L, maxPatternSize = 4)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val bySize = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySize == Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 2)) // P4 + star3
    assert(got.toSet.contains((4, "o(e o)(e o)(e o)"))) // the star
    // an infrequent label contributes nothing
    val verts2 = verts.union(Seq((0L, 2L, "z")).toDF("graph_id", "vid", "vlabel"))
    val got2 = FrequentSubtrees.enumerateTrees(spark, verts2, edges, 2L, maxPatternSize = 2)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got2.isEmpty) // nothing reaches support 2 on a 1-graph DB
  }

  /** The labeled forest DB of the oracle cases, as (verts, edges). */
  private def forestDB() = {
    val graphs = Seq[(Long, Seq[String], Seq[(Int, Int, String)])](
      (0L, Seq("a", "b", "a", "c"), Seq((0, 1, "x"), (1, 2, "x"), (2, 3, "y"))),
      (1L, Seq("a", "b", "a"), Seq((0, 1, "x"), (1, 2, "x"))),
      (2L, Seq("b", "a", "a", "a"), Seq((0, 1, "x"), (0, 2, "x"), (0, 3, "y"))),
      (3L, Seq("c", "b", "a", "a"), Seq((0, 1, "y"), (1, 2, "x"), (1, 3, "x"))))
    (graphs.flatMap { case (g, vl, _) => vl.zipWithIndex.map { case (l, i) => (g, i.toLong, l) } }
      .toDF("graph_id", "vid", "vlabel"),
      graphs.flatMap { case (g, _, es) => es.map { case (a, b, l) => (g, a.toLong, b.toLong, l) } }
        .toDF("graph_id", "src", "dst", "elabel"))
  }

  test("a level is two checkpoint actions: the pattern count rides on the first") {
    val (verts, edges) = forestDB()
    val (sizes, names) = ActionLog.during(spark) { log =>
      val got = FrequentSubtrees.mine(spark, verts, edges, 1L, maxPatternSize = 4)
        .collect().map(_.getInt(0)).toSet
      (got, log.names)
    }
    assert(sizes == Set(1, 2, 3, 4), sizes) // so levels 2, 3 and 4 all ran
    // set-up collects the extension alphabet; each level checkpoints its
    // frequent keys and its next state; then the result checkpoint and the
    // collect above
    assert(names == Seq("collect") ++ Seq.fill(2 * 3)("localCheckpoint") ++
      Seq("localCheckpoint", "collect"), names)
  }

  test("a failed level rethrows and leaves no persisted RDD behind") {
    val (verts, edges) = forestDB()
    // the first plan that reads a checkpoint (level 2's next state, over its
    // frequent keys) fails to optimize, once the set-up caches, the level's
    // survivors and matches and its frequent-key checkpoint all exist
    failingFirstCheckpointRead(spark, "level failed") {
      assertFailsWithoutLeak(spark, "level failed")(FrequentSubtrees.mine(spark, verts, edges, 2L, maxPatternSize = 3))
    }
  }

  test("treeEnumeration: a failed level rethrows and leaves no persisted RDD behind") {
    val (verts, edges) = forestDB()
    // level 3 reads level 2's checkpoint and fails to optimize, once the
    // seed patterns are cached and level 2 is checkpointed
    failingFirstCheckpointRead(spark, "level failed") {
      assertFailsWithoutLeak(spark, "level failed")(
        FrequentSubtrees.enumerateTrees(spark, verts, edges, 1L, maxPatternSize = 3))
    }
  }

  test("a failed DFS mine rethrows and leaves no persisted RDD or live broadcast behind") {
    val (verts, edges) = forestDB()
    // a raise_error row fails while the shuffle stages under the graph cache
    // run, before the cache exists; an edge to a vertex its graph lacks fails
    // in the per-graph re-indexing, once the graph cache is persisted
    val raising = edges.withColumn("src",
      when(col("graph_id") === 2L && col("dst") === 3L, raise_error(lit("dfs failed"))).otherwise(col("src")))
    val dangling = edges.union(Seq((2L, 0L, 9L, "x")).toDF("graph_id", "src", "dst", "elabel"))
    for ((bad, message) <- Seq(raising -> "dfs failed", dangling -> "key not found: 9")) {
      val created0 = FrequentSubtrees.dfsBroadcastsCreated.get()
      val destroyed0 = FrequentSubtrees.dfsBroadcastsDestroyed.get()
      assertFailsWithoutLeak(spark, message)(
        FrequentSubtrees.mineDfs(spark, verts, bad, 1L, maxPatternSize = 3).collect())
      assert(FrequentSubtrees.dfsBroadcastsCreated.get() - created0 ==
        FrequentSubtrees.dfsBroadcastsDestroyed.get() - destroyed0)
    }
  }
}
