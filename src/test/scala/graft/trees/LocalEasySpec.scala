package graft.trees

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Generators
import graft.mining.SubtreeIso
import graft.mining.SubtreeIso.LTree

/** Sampled / local-easy embedding-operator family (reference
  * localEasySubtreeIsomorphism.c, subtreeIsomorphismSampling.c,
  * lwm_embeddingOperators.c). */
class LocalEasySpec extends AnyFunSuite {

  private def bowtie = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 2L))

  private def ltree(vl: Seq[String], es: Seq[(Int, Int, String)]) =
    LTree(vl.toArray, es.toArray)

  private def ring(n: Int): LTree =
    ltree(Seq.fill(n)("o"), (0 until n).map(i => (i, (i + 1) % n, "e")))

  private def path(k: Int): LTree =
    ltree(Seq.fill(k)("o"), (0 until k - 1).map(i => (i, i + 1, "e")))

  test("blockTree: roots and rooted blocks of a bowtie and a path") {
    val bt = LocalEasy.blockTree(bowtie)
    // both triangles share vertex 2; DFS from 0 discovers 0 first -> the
    // 0-1-2 triangle roots at 0, the 2-3-4 triangle at 2
    assert(bt.rootedBlocks.values.flatten.size == 2)
    assert(bt.rootedBlocks.forall { case (_, bs) => bs.forall(_.size == 3) })
    val pt = LocalEasy.blockTree(Generators.path(4))
    assert(pt.rootedBlocks.values.flatten.size == 3) // 3 bridge blocks
  }

  test("locallySampledStats: rings give one iso class; tree local graphs skip sampling") {
    val labs = (0L to 9L).map(_ -> "o").toMap
    val st = LocalEasy.locallySampledStats(Generators.cycle(7), labs, k = 3, seed = 5L)
    assert(st.nConsidered == 3 && st.nNoniso == 1) // 3 sampled 7-paths, all isomorphic
    val stPath = LocalEasy.locallySampledStats(Generators.path(4), labs, k = 3, seed = 5L)
    assert(stPath.nConsidered == 1 && stPath.nNoniso == 1) // every local graph a bridge
    // bowtie: 2 roots x 3 samples = 9 combinations, each a spanning tree
    val stBow = LocalEasy.locallySampledStats(bowtie, labs, k = 3, seed = 5L)
    assert(stBow.nConsidered == 9 && stBow.nNoniso >= 1 && stBow.nNoniso <= 3)
  }

  test("sampledForestStats: k whole-graph samples, iso classes") {
    val labs = (0L to 9L).map(_ -> "o").toMap
    val (nDistinct, nNoniso) = LocalEasy.sampledForestStats(Generators.cycle(6), labs, k = 4, seed = 11L)
    assert(nDistinct >= 1 && nDistinct <= 4 && nNoniso == 1)
  }

  test("treeIntoGraphEmbeds: subgraph iso of tree patterns into cyclic graphs") {
    assert(LocalEasy.treeIntoGraphEmbeds(path(3), ring(5)))
    assert(LocalEasy.treeIntoGraphEmbeds(path(5), ring(5))) // spanning path
    assert(!LocalEasy.treeIntoGraphEmbeds(path(6), ring(5))) // too big
    // star with 3 leaves needs a degree-3 vertex: not in a ring
    val star3 = ltree(Seq("o", "o", "o", "o"), Seq((0, 1, "e"), (0, 2, "e"), (0, 3, "e")))
    assert(!LocalEasy.treeIntoGraphEmbeds(star3, ring(6)))
    // ...but embeds into the bowtie at the center (degree 4)
    val bowtieL = ltree(Seq.fill(5)("o"), bowtie.map { case (a, b) => (a.toInt, b.toInt, "e") })
    assert(LocalEasy.treeIntoGraphEmbeds(star3, bowtieL))
    // label mismatch rejects
    val labeled = ltree(Seq("a", "b"), Seq((0, 1, "e")))
    assert(!LocalEasy.treeIntoGraphEmbeds(labeled, ring(4)))
    // edge-label mismatch rejects
    val wrongEdge = ltree(Seq("o", "o"), Seq((0, 1, "x")))
    assert(!LocalEasy.treeIntoGraphEmbeds(wrongEdge, ring(4)))
  }

  test("blockwiseSpanningTree spans and stays inside the graph") {
    val g = ltree(Seq.fill(5)("o"), bowtie.map { case (a, b) => (a.toInt, b.toInt, "e") })
    for (seed <- 0L until 10L) {
      val t = LocalEasy.blockwiseSpanningTree(g, seed)
      assert(TreeKernels.isSpanningTree(bowtie, t.edges.map(e => (e._1.toLong, e._2.toLong)).toSeq))
    }
  }

  test("sampledLocalEmbeds: one-sided — every yes is an exact yes") {
    val g = ring(6)
    for (seed <- 0L until 20L) {
      // path-4 embeds in every spanning tree of a ring (a path), so the
      // sampled operator must find it with a single sample
      assert(LocalEasy.sampledLocalEmbeds(path(4), g, k = 1, seed = seed))
      // path-6 spans; some samples are the right cut, all are SOME cut:
      // any cut of a 6-ring is a 6-path, so this must also always embed
      assert(LocalEasy.sampledLocalEmbeds(path(6), g, k = 1, seed = seed))
      // too-big pattern never embeds (no false positives)
      assert(!LocalEasy.sampledLocalEmbeds(path(7), g, k = 3, seed = seed))
    }
  }

  test("HOPS: embeds on rings deterministically; estimator exact at 2n") {
    for (n <- Seq(3, 4, 7); seed <- 0L until 10L) {
      assert(LocalEasy.hopsEmbeds(path(3), ring(n), importance = 1, seed = seed))
      val est = LocalEasy.hopsEstimate(path(3), ring(n), importance = 4, seed = seed)
      assert(math.abs(est - 2.0 * n) < 1e-9, s"n=$n est=$est")
    }
    // no false positives: pattern larger than graph
    assert(!LocalEasy.hopsEmbeds(path(4), ring(3), importance = 16, seed = 1L))
    assert(LocalEasy.hopsEstimate(path(4), ring(3), importance = 16, seed = 1L) == 0.0)
    // star-3 into bowtie: only the center fits; attempts rooted elsewhere
    // may fail, but with enough importance it is found
    val star3 = ltree(Seq("o", "o", "o", "o"), Seq((0, 1, "e"), (0, 2, "e"), (0, 3, "e")))
    val bowtieL = ltree(Seq.fill(5)("o"), bowtie.map { case (a, b) => (a.toInt, b.toInt, "e") })
    assert(LocalEasy.hopsEmbeds(star3, bowtieL, importance = 64, seed = 3L))
  }

  test("cactusTreeSubIso (tci): cactus-only, degree-bounded star embeddings") {
    val bowtieL = ltree(Seq.fill(5)("o"), bowtie.map { case (a, b) => (a.toInt, b.toInt, "e") })
    def star(k: Int) = ltree(Seq.fill(k + 1)("o"), (1 to k).map(i => (0, i, "e")))
    assert(LocalEasy.cactusTreeSubIso(star(3), bowtieL).contains(true)) // center has degree 4
    assert(LocalEasy.cactusTreeSubIso(star(4), bowtieL).contains(true))
    assert(LocalEasy.cactusTreeSubIso(star(5), bowtieL).contains(false)) // no degree-5 vertex
    assert(LocalEasy.cactusTreeSubIso(path(5), bowtieL).contains(true))
    assert(LocalEasy.cactusTreeSubIso(path(6), bowtieL).contains(false)) // no 6-path in a bowtie
    // non-cactus (C4 + chord) -> None
    val c4chord = ltree(Seq.fill(4)("o"),
      Seq((0, 1, "e"), (1, 2, "e"), (2, 3, "e"), (3, 0, "e"), (0, 2, "e")))
    assert(LocalEasy.cactusTreeSubIso(path(3), c4chord).isEmpty)
  }

  test("opkFeatures: ring BB-tree star features; K4 block -> None; labels matter") {
    val uniform = (0L to 9L).map(_ -> "o").toMap
    // ring of 4: block node OP[o o o o|] with 4 member vertices
    val feats = GraphKernels.opkFeatures(Generators.cycle(4), uniform, depth = 3).get
    assert(feats == Seq(
      "OP[o o o o|](o)(o)(o)(o)", "o(OP[o o o o|](o)(o)(o))", "o(OP[o o o o|])").sorted)
    // bridge only: single mirrored feature
    assert(GraphKernels.opkFeatures(Seq((0L, 1L)), uniform, depth = 2).get == Seq("o(o)"))
    // non-outerplanar block kills the kernel (reference returns NULL)
    assert(GraphKernels.opkFeatures(Generators.clique(4), uniform).isEmpty)
    // label-sensitivity: distinct labels produce distinct block strings
    val labs = Map(0L -> "a", 1L -> "b", 2L -> "a", 3L -> "b")
    val f2 = GraphKernels.opkFeatures(Generators.cycle(4), labs, depth = 1).get
    assert(f2.exists(_.startsWith("OP[")) && f2 != feats)
    // bowtie: two block nodes through the shared cut vertex, depth reaches across
    val bow = GraphKernels.opkFeatures(bowtie, uniform, depth = 4).get
    assert(bow.nonEmpty && bow.exists(_.contains("OP[o o o|]")))
  }

  test("importance operators: per-component counts, absimp/relimp mining") {
    // forest: star(0;1,2) + edge(3,4) + isolated 5
    val g = ltree(Seq.fill(6)("o"),
      Seq((0, 1, "e"), (0, 2, "e"), (3, 4, "e")))
    assert(LocalEasy.components(g).size == 3)
    val vpat = ltree(Seq("o"), Nil)
    val epat = ltree(Seq("o", "o"), Seq((0, 1, "e")))
    val p3 = path(3)
    assert(LocalEasy.importanceCount(vpat, g) == 3)
    assert(LocalEasy.importanceCount(epat, g) == 2)
    assert(LocalEasy.importanceCount(p3, g) == 1)
    assert(math.abs(LocalEasy.importanceRelative(epat, g) - 2.0 / 3) < 1e-12)
    // miner with AbsImportant(2): edge pattern kept (2 components), p3 not
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val v = (0 to 5).map(i => (1L, i.toLong, "o")).toDF("graph_id", "vid", "vlabel")
    val e = Seq((1L, 0L, 1L, "e"), (1L, 0L, 2L, "e"), (1L, 3L, 4L, "e"))
      .toDF("graph_id", "src", "dst", "elabel")
    val mined = graft.mining.FrequentSubtrees.mine(spark, v, e, threshold = 1, maxPatternSize = 3,
      operator = graft.mining.FrequentSubtrees.AbsImportant(2))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(mined == Set((1, "o", 1L), (2, "o(e o)", 1L))) // p3 in only 1 component
    val minedRel = graft.mining.FrequentSubtrees.mine(spark, v, e, threshold = 1, maxPatternSize = 3,
      operator = graft.mining.FrequentSubtrees.RelImportant(0.5))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(minedRel == Set((1, "o", 1L), (2, "o(e o)", 1L))) // 2/3 >= 0.5, 1/3 < 0.5
  }

  test("miner with local-easy/HOPS operators on a cyclic DB (brute-force cross-check)") {
    // exact subtree operator refuses cyclic transactions; the local-easy
    // operator mines them
    val spark = graft.SparkTestSession.spark
    val gids = Seq(1L -> 3, 2L -> 4, 3L -> 5, 4L -> 2) // ring sizes (2 = single edge)
    val vertRows = gids.flatMap { case (g, n) => (0 until n).map(i => (g, i.toLong, "o")) }
    val edgeRows = gids.flatMap { case (g, n) =>
      if (n == 2) Seq((g, 0L, 1L, "e"))
      else (0 until n).map(i => (g, i.toLong, ((i + 1) % n).toLong, "e"))
    }
    import spark.implicits._
    val v = vertRows.toDF("graph_id", "vid", "vlabel")
    val e = edgeRows.toDF("graph_id", "src", "dst", "elabel")
    val exact = graft.mining.FrequentSubtrees.mine(spark, v, e, threshold = 1, maxPatternSize = 3,
      operator = graft.mining.FrequentSubtrees.LocalEasyExact)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(exact == Set((1, "o", 4L), (2, "o(e o)", 4L), (3, "o(e o)(e o)", 3L)))
    val hops = graft.mining.FrequentSubtrees.mine(spark, v, e, threshold = 1, maxPatternSize = 3,
      operator = graft.mining.FrequentSubtrees.Hops(4, 99L))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(hops == exact) // on uniform rings HOPS is deterministic-exact
    val sampled = graft.mining.FrequentSubtrees.mine(spark, v, e, threshold = 1, maxPatternSize = 3,
      operator = graft.mining.FrequentSubtrees.LocalEasySampled(2, 7L))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(sampled == exact) // every ring cut contains every path-3
    // the plain exact-subtree operator must refuse the cyclic DB
    intercept[org.apache.spark.SparkException] {
      graft.mining.FrequentSubtrees.mine(spark, v, e, threshold = 1, maxPatternSize = 3).collect()
    }
  }

  test("bpsEmbeds: single-root edges must come from ONE sampled tree; roots mix freely") {
    val sq = ltree(Seq.fill(4)("o"), Seq((0, 1, "e"), (1, 2, "e"), (2, 3, "e"), (3, 0, "e")))
    // one root, two sampled trees: path 0-1-2 and path 2-3-0
    val oneRoot = Seq(Seq(Seq((0, 1), (1, 2)), Seq((2, 3), (3, 0))))
    assert(LocalEasy.bpsEmbeds(path(3), sq, oneRoot))
    // a 4-path exists in the UNION (3-0-1-2) but needs edges from both trees
    // of the same root — not a valid combination
    assert(!LocalEasy.bpsEmbeds(path(4), sq, oneRoot))
    // the same edges split across two roots: mixing is allowed
    val twoRoots = Seq(Seq(Seq((0, 1), (1, 2))), Seq(Seq((2, 3))))
    assert(LocalEasy.bpsEmbeds(path(4), sq, twoRoots))
    // label mismatches still fail
    val labeled = ltree(Seq("a", "b", "a", "b"), Seq((0, 1, "e"), (1, 2, "e"), (2, 3, "e"), (3, 0, "e")))
    val pat = ltree(Seq("a", "a"), Seq((0, 1, "e")))
    assert(!LocalEasy.bpsEmbeds(pat, labeled, oneRoot))
  }

  test("sample-once ps/bps miners: exact on rings, deterministic, apriori-stable") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val gids = Seq(1L -> 3, 2L -> 4, 3L -> 5, 4L -> 2)
    val vertRows = gids.flatMap { case (g, n) => (0 until n).map(i => (g, i.toLong, "o")) }
    val edgeRows = gids.flatMap { case (g, n) =>
      if (n == 2) Seq((g, 0L, 1L, "e"))
      else (0 until n).map(i => (g, i.toLong, ((i + 1) % n).toLong, "e"))
    }
    val v = vertRows.toDF("graph_id", "vid", "vlabel")
    val e = edgeRows.toDF("graph_id", "src", "dst", "elabel")
    val want = Set((1, "o", 4L), (2, "o(e o)", 4L), (3, "o(e o)(e o)", 3L))
    def mineWith(op: graft.mining.FrequentSubtrees.EmbeddingOp, maxSize: Int = 3) =
      graft.mining.FrequentSubtrees.mine(spark, v, e, threshold = 1, maxPatternSize = maxSize,
        operator = op).collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val ps = mineWith(graft.mining.FrequentSubtrees.PsSampledOnce(1, 77L))
    assert(ps == want) // any ring spanning tree is an n-path
    val bps = mineWith(graft.mining.FrequentSubtrees.BpsSampledOnce(1, 78L))
    assert(bps == want)
    // determinism under the seed
    assert(mineWith(graft.mining.FrequentSubtrees.PsSampledOnce(1, 77L)) == ps)
    // apriori stability: the size<=2 prefix is unchanged when mining deeper
    // (the sampled structures are FIXED per transaction, so supports cannot
    // drift across levels — the property resampling destroys)
    val psShallow = mineWith(graft.mining.FrequentSubtrees.PsSampledOnce(1, 77L), maxSize = 2)
    assert(ps.filter(_._1 <= 2) == psShallow)
    val bpsShallow = mineWith(graft.mining.FrequentSubtrees.BpsSampledOnce(1, 78L), maxSize = 2)
    assert(bps.filter(_._1 <= 2) == bpsShallow)
  }

  test("hopsVariantAttempt: one-sided, deterministic, and complete on rings") {
    import scala.util.Random
    val bowtieL = ltree(Seq.fill(5)("o"), bowtie.map { case (a, b) => (a.toInt, b.toInt, "e") })
    val star3 = ltree(Seq("o", "o", "o", "o"), Seq((0, 1, "e"), (0, 2, "e"), (0, 3, "e")))
    for (mode <- 0 to 2) {
      // one-sided: every success certifies a real subgraph embedding
      for (seed <- 0 until 100; (h, g) <- Seq(path(3) -> ring(5), star3 -> ring(6),
          star3 -> bowtieL, path(6) -> ring(5))) {
        val ok = LocalEasy.hopsVariantAttempt(h, g, new Random(seed), mode)
        if (ok) assert(LocalEasy.treeIntoGraphEmbeds(h, g), s"mode=$mode seed=$seed")
      }
      // impossible embeddings never succeed
      assert(!LocalEasy.hopsVariantEmbeds(path(6), ring(5), 50, 1L, mode))
      assert(!LocalEasy.hopsVariantEmbeds(star3, ring(6), 50, 1L, mode))
      // deterministic under the seed
      val a = (0 until 30).map(i => LocalEasy.hopsVariantAttempt(path(3), bowtieL, new Random(i), mode))
      val b = (0 until 30).map(i => LocalEasy.hopsVariantAttempt(path(3), bowtieL, new Random(i), mode))
      assert(a == b)
      // on uniform-label rings EVERY attempt succeeds (each assignment step
      // has >= 1 fitting free neighbor) — the f_lwg_mine_hops_variants
      // oracle's soundness argument
      for (seed <- 0 until 50; n <- Seq(3, 4, 7); k <- Seq(2, 3))
        assert(LocalEasy.hopsVariantAttempt(path(k), ring(n), new Random(seed), mode))
    }
  }

  test("hops variants: image shuffling lifts first-fit's deterministic-scan misses") {
    import scala.util.Random
    // broom: hub 0 with dead-end leaf 1 (FIRST in adj order) and path 0-2-3;
    // rooting P3 at an end with image 0 or 2 always fails under first-fit
    // (the scan commits to the dead end) but succeeds for some image
    // shuffle — so over a fixed seed set the shuffled-image and matching
    // variants strictly beat hops_simple, the variant's raison d'etre
    // (reference subtreeIsomorphismSampling.c:46 TODO).
    val broom = ltree(Seq.fill(4)("o"), Seq((0, 2, "e"), (0, 1, "e"), (2, 3, "e")))
    def successes(mode: Int): Int =
      (0 until 200).count(s => LocalEasy.hopsVariantAttempt(path(3), broom, new Random(s), mode))
    val simple = successes(LocalEasy.HopsMode.FirstFit)
    val shuffled = successes(LocalEasy.HopsMode.ShuffledImage)
    val matching = successes(LocalEasy.HopsMode.Matching)
    assert(simple > 0 && simple < 200)
    assert(shuffled > simple)
    assert(matching > simple)
  }
}
