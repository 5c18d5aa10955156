package graft.trees

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Generators

/** Round-2 kernels: exact spanning-tree listing/counting, tpk pattern maps,
  * local easiness, traceability (hp_cactus), outerplanar block canonical
  * strings, criticality. */
class SpanningKernelsSpec extends AnyFunSuite {

  private def k4 = Generators.clique(4)
  private def bowtie = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 2L))

  test("listSpanningTrees: closed-form counts (Cayley, cycles, paths, cacti)") {
    assert(TreeKernels.countSpanningTrees(Generators.path(5)).contains(1L))
    assert(TreeKernels.countSpanningTrees(Generators.cycle(7)).contains(7L))
    assert(TreeKernels.countSpanningTrees(k4).contains(16L)) // Cayley 4^2
    assert(TreeKernels.countSpanningTrees(Generators.clique(5)).contains(125L))
    assert(TreeKernels.countSpanningTrees(bowtie).contains(9L)) // 3 * 3
    // bound: K5 with bound 100 trips
    assert(TreeKernels.countSpanningTrees(Generators.clique(5), 100L).isEmpty)
  }

  test("listSpanningTrees: every listed tree IS a spanning tree, no duplicates") {
    val g = k4
    val trees = TreeKernels.listSpanningTrees(g).get
    assert(trees.size == 16)
    assert(trees.distinct.size == 16)
    trees.foreach(t => assert(TreeKernels.isSpanningTree(g, t)))
  }

  test("spanningTreePatterns: tpk distinct canonical strings") {
    // uniform ring: n spanning trees, all isomorphic paths -> 1 pattern
    val uniform = (0L to 6L).map(_ -> "x").toMap
    val (nTrees, pats) = TreeKernels.spanningTreePatterns(Generators.cycle(7), uniform).get
    assert(nTrees == 7 && pats.size == 1)
    // distinct labels on a ring: cuts give n paths, pairwise non-isomorphic
    // unless the label sequence has a reversal symmetry; a,b,c,d,e has none
    val labs = Map(0L -> "a", 1L -> "b", 2L -> "c", 3L -> "d", 4L -> "e")
    assert(TreeKernels.spanningTreePatterns(Generators.cycle(5), labs).get._2.size == 5)
    // palindromic labels a,b,a on a triangle: cuts ab|a, ba|a... 2 classes
    val pal = Map(0L -> "a", 1L -> "b", 2L -> "a")
    assert(TreeKernels.spanningTreePatterns(Generators.cycle(3), pal).get._2.size == 2)
  }

  test("ts sampler modes: mix / cactus / bridgeForest / listOrSample") {
    // mix on K4 (16 trees): estimate C(6,3)=20 >= threshold 10 -> Wilson
    val (mixW, usedW) = TreeKernels.sampleSpanningTreesUsingMix(k4, 3, 10L, 5L)
    assert(!usedW && mixW.size == 3 && mixW.forall(TreeKernels.isSpanningTree(k4, _)))
    // ... and with a high threshold -> listing branch
    val (mixL, usedL) = TreeKernels.sampleSpanningTreesUsingMix(k4, 3, 1000L, 5L)
    assert(usedL && mixL.size == 3 && mixL.forall(TreeKernels.isSpanningTree(k4, _)))
    // cactus sampler on the bowtie: 2 triangle blocks, drop one edge each
    for (seed <- 0L until 10L) {
      val t = TreeKernels.sampleCactusSpanningTree(bowtie, seed).get
      assert(TreeKernels.isSpanningTree(bowtie, t))
    }
    assert(TreeKernels.sampleCactusSpanningTree(k4, 1L).isEmpty) // K4 is no cactus
    assert(TreeKernels.sampleSpanningTreesUsingCactusMix(k4, 2, 1000L, 1L)
      .forall(TreeKernels.isSpanningTree(k4, _))) // falls back to mix
    // bridge forest: triangle-bridge-triangle has ONE bridge component
    val tbt = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
    assert(TreeKernels.bridgeForest(tbt) == Seq(Seq((2L, 3L))))
    // path: all edges are bridges, one connected forest component
    assert(TreeKernels.bridgeForest(Generators.path(4)).size == 1)
    assert(TreeKernels.bridgeForest(Generators.cycle(5)).isEmpty)
    // listOrSample: below threshold lists ALL (bowtie: 9), above samples k
    assert(TreeKernels.listOrSampleSpanningTrees(bowtie, 2, 100L, 3L).size == 9)
    assert(TreeKernels.listOrSampleSpanningTrees(bowtie, 2, 5L, 3L).size == 2)
    // estimate is exact on cacti: bowtie C(3,2)*C(3,2) = 9
    assert(TreeKernels.goodEstimateCount(bowtie) == 9L)
  }

  test("wilson samples are spanning trees (seed-stable)") {
    for (seed <- 0L until 10L) {
      val t = TreeKernels.wilsonSpanningTree(k4, seed)
      assert(TreeKernels.isSpanningTree(k4, t))
    }
    assert(TreeKernels.wilsonSpanningTree(k4, 42L) == TreeKernels.wilsonSpanningTree(k4, 42L))
  }

  test("localEasiness: per-vertex block spanning-tree products") {
    // bowtie: vertex 2 in both triangles -> 3*3 = 9; others 3
    val e = GraphKernels.localEasiness(bowtie)
    assert(e(2L) == 9L && e(0L) == 3L && e(4L) == 3L)
    assert(GraphKernels.maxLocalEasiness(bowtie) == 9L)
    assert(GraphKernels.minLocalEasiness(bowtie) == 3L)
    // path: no nontrivial blocks -> all 1
    assert(GraphKernels.maxLocalEasiness(Generators.path(4)) == 1L)
    assert(GraphKernels.minLocalEasiness(Generators.path(4)) == 1L)
    // triangle with tail: triangle vertices 3, tail vertex 1
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L))
    assert(GraphKernels.maxLocalEasiness(g) == 3L)
    assert(GraphKernels.minLocalEasiness(g) == 1L)
    // bound hit: K5 block with tiny bound -> max = -1 (reference semantics)
    assert(GraphKernels.maxLocalEasiness(Generators.clique(5), 10L) == -1L)
  }

  test("criticality counts ALL blocks including bridges (computeCriticality)") {
    // triangle - bridge - triangle (bowtie has none): 0-1-2 triangle, 2-3 bridge, 3-4-5 triangle
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
    val c = GraphKernels.criticality(g)
    assert(c(2L) == 2 && c(3L) == 2) // triangle + bridge
    assert(c(0L) == 1 && c(4L) == 1)
    // path interior vertices: 2 bridges each
    val p = GraphKernels.criticality(Generators.path(4))
    assert(p(1L) == 2 && p(0L) == 1)
  }

  test("traceable cactus (hp_cactus.c): positive and negative families") {
    // path, cycle, triangle chain: traceable
    assert(GraphKernels.isTraceableCactus(Generators.path(5)))
    assert(GraphKernels.isTraceableCactus(Generators.cycle(6)))
    assert(GraphKernels.isTraceableCactus(bowtie))
    // adjacent-critical condition: triangles joined by a bridge -> the two
    // critical vertices of each triangle... 0-1-2 triangle + bridge 2-3 + triangle 3-4-5:
    // each triangle has ONE critical vertex -> traceable
    val tbt = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
    assert(GraphKernels.isTraceableCactus(tbt))
    // star of 3 triangles at vertex 0: criticality 3 -> NOT traceable
    val star3 = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L), (3L, 4L), (4L, 0L), (0L, 5L), (5L, 6L), (6L, 0L))
    assert(GraphKernels.isConnectedCactus(star3))
    assert(!GraphKernels.isTraceableCactus(star3))
    assert(!GraphKernels.isWeaklyTraceable(star3))
    // C4 with a chord: not a cactus; weakly traceable (single block, no critical)
    val c4chord = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
    assert(!GraphKernels.isConnectedCactus(c4chord))
    assert(!GraphKernels.isTraceableCactus(c4chord))
    assert(GraphKernels.isWeaklyTraceable(c4chord))
    // disconnected: neither
    val disc = Seq((0L, 1L), (2L, 3L))
    assert(!GraphKernels.isConnectedCactus(disc))
    assert(!GraphKernels.isWeaklyTraceable(disc))
    // cycle with two non-adjacent critical vertices in the SAME block:
    // square 0-1-2-3 with pendant edges at 0 and 2 -> criticality 2 each,
    // not adjacent in the block -> cactus but NOT traceable (and the weak
    // test, which skips adjacency, stays positive: a misclassification the
    // reference documents, hp_cactus.c:163-168)
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 4L), (2L, 5L))
    assert(GraphKernels.isConnectedCactus(sq))
    assert(!GraphKernels.isTraceableCactus(sq))
    assert(GraphKernels.isWeaklyTraceable(sq))
  }

  test("outerplanarity is invariant under vertex renumbering (reference order bug fixed)") {
    // C4 whose sorted-vid elimination picks opposite corners — the
    // consumed-only bookkeeping of reference outerplanar.c rejects this
    val scrambled = Seq((1038L, 280L), (280L, 1225L), (1225L, 848L), (848L, 1038L))
    assert(GraphKernels.isOuterplanarBlock(scrambled))
    // random renumberings of outerplanar blocks stay accepted; K4/K2,3 stay
    // rejected under every renumbering
    val rng = new scala.util.Random(7)
    val opBlocks = Seq(
      Generators.cycle(6),
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L)), // C4 + chord
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L), (2L, 3L), (3L, 4L))) // fan
    val nonOp = Seq(Generators.clique(4),
      Seq((0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L), (1L, 3L), (1L, 4L))) // K2,3
    for (_ <- 1 to 20) {
      def renum(g: Seq[(Long, Long)]): Seq[(Long, Long)] = {
        val vs = g.flatMap(e => Seq(e._1, e._2)).distinct
        val offset = rng.nextInt(1000) * 100L
        val m = vs.zip(rng.shuffle(vs.toList).map(_ * 7 + offset)).toMap
        g.map { case (a, b) => (m(a), m(b)) }
      }
      opBlocks.foreach(g => assert(GraphKernels.isOuterplanarBlock(renum(g))))
      nonOp.foreach(g => assert(!GraphKernels.isOuterplanarBlock(renum(g))))
    }
  }

  test("outerplanar block canonical string: rotation/reflection + chord invariance") {
    val labs = Map(0L -> "a", 1L -> "b", 2L -> "c", 3L -> "d")
    // C4 with chord 0-2 under two different vertex numberings
    val g1 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
    // renumber via v -> (v+2)%4 (labels move with vertices)
    val perm = Map(0L -> 2L, 1L -> 3L, 2L -> 0L, 3L -> 1L)
    val g2 = g1.map { case (a, b) => (perm(a), perm(b)) }
    val labs2 = labs.map { case (v, l) => perm(v) -> l }
    val s1 = GraphKernels.outerplanarBlockCanonicalString(g1, labs)
    val s2 = GraphKernels.outerplanarBlockCanonicalString(g2, labs2)
    assert(s1.isDefined && s1 == s2)
    // chord position is part of the string: C4+chord differs from C4... on 5 vertices
    val ring = Generators.cycle(4)
    assert(GraphKernels.outerplanarBlockCanonicalString(ring, labs) != s1)
    // non-outerplanar block -> None; multi-block graph -> None
    assert(GraphKernels.outerplanarBlockCanonicalString(k4, labs).isEmpty)
    assert(GraphKernels.outerplanarBlockCanonicalString(bowtie, labs).isEmpty)
  }

  private def localEr(n: Int, p: Double, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    for { i <- 0 until n; j <- i + 1 until n; if rnd.nextDouble() < p }
      yield (i.toLong, j.toLong)
  }

  test("tsModes fused kernel == composed per-mode formulation (round-6)") {
    // graphs spanning every branch: cactus chains (listing + cactus sampler),
    // rings, cliques (Wilson branch + cactus fallback), paths (bridges only),
    // bowtie, disconnected, ER randoms
    val graphs: Seq[Seq[(Long, Long)]] = Seq(
      Generators.path(2), Generators.path(6), Generators.cycle(3),
      Generators.cycle(9), k4, Generators.clique(5), bowtie,
      Seq((0L, 1L), (2L, 3L)), // disconnected: no spanning tree
      Seq.empty[(Long, Long)],
      // cactus chain: path 0..8 + chords (0,2),(3,5),(6,8)
      (0L to 7L).map(i => (i, i + 1)) ++ Seq((0L, 2L), (3L, 5L), (6L, 8L)),
      localEr(10, 0.35, 7L), localEr(12, 0.25, 9L))
    for ((es, gi) <- graphs.zipWithIndex; k <- Seq(1, 5); thr <- Seq(2L, 100L, 5000L)) {
      val (sm, sc, sl) = (11L ^ gi, 13L ^ gi, 17L ^ gi)
      val (mixTrees, usedListing) = TreeKernels.sampleSpanningTreesUsingMix(es, k, thr, sm)
      val cac = TreeKernels.sampleSpanningTreesUsingCactusMix(es, k, thr, sc)
      val expected = (usedListing,
        mixTrees.forall(t => TreeKernels.isSpanningTree(es, t)),
        cac.forall(t => TreeKernels.isSpanningTree(es, t)),
        TreeKernels.bridgeForest(es).size.toLong,
        TreeKernels.listOrSampleSpanningTrees(es, k, thr, sl).size.toLong)
      assert(TreeKernels.tsModes(es, k, thr, sm, sc, sl) === expected,
        s"graph $gi k=$k thr=$thr")
    }
  }
}
