package graft.trees

import scala.collection.mutable
import scala.util.Random
import graft.mining.SubtreeIso
import graft.mining.SubtreeIso.LTree

/** The reference's local-easy / sampled embedding-operator family
  * re-derived (reference `localEasySubtreeIsomorphism.c`,
  * `subtreeIsomorphismSampling.c`, `lwm_embeddingOperators.c:72-340`,
  * `sampleSubtrees.c`; Welke/Horváth/Wrobel ML'18/'19, KDD'20 HOPS).
  *
  * Key semantic identity used throughout (instead of porting the reference's
  * characteristics DP): a forest inside any biconnected block extends to a
  * spanning tree of that block (graphic-matroid extension), and spanning
  * trees compose blockwise, so
  *
  *   "tree h embeds in SOME spanning tree of graph g"
  *     <=>  "h is subgraph-isomorphic to g"           (exact local-easy),
  *
  * which this module decides directly by label-guided backtracking — the
  * same answer the reference's `isLocalEasySubtree`
  * (`localEasySubtreeIsomorphism.c:961`) computes via its spanning-tree-tree
  * DP; its cost parameter (local easiness) is mirrored here by the pattern
  * size, which the level-wise miner bounds. The sampled variants keep the
  * reference's one-sided-error contract: "yes" answers are certified by an
  * explicit embedding into a sampled structure, "no" may be wrong.
  *
  * All functions are deterministic under their seeds and run per graph —
  * embarrassingly parallel across a transactional DB, the same execution
  * shape as [[TreeKernels]]/[[GraphKernels]]. */
object LocalEasy {

  type Edge = (Long, Long)

  // ------------------------------------------------------------- block tree

  /** v-rooted block decomposition (reference `getBlockTreeT`,
    * `localEasySubtreeIsomorphism.c:52`): every biconnected component
    * (bridges included) is rooted at its vertex closest to the DFS root;
    * `rootedBlocks(v)` = the blocks rooted at v. The DFS is deterministic
    * (start at min vid, sorted neighbors), so roots are reproducible. */
  final case class BlockTree(roots: Seq[Long], rootedBlocks: Map[Long, Seq[Seq[Edge]]])

  def blockTree(edges: Seq[Edge]): BlockTree = {
    val blocks = GraphKernels.biconnectedComponents(edges)
    if (blocks.isEmpty) return BlockTree(Nil, Map.empty)
    // deterministic DFS discovery numbers
    val adj = mutable.Map[Long, mutable.ArrayBuffer[Long]]()
    for ((a, b) <- edges.distinct if a != b) {
      adj.getOrElseUpdate(a, mutable.ArrayBuffer()) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer()) += a
    }
    adj.values.foreach(buf => buf.sortInPlace())
    val disc = mutable.Map[Long, Int]()
    var counter = 0
    for (root <- adj.keys.toSeq.sorted if !disc.contains(root)) {
      val stack = mutable.Stack[Long](root)
      while (stack.nonEmpty) {
        val v = stack.pop()
        if (!disc.contains(v)) {
          disc(v) = counter; counter += 1
          adj(v).reverseIterator.foreach(w => if (!disc.contains(w)) stack.push(w))
        }
      }
    }
    val rooted = blocks.groupBy(b => b.flatMap(e => Seq(e._1, e._2)).distinct.minBy(disc))
    BlockTree(rooted.keys.toSeq.sorted, rooted)
  }

  // ---------------------------------------- local spanning-tree sampling

  /** Per-root lists of local spanning trees (reference
    * `getNumberOfNonisomorphicSpanningTreesObtainedByLocalEasySampling`,
    * `localEasySubtreeIsomorphism.c:1081`): the local graph at root v is the
    * union of blocks rooted at v; if it is a tree it contributes itself,
    * else `k` seeded Wilson samples of it (duplicates kept — the reference
    * deliberately does NOT dedupe here; `filtered=true` is the
    * `...Filtered` gf variant that dedupes identical edge sets). */
  def localTreeLists(edges: Seq[Edge], k: Int, seed: Long,
      filtered: Boolean = false): Seq[Seq[Seq[Edge]]] = {
    val bt = blockTree(edges)
    bt.roots.map { v =>
      val local = bt.rootedBlocks(v).flatten
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val nVerts = local.flatMap(e => Seq(e._1, e._2)).distinct.size
      val trees =
        if (local.size == nVerts - 1) Seq(local) // already a tree
        else (0 until k).map(i => TreeKernels.wilsonSpanningTree(local, seed ^ (v * 1000003L + i))
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.sorted)
      if (filtered) trees.distinct else trees
    }
  }

  /** All blockwise combinations of the per-root local trees — each is a
    * spanning forest of the graph (reference `spanningTreeCombinations`).
    * None when the product exceeds `maxCombos` (bound-then-enumerate). */
  def combinations(lists: Seq[Seq[Seq[Edge]]], maxCombos: Long = 100000L): Option[Seq[Seq[Edge]]] = {
    val total = lists.foldLeft(1L)((acc, l) => math.min(acc * l.size, maxCombos + 1))
    if (total > maxCombos) return None
    Some(lists.foldLeft(Seq(Seq.empty[Edge]))((acc, l) =>
      for (f <- acc; t <- l) yield f ++ t))
  }

  /** Distinct canonical strings over the connected components of the given
    * forests (the reference counts component strings across ALL
    * combinations, `localEasySubtreeIsomorphism.c:1131-1140`). */
  def nonisoComponentCount(forests: Seq[Seq[Edge]], labels: Map[Long, String]): Long = {
    val seen = mutable.Set[String]()
    for (f <- forests) {
      // split f into connected components via union-find
      val parent = mutable.Map[Long, Long]()
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      for ((a, b) <- f) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      f.groupBy(e => find(e._1)).values.foreach { comp =>
        seen += TreeKernels.canonicalString(comp, labels)
      }
    }
    seen.size.toLong
  }

  final case class LocallySampledStats(nConsidered: Long, nNoniso: Long)

  /** gf `locallySampledSpanningTrees` + `nonisomorphicLocallySampledSpanningTrees`
    * (+ `...Filtered` via the flag): number of blockwise combinations
    * considered, and distinct component isomorphism classes among them.
    * (-1, -1) when the combination bound trips. */
  def locallySampledStats(edges: Seq[Edge], labels: Map[Long, String], k: Int, seed: Long,
      filtered: Boolean = false, maxCombos: Long = 100000L): LocallySampledStats = {
    val lists = localTreeLists(edges, k, seed, filtered)
    combinations(lists, maxCombos) match {
      case Some(forests) => LocallySampledStats(forests.size.toLong, nonisoComponentCount(forests, labels))
      case None => LocallySampledStats(-1L, -1L)
    }
  }

  /** gf `nonisomorphicSampledSpanningTrees` / `sampledSpanningTreesFiltered`
    * (reference `sampleSubtrees.h:32`,
    * `getNumberOfNonisomorphicSpanningForestComponentsForKSamples`): k
    * whole-graph Wilson samples per connected component; returns (#distinct
    * edge-set forests, #distinct component canonical strings). */
  def sampledForestStats(edges: Seq[Edge], labels: Map[Long, String], k: Int, seed: Long): (Long, Long) = {
    val forests = (0 until k).map { i =>
      // Wilson runs per connected component already (its outer loop restarts
      // from every unvisited vertex — but on disconnected input the walk
      // could escape; sample per component explicitly)
      val parent = mutable.Map[Long, Long]()
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      edges.groupBy(e => find(e._1)).values.toSeq
        .flatMap(comp => TreeKernels.wilsonSpanningTree(comp, seed + i))
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.sorted
    }
    (forests.distinct.size.toLong, nonisoComponentCount(forests, labels))
  }

  // ------------------------------------------- embedding operators (miner)

  /** Exact local-easy embedding operator: tree pattern h embeds in some
    * spanning tree of (arbitrary, possibly cyclic) graph g — by the
    * blockwise matroid-extension identity this is exactly label-guided
    * subgraph isomorphism of h into g (reference `localEasyOperator` with
    * the full spanning-tree tree, `lwm_embeddingOperators.c:165`). Pattern
    * sizes are miner-bounded, so backtracking is per-row cheap. */
  def treeIntoGraphEmbeds(h: LTree, g: LTree): Boolean = {
    if (h.n == 0) return true
    if (h.n > g.n) return false
    // DFS order of pattern vertices from root 0 with (vertex, parent, elabel)
    val order = mutable.ArrayBuffer[(Int, Int, String)]()
    val seenP = Array.fill(h.n)(false)
    def dfsP(u: Int, pu: Int, el: String): Unit = {
      seenP(u) = true
      order += ((u, pu, el))
      for ((c, l) <- h.adj(u) if !seenP(c)) dfsP(c, u, l)
    }
    dfsP(0, -1, "")
    if (order.size != h.n) return false // pattern not connected — not a tree
    val mapping = Array.fill(h.n)(-1)
    val used = Array.fill(g.n)(false)
    def bt(idx: Int): Boolean = {
      if (idx == order.size) return true
      val (u, pu, el) = order(idx)
      val cands: Iterator[Int] =
        if (pu < 0) (0 until g.n).iterator
        else g.adj(mapping(pu)).iterator.filter(_._2 == el).map(_._1)
      for (v <- cands if !used(v) && g.vlabels(v) == h.vlabels(u)) {
        mapping(u) = v; used(v) = true
        if (bt(idx + 1)) return true
        used(v) = false; mapping(u) = -1
      }
      false
    }
    bt(0)
  }

  /** One blockwise-sampled spanning tree of g as a labeled LTree: a seeded
    * Wilson tree per nontrivial block plus all bridges — spanning trees
    * compose blockwise, so the union is a uniform blockwise sample
    * (reference `sampleSpanningTreeFromCactus` generalized). */
  def blockwiseSpanningTree(g: LTree, seed: Long): LTree = {
    val edges = g.edges.map { case (a, b, _) => (a.toLong, b.toLong) }.toSeq
    val elab = g.edges.map { case (a, b, l) => (math.min(a, b).toLong, math.max(a, b).toLong) -> l }.toMap
    val chosen = GraphKernels.biconnectedComponents(edges).zipWithIndex.flatMap { case (block, bi) =>
      if (block.size <= 1) block
      else TreeKernels.wilsonSpanningTree(block, seed ^ (bi * 7919L + 1))
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    }
    LTree(g.vlabels, chosen.map { case (a, b) => (a.toInt, b.toInt, elab((a, b))) }.toArray)
  }

  /** Sampled local-easy operator with resampling (reference
    * `localEasySubtreeCheckOperatorWithResampling`,
    * `lwm_embeddingOperators.c:72`): h embeds in one of k blockwise-sampled
    * spanning trees of g. One-sided error; resampling per call, so (like the
    * reference warns) it need not satisfy the apriori property. Divergence
    * from the reference: the k samples are whole-graph blockwise trees
    * rather than per-root mixed combinations — same operator family and
    * guarantee, simpler structure (documented; the exact operator above
    * covers the full-combination semantics). */
  def sampledLocalEmbeds(h: LTree, g: LTree, k: Int, seed: Long): Boolean =
    (0 until k).exists(i => SubtreeIso.embeds(h, blockwiseSpanningTree(g, seed + i)))

  /** One uniform spanning FOREST of a labeled graph: a seeded Wilson tree
    * per connected component (the sampling unit of the reference's
    * sample-ONCE `ps` operator, `lwm_initAndCollect.c` sampled-DB
    * construction — each transaction is replaced by spanning forests drawn
    * once, up front). Blockwise and whole-component sampling induce the same
    * uniform distribution (a spanning tree IS an independent choice per
    * block), so Wilson per component is used directly. */
  def wholeGraphSpanningForest(g: LTree, seed: Long): LTree = {
    val edges = g.edges.map { case (a, b, _) => (a.toLong, b.toLong) }.toSeq
    val elab = g.edges.map { case (a, b, l) => (math.min(a, b).toLong, math.max(a, b).toLong) -> l }.toMap
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val chosen = edges.groupBy(e => find(e._1)).values.toSeq
      .flatMap(comp => TreeKernels.wilsonSpanningTree(comp, seed))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    LTree(g.vlabels, chosen.map { case (a, b) => (a.toInt, b.toInt, elab((a, b))) }.toArray)
  }

  /** Sample-once `bps` check: does tree pattern h embed in SOME COMBINATION
    * of the given once-sampled per-root local spanning trees (reference
    * `levelwiseGraphMiningHelp.txt` "bps"; `lwm_embeddingOperators.c`
    * sampled local-easy DP on a FIXED sampled spanning-tree tree)?
    *
    * `local(r)(i)` = the i-th sampled tree of root r, edges in g's local
    * vertex ids. A combination picks ONE tree per root; h embeds in the
    * union forest of some combination iff there is a label-guided subgraph
    * embedding of h that (a) only uses edges present in some sampled tree
    * and (b) within each root keeps all used edges inside a single sampled
    * tree — decided here by backtracking with a per-root set of still-
    * compatible tree indices (the direct analogue of the reference's
    * per-vertex characteristics over the sampled tree list). Deterministic
    * given the sampled lists; monotone under subpatterns (the apriori
    * property the sample-once operators exist to preserve). */
  def bpsEmbeds(h: LTree, g: LTree, local: Seq[Seq[Seq[(Int, Int)]]]): Boolean = {
    if (h.n == 0) return true
    if (h.n == 1) return g.vlabels.contains(h.vlabels(0))
    val elab = h1Elab(g)
    // canonical edge -> (root, tree-index set); every edge lives in exactly
    // one block, hence one root
    val allowed = mutable.Map[(Int, Int), (Int, mutable.Set[Int])]()
    for ((trees, r) <- local.zipWithIndex; (t, i) <- trees.zipWithIndex; (a, b) <- t) {
      val e = (math.min(a, b), math.max(a, b))
      allowed.getOrElseUpdate(e, (r, mutable.Set[Int]()))._2 += i
    }
    // adjacency over sampled edges only: u -> (w, elabel, root, treeSet)
    val sadj = Array.fill(g.n)(List.empty[(Int, String, Int, Set[Int])])
    for (((a, b), (r, is)) <- allowed) {
      val l = elab((a, b))
      sadj(a) ::= (b, l, r, is.toSet)
      sadj(b) ::= (a, l, r, is.toSet)
    }
    // pattern DFS order from vertex 0: (vertex, parent, entering edge label)
    val order = mutable.ArrayBuffer[(Int, Int, String)]()
    val seenP = Array.fill(h.n)(false)
    def dfsP(u: Int, pu: Int, el: String): Unit = {
      seenP(u) = true
      order += ((u, pu, el))
      for ((c, l) <- h.adj(u) if !seenP(c)) dfsP(c, u, l)
    }
    dfsP(0, -1, "")
    if (order.size != h.n) return false
    val mapping = Array.fill(h.n)(-1)
    val used = Array.fill(g.n)(false)
    val chosen = mutable.Map[Int, Set[Int]]() // root -> compatible tree indices
    def bt(idx: Int): Boolean = {
      if (idx == order.size) return true
      val (u, pu, el) = order(idx)
      if (pu < 0) {
        var v = 0
        while (v < g.n) {
          if (!used(v) && g.vlabels(v) == h.vlabels(u)) {
            mapping(u) = v; used(v) = true
            if (bt(idx + 1)) return true
            used(v) = false; mapping(u) = -1
          }
          v += 1
        }
        false
      } else {
        sadj(mapping(pu)).exists { case (w, wel, r, is) =>
          !used(w) && wel == el && g.vlabels(w) == h.vlabels(u) && {
            val prev = chosen.get(r)
            val next = prev.fold(is)(_ intersect is)
            next.nonEmpty && {
              chosen(r) = next
              mapping(u) = w; used(w) = true
              if (bt(idx + 1)) true
              else {
                used(w) = false; mapping(u) = -1
                prev match { case Some(p) => chosen(r) = p; case None => chosen.remove(r) }
                false
              }
            }
          }
        }
      }
    }
    bt(0)
  }

  /** Per-root once-sampled local spanning trees of a labeled graph in its
    * own vertex ids — the [[bpsEmbeds]] input, built ONCE per transaction by
    * the miner ([[localTreeLists]] over the graph's long-id edge list,
    * mapped back to ints). */
  def bpsLocalTrees(g: LTree, k: Int, seed: Long): Seq[Seq[Seq[(Int, Int)]]] = {
    val edges = g.edges.map { case (a, b, _) => (a.toLong, b.toLong) }.toSeq
    localTreeLists(edges, k, seed).map(_.map(_.map { case (a, b) => (a.toInt, b.toInt) }))
  }

  private def h1Elab(g: LTree): Map[(Int, Int), String] =
    g.edges.map { case (a, b, l) => (math.min(a, b), math.max(a, b)) -> l }.toMap

  /** Connected components of a labeled graph, isolated vertices included,
    * each re-indexed as its own LTree (reference `importantSubtrees.c:14`
    * graph2Components). */
  def components(g: LTree): Seq[LTree] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b, _) <- g.edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    (0 until g.n).groupBy(find).values.toSeq.map { vs =>
      val idx = vs.sorted.zipWithIndex.toMap
      LTree(vs.sorted.map(g.vlabels).toArray,
        g.edges.filter(e => idx.contains(e._1)).map { case (a, b, l) => (idx(a), idx(b), l) })
    }
  }

  /** Number of connected components of the (forest) transaction in which
    * tree pattern h embeds (reference `importantSubtrees.c:78`
    * importanceCount — the mu-important subtree machinery). */
  def importanceCount(h: LTree, g: LTree): Int =
    components(g).count(c => SubtreeIso.embeds(h, c))

  /** Fraction of components containing h (reference `importanceRelative`). */
  def importanceRelative(h: LTree, g: LTree): Double = {
    val cs = components(g)
    if (cs.isEmpty) 0.0 else cs.count(c => SubtreeIso.embeds(h, c)).toDouble / cs.size
  }

  /** `importanceCount(h, g) >= t` over a PREcomputed component list, with
    * early exit once the outcome is decided (round-6): the miner evaluates
    * the importance operators for every (candidate, transaction) pair with
    * threshold 1-2, so running the subtree-iso kernel over all ~15
    * components when the second one already decides the answer was most of
    * `f_lwg_mine_absimp`'s CPU. Decision-equivalent to the full count. */
  def importanceCountAtLeast(comps: Seq[LTree], h: LTree, t: Int): Boolean = {
    if (t <= 0) return true
    var hits = 0
    var remaining = comps.size
    val it = comps.iterator
    while (it.hasNext) {
      if (hits + remaining < t) return false // even all-hit tail can't reach t
      if (SubtreeIso.embeds(h, it.next())) {
        hits += 1
        if (hits >= t) return true
      }
      remaining -= 1
    }
    hits >= t
  }

  /** `importanceRelative(h, g) >= mu` over a precomputed component list,
    * early-exited with the SAME floating-point comparison as the full
    * formulation (`hits.toDouble / size >= mu`, monotone in hits), so the
    * decision is bit-identical. */
  def importanceFracAtLeast(comps: Seq[LTree], h: LTree, mu: Double): Boolean = {
    val size = comps.size
    if (size == 0) return 0.0 >= mu
    var hits = 0
    var seen = 0
    val it = comps.iterator
    while (it.hasNext) {
      if (hits.toDouble / size >= mu) return true // later hits only raise it
      if ((hits + (size - seen)).toDouble / size < mu) return false
      if (SubtreeIso.embeds(h, it.next())) hits += 1
      seen += 1
    }
    hits.toDouble / size >= mu
  }

  /** Cactus-tree subtree isomorphism — the `tci` executable (reference
    * `cactustree.c:11` cactusTreeSubIso, executable `executables/cactus.c`):
    * does the tree pattern embed in the cactus graph as a subgraph? The
    * reference iterates each cycle block's spanning trees (one edge deleted
    * per cycle) under a characteristics DP; by the blockwise-extension
    * identity (see object Scaladoc) the answer equals plain subgraph iso,
    * which [[treeIntoGraphEmbeds]] decides for arbitrary graphs — cacti are
    * the special case where the reference's iteration is linear per block.
    * Returns None when the graph is not a connected cactus (the
    * executable's precondition). */
  def cactusTreeSubIso(h: LTree, g: LTree): Option[Boolean] = {
    val ge = g.edges.map { case (a, b, _) => (a.toLong, b.toLong) }.toSeq
    if (!GraphKernels.isConnectedCactus(ge)) None
    else Some(treeIntoGraphEmbeds(h, g))
  }

  // ------------------------------------------------------------------ HOPS

  /** One HOPS attempt (reference `subtreeIsomorphismSampler`,
    * `subtreeIsomorphismSampling.c:606`; Knuth-style sequential importance
    * sampling, KDD'20): root the pattern at a random vertex, map it to a
    * random label-matching graph vertex, then embed the (shuffled) children
    * of each pattern vertex greedily into unvisited label/edge-label
    * matching neighbors, all children of a vertex before recursing (the
    * reference's mixed BFS/DFS). Returns the importance weight — the
    * product of the number of available choices at every pick — when the
    * attempt embeds, else 0. E[weight] = #embeddings of the chosen rooting
    * (Knuth's unbiased leaf-count estimator). */
  def hopsAttempt(h: LTree, g: LTree, rnd: Random): Double = {
    if (h.n == 0) return 1.0
    val root = rnd.nextInt(h.n)
    val rootCands = (0 until g.n).filter(v => g.vlabels(v) == h.vlabels(root))
    if (rootCands.isEmpty) return 0.0
    val w0 = rootCands(rnd.nextInt(rootCands.size))
    var weight = rootCands.size.toDouble
    val mapping = Array.fill(h.n)(-1)
    val used = Array.fill(g.n)(false)
    mapping(root) = w0; used(w0) = true
    def rec(u: Int, pu: Int): Boolean = {
      val kids = rnd.shuffle(h.adj(u).filter(_._1 != pu))
      for ((c, el) <- kids) {
        val cands = g.adj(mapping(u)).filter { case (w, wel) =>
          !used(w) && wel == el && g.vlabels(w) == h.vlabels(c)
        }
        if (cands.isEmpty) return false
        weight *= cands.size
        val (w, _) = cands(rnd.nextInt(cands.size))
        mapping(c) = w; used(w) = true
      }
      kids.forall { case (c, _) => rec(c, u) }
    }
    if (rec(root, -1)) weight else 0.0
  }

  /** HOPS boolean operator (reference `hopsSimpleOperator` /
    * `hopsOperator`): succeed if any of `importance` attempts embeds.
    * One-sided error, seeded. */
  def hopsEmbeds(h: LTree, g: LTree, importance: Int, seed: Long): Boolean =
    (0 until importance).exists(i => hopsAttempt(h, g, new Random(seed + i)) > 0)

  /** HOPS embedding-count estimate (reference `hopsOperatorEstimate`): mean
    * attempt weight over `importance` attempts — an unbiased estimator of
    * the average per-rooting embedding count. */
  def hopsEstimate(h: LTree, g: LTree, importance: Int, seed: Long): Double = {
    var s = 0.0
    for (i <- 0 until importance) s += hopsAttempt(h, g, new Random(seed + i))
    s / importance
  }

  /** Assignment modes of the `hops_simple*` comparison variants. */
  object HopsMode {
    val FirstFit = 0      // hops_simple
    val ShuffledImage = 1 // hops_simplerandom
    val Matching = 2      // hops_simplematching
  }

  /** One attempt of the reference's `hops_simple` variant family (reference
    * `subtreeIsomorphismSampling.c:39` recursiveSubtreeIsomorphismSampler,
    * `:110` ...WithShuffledImage, `:249` ...WithMatching; help
    * "VARIANTS OF INCOMPLETE EMBEDDING OPERATORS"): root the pattern at a
    * uniform vertex and map it to a uniform vertex of g, REJECTING on label
    * mismatch (unlike [[hopsAttempt]], which draws among label-matching
    * images — the variants pay the label-miss probability instead), then
    * embed all of a vertex's (shuffled) unassigned children before
    * recursing, with NO backtracking ever. Children are assigned by mode:
    *
    *  - [[HopsMode.FirstFit]] (`hops_simple`): each child takes the first
    *    free image neighbor with matching edge + vertex label, in the
    *    image's fixed adjacency order;
    *  - [[HopsMode.ShuffledImage]] (`hops_simplerandom`): same, image
    *    neighbors shuffled first (the reference's own TODO at `:46` — a
    *    single pattern child otherwise sees a deterministic scan);
    *  - [[HopsMode.Matching]] (`hops_simplematching`): a maximum bipartite
    *    matching between the unassigned children and the free image
    *    neighbors (compatible = edge + vertex label match), built over
    *    both shuffled orders; the attempt survives iff the matching
    *    saturates the children, and assigns per the matching.
    *
    * All three are one-sided (a success certifies a real embedding);
    * per-call resampling means none preserves the apriori property. */
  def hopsVariantAttempt(h: LTree, g: LTree, rnd: Random, mode: Int): Boolean = {
    if (h.n == 0) return true
    if (g.n == 0) return false
    val root = rnd.nextInt(h.n)
    val w0 = rnd.nextInt(g.n)
    if (g.vlabels(w0) != h.vlabels(root)) return false
    val mapping = Array.fill(h.n)(-1)
    val used = Array.fill(g.n)(false)
    mapping(root) = w0; used(w0) = true
    def rec(u: Int): Boolean = {
      val kids = rnd.shuffle(h.adj(u).filter { case (c, _) => mapping(c) < 0 })
      if (kids.isEmpty) return true
      val imgs0 = g.adj(mapping(u))
      val imgs = if (mode == HopsMode.FirstFit) imgs0 else rnd.shuffle(imgs0)
      if (mode == HopsMode.Matching) {
        val left = kids.toIndexedSeq
        val right = imgs.toIndexedSeq
        def compat(i: Int, j: Int): Boolean = {
          val (c, el) = left(i); val (w, wel) = right(j)
          !used(w) && wel == el && g.vlabels(w) == h.vlabels(c)
        }
        // augmenting-path maximum matching (reference bipartiteMatching.c,
        // via makeBipartiteInstanceFromVertices) — which maximum matching is
        // found depends on the two shuffles, the variant's randomness source
        val matchR = Array.fill(right.size)(-1)
        def augment(i: Int, seen: Array[Boolean]): Boolean = {
          var j = 0
          while (j < right.size) {
            if (!seen(j) && compat(i, j)) {
              seen(j) = true
              if (matchR(j) < 0 || augment(matchR(j), seen)) { matchR(j) = i; return true }
            }
            j += 1
          }
          false
        }
        var saturated = 0
        for (i <- left.indices) if (augment(i, Array.fill(right.size)(false))) saturated += 1
        if (saturated < left.size) return false
        for (j <- right.indices if matchR(j) >= 0) {
          val c = left(matchR(j))._1; val w = right(j)._1
          mapping(c) = w; used(w) = true
        }
      } else {
        for ((c, el) <- kids) {
          imgs.find { case (w, wel) =>
            !used(w) && wel == el && g.vlabels(w) == h.vlabels(c)
          } match {
            case Some((w, _)) => mapping(c) = w; used(w) = true
            case None => return false
          }
        }
      }
      kids.forall { case (c, _) => rec(c) }
    }
    rec(root)
  }

  /** Boolean `hops_simple*` operator: any of `importance` seeded attempts
    * embeds (reference `lwm_embeddingOperators.c` variant dispatch). */
  def hopsVariantEmbeds(h: LTree, g: LTree, importance: Int, seed: Long, mode: Int): Boolean =
    (0 until importance).exists(i => hopsVariantAttempt(h, g, new Random(seed + i), mode))
}
