package graft.trees

import scala.collection.mutable
import scala.util.Random

/** Per-graph tree kernels (pure Scala, applied per graph of a transactional
  * graph DB via grouped map — the reference's per-graph operators that are
  * inherently sequential on one small graph but embarrassingly parallel
  * across the millions of graphs of a DB):
  *
  *  - canonical string of rooted/free labeled trees (reference
  *    `cs_Tree.c:24-126` canonicalStringOfRootedTree / `:342`
  *    canonicalStringOfTree: recursive sort of child strings; free tree =
  *    lexicographic min over the 1-2 tree-center roots, centers via
  *    iterative leaf-stripping, reference `treeCenter.c:133-168`),
  *  - spanning-tree sampling: Wilson's loop-erased random walks (reference
  *    `wilsonsAlgorithm.c:113,138`), seeded and reproducible.
  */
object TreeKernels {

  type Edge = (Long, Long)

  private def adjacency(edges: Seq[Edge]): Map[Long, Seq[Long]] =
    edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).sorted }

  /** Canonical string of the tree rooted at `root`: label, then the
    * lexicographically sorted child canonical strings each wrapped in
    * parentheses — `label(childCs)(childCs)...` */
  def canonicalStringRooted(edges: Seq[Edge], labels: Map[Long, String], root: Long): String = {
    val adj = adjacency(edges)
    def rec(v: Long, parent: Long): String = {
      val kids = adj.getOrElse(v, Nil).filter(_ != parent).map(c => rec(c, v)).sorted
      labels.getOrElse(v, "_") + kids.map(k => s"($k)").mkString
    }
    rec(root, -1L)
  }

  /** Tree centers via iterative leaf removal (1 or 2 vertices). */
  def treeCenters(edges: Seq[Edge]): Seq[Long] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    for ((a, b) <- edges.distinct if a != b) {
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    if (adj.isEmpty) return edges.headOption.map(_._1).toSeq
    var remaining = adj.keySet.to(mutable.Set)
    while (remaining.size > 2) {
      val leaves = remaining.filter(v => adj(v).count(remaining) <= 1).toSeq
      if (leaves.isEmpty) return remaining.toSeq.sorted // not a tree; degrade
      remaining --= leaves
    }
    remaining.toSeq.sorted
  }

  /** Canonical string of a free labeled tree: min over center roots
    * (reference `cs_Tree.c:342-366`). */
  def canonicalString(edges: Seq[Edge], labels: Map[Long, String]): String = {
    if (edges.isEmpty) return labels.toSeq.sortBy(_._1).headOption.map(_._2).getOrElse("")
    treeCenters(edges).map(c => canonicalStringRooted(edges, labels, c)).min
  }

  /** Wilson's algorithm: uniform random spanning tree via loop-erased random
    * walks; deterministic under `seed`. Returns tree edges (parent links). */
  def wilsonSpanningTree(edges: Seq[Edge], seed: Long): Seq[Edge] = {
    val adj = adjacency(edges)
    val verts = adj.keys.toSeq.sorted
    if (verts.isEmpty) return Nil
    val rnd = new Random(seed)
    val inTree = mutable.Set(verts.head)
    val next = mutable.Map[Long, Long]()
    for (start <- verts if !inTree(start)) {
      // random walk from start until hitting the tree, recording successors
      var v = start
      while (!inTree(v)) {
        val nbrs = adj(v)
        val w = nbrs(rnd.nextInt(nbrs.size))
        next(v) = w // loop erasure: later visits overwrite earlier successors
        v = w
      }
      // retrace the loop-erased path into the tree
      v = start
      while (!inTree(v)) {
        inTree += v
        v = next(v)
      }
    }
    // every vertex except the root ends in the tree with a parent link
    verts.filter(_ != verts.head).map(v => (v, next(v)))
  }

  /** Is `tree` a spanning tree of the graph given by `edges`? (|V|-1 edges,
    * all of them graph edges, connected/acyclic via union-find). */
  def isSpanningTree(edges: Seq[Edge], tree: Seq[Edge]): Boolean = {
    val canon = (e: Edge) => (math.min(e._1, e._2), math.max(e._1, e._2))
    val gset = edges.filter(e => e._1 != e._2).map(canon).toSet
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val t = tree.map(canon).distinct
    if (t.size != verts.size - 1 || !t.forall(gset)) return false
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    var merged = 0
    for ((a, b) <- t) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; merged += 1 }
    }
    merged == verts.size - 1
  }

  /** Exact spanning-tree LISTING by the contract/delete recursion
    * T(G) = T(G/e) + T(G-e) — each spanning tree produced exactly once
    * (reference `listSpanningTrees.c:409` listSpanningTrees). `maxTrees`
    * bounds the inherently exponential output; None = bound hit (the
    * reference's bound-then-enumerate pattern). Edges are reported in
    * canonical (min,max) orientation.
    *
    * Delete branches are pruned with a union-find connectivity check (the
    * reference's discipline): a branch is only entered when the undecided
    * edges can still span the contracted graph, so every recursion leaf
    * emits a tree and total work is O(T · E α(E)) instead of exponential in
    * E (round-2's unpruned recursion cost 470s on the sf0.1 cactus DB). */
  def listSpanningTrees(edges: Seq[Edge], maxTrees: Int = 100000): Option[Seq[Seq[Edge]]] = {
    val es = edges.filter(e => e._1 != e._2)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.sorted
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    if (verts.isEmpty) return Some(Seq(Seq.empty))
    val n = verts.size
    val out = mutable.ArrayBuffer[Seq[Edge]]()
    var overflow = false

    def find(p: Map[Long, Long], x: Long): Long = {
      var r = x; while (p.getOrElse(r, r) != r) r = p(r); r
    }
    /** Can `remaining` still merge the contracted graph down to one root? */
    def spannable(remaining: List[Edge], parent: Map[Long, Long], nMerged: Int): Boolean = {
      var p = parent
      var merged = nMerged
      var rest = remaining
      while (merged < n - 1 && rest.nonEmpty) {
        val e = rest.head; rest = rest.tail
        val ra = find(p, e._1); val rb = find(p, e._2)
        if (ra != rb) { p = p.updated(ra, rb); merged += 1 }
      }
      merged == n - 1
    }

    // recursion over a contracted multigraph: vertices are union-find roots;
    // remaining = edges not yet decided, chosen = original edges in the tree
    def rec(remaining: List[Edge], chosen: List[Edge], parent: Map[Long, Long], nMerged: Int): Unit = {
      if (overflow) return
      if (nMerged == n - 1) {
        if (out.size >= maxTrees) { overflow = true; return }
        out += chosen.reverse
        return
      }
      remaining match {
        case Nil => ()
        case e :: rest =>
          val ra = find(parent, e._1)
          val rb = find(parent, e._2)
          if (ra == rb) rec(rest, chosen, parent, nMerged) // self-loop after contraction: skip
          else {
            // include e (contract)
            rec(rest, e :: chosen, parent.updated(ra, rb), nMerged + 1)
            // exclude e (delete) — only when e is not a bridge of the
            // contracted remainder, i.e. rest alone still spans
            if (spannable(rest, parent, nMerged)) rec(rest, chosen, parent, nMerged)
          }
      }
    }
    if (spannable(es.toList, Map.empty, 0)) rec(es.toList, Nil, Map.empty, 0)
    if (overflow) None else Some(out.toSeq)
  }

  /** Exact spanning-tree COUNT with bound (reference
    * `listSpanningTrees.c` countSpanningTrees: -1 when > maxBound; here
    * None). Unlike the reference's enumeration this uses the matrix-tree
    * theorem per biconnected block (counts multiply across blocks; bridges
    * contribute factor 1), with an exact fraction-free BigInt Bareiss
    * determinant — polynomial regardless of the count, so the bound only
    * caps the REPORTED value, never the work. Nothing is materialized.
    *
    * Convention changes vs the round-2 listing-based implementation
    * (ADVICE r3, deliberate and kept): an EMPTY edge list counts 1 (the
    * empty tree — the matrix-tree convention det of the 0x0 minor; the old
    * listing returned 0), and the bound is INCLUSIVE (count == maxBound is
    * reported, only count > maxBound returns None; the old boundary
    * excluded equality). */
  def countSpanningTrees(edges: Seq[Edge], maxBound: Long = 100000L): Option[Long] = {
    val es = edges.filter(e => e._1 != e._2)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    if (verts.isEmpty) return Some(1L) // the empty tree
    // disconnected -> no spanning tree
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    var merged = 0
    for ((a, b) <- es) { val (ra, rb) = (find(a), find(b)); if (ra != rb) { parent(ra) = rb; merged += 1 } }
    if (merged != verts.size - 1) return Some(0L)
    var prod = BigInt(1)
    for (block <- GraphKernels.biconnectedComponents(es) if block.size > 1) {
      prod *= kirchhoffCount(block)
      if (prod > maxBound) return None
    }
    if (prod > maxBound) None else Some(prod.toLong)
  }

  /** Spanning-tree count of one (biconnected) block: determinant of the
    * Laplacian minor (Kirchhoff), exact via Bareiss fraction-free
    * elimination over BigInt. */
  private def kirchhoffCount(block: Seq[Edge]): BigInt = {
    val verts = block.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = verts.size
    if (n <= 1) return BigInt(1)
    val idx = verts.zipWithIndex.toMap
    val m = n - 1 // drop the last row/column of the Laplacian
    val a = Array.fill(m, m)(BigInt(0))
    for ((u0, v0) <- block) {
      val u = idx(u0); val v = idx(v0)
      if (u < m) a(u)(u) += 1
      if (v < m) a(v)(v) += 1
      if (u < m && v < m) { a(u)(v) -= 1; a(v)(u) -= 1 }
    }
    var sign = 1
    var prev = BigInt(1)
    for (k <- 0 until m) {
      if (a(k)(k) == BigInt(0)) {
        (k + 1 until m).find(r => a(r)(k) != BigInt(0)) match {
          case Some(r) => val t = a(r); a(r) = a(k); a(k) = t; sign = -sign
          case None => return BigInt(0)
        }
      }
      for (i <- k + 1 until m) {
        for (j <- k + 1 until m)
          a(i)(j) = (a(i)(j) * a(k)(k) - a(i)(k) * a(k)(j)) / prev
        a(i)(k) = BigInt(0)
      }
      prev = a(k)(k)
    }
    val det = a(m - 1)(m - 1) * sign
    det.max(BigInt(0)) // the count is nonnegative by the matrix-tree theorem
  }

  // --------------------------------------------- ts sampler modes (mix &c)

  /** Spanning-tree upper-bound estimate as a count (reference
    * `upperBoundsForSpanningTrees.c` getGoodEstimate, the driver of the
    * bound-then-enumerate modes): product over biconnected blocks of
    * C(m, n-1), Long.MaxValue when it overflows. Exact on cacti. */
  def goodEstimateCount(edges: Seq[Edge]): Long = {
    val log = GraphKernels.blockStats(edges).spanningTreeEstimateLog
    if (log > 62 * math.log(2)) Long.MaxValue else math.rint(math.exp(log)).toLong
  }

  /** `ts` mode `listing` (reference `sampleSubtrees.c:160`
    * sampleSpanningTreesUsingListing): list ALL spanning trees, then draw k
    * uniformly WITH replacement (the reference clones on collision). */
  def sampleSpanningTreesUsingListing(edges: Seq[Edge], k: Int, seed: Long,
      maxTrees: Int = 1000000): Option[Seq[Seq[Edge]]] =
    listSpanningTrees(edges, maxTrees).map { all =>
      if (all.isEmpty) Seq.empty
      else {
        val rnd = new Random(seed)
        (0 until k).map(_ => all(rnd.nextInt(all.size)))
      }
    }

  /** `ts` mode `mix` (reference `sampleSubtrees.c:211`
    * sampleSpanningTreesUsingMix): bound-then-enumerate — when the good
    * estimate is below `threshold`, sample from the explicit listing,
    * otherwise run Wilson. Returns (trees, usedListing). */
  def sampleSpanningTreesUsingMix(edges: Seq[Edge], k: Int, threshold: Long,
      seed: Long): (Seq[Seq[Edge]], Boolean) = {
    val est = goodEstimateCount(edges)
    if (est < threshold)
      sampleSpanningTreesUsingListing(edges, k, seed) match {
        case Some(ts) => (ts, true)
        case None => ((0 until k).map(i => wilsonSpanningTree(edges, seed + i)), false)
      }
    else ((0 until k).map(i => wilsonSpanningTree(edges, seed + i)), false)
  }

  /** One uniform spanning tree of a CACTUS: drop one seeded-random edge per
    * cycle block, keep all bridges (reference `sampleSubtrees.c`
    * sampleSpanningTreeFromCactus — cycle blocks have exactly m spanning
    * trees, one per removable edge, independent across blocks). None when
    * some nontrivial block is not a cycle. */
  def sampleCactusSpanningTree(edges: Seq[Edge], seed: Long): Option[Seq[Edge]] =
    sampleCactusFromBlocks(GraphKernels.biconnectedComponents(edges), seed)

  /** [[sampleCactusSpanningTree]] body over an already-computed block
    * decomposition (blocks iterated in the given order; the RNG consumption
    * is identical to the historical inline version). */
  private def sampleCactusFromBlocks(blocks: Seq[Seq[Edge]], seed: Long): Option[Seq[Edge]] = {
    val rnd = new Random(seed)
    val out = mutable.ArrayBuffer[Edge]()
    for (block <- blocks) {
      if (block.size == 1) out += block.head
      else {
        val nv = block.flatMap(e => Seq(e._1, e._2)).distinct.size
        if (block.size != nv) return None // not a cycle block: not a cactus
        val drop = rnd.nextInt(block.size)
        val sorted = block.sorted
        out ++= sorted.zipWithIndex.collect { case (e, i) if i != drop => e }
      }
    }
    Some(out.toSeq)
  }

  /** `ts` mode `cactus` (reference sampleSpanningTreesUsingCactusMix): the
    * specialized per-cycle sampler when the graph is a cactus
    * (n - 1 + #blocks == m), falling back to [[sampleSpanningTreesUsingMix]]. */
  def sampleSpanningTreesUsingCactusMix(edges: Seq[Edge], k: Int, threshold: Long,
      seed: Long): Seq[Seq[Edge]] = {
    val cactusTrees = (0 until k).flatMap(i => sampleCactusSpanningTree(edges, seed + i))
    if (cactusTrees.size == k) cactusTrees
    else sampleSpanningTreesUsingMix(edges, k, threshold, seed)._1
  }

  /** `ts` mode `bridgeForest` (reference `sampleSubtrees.c` listBridgeForest):
    * the forest formed by the graph's bridges, one edge set per connected
    * component of that forest. */
  def bridgeForest(edges: Seq[Edge]): Seq[Seq[Edge]] = {
    val bridges = GraphKernels.biconnectedComponents(edges).filter(_.size == 1).flatten
    if (bridges.isEmpty) return Seq.empty
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    for ((a, b) <- bridges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    bridges.groupBy(e => find(e._1)).values.map(_.sorted).toSeq.sortBy(_.head)
  }

  /** `ts` mode `listOrSample` (reference listOrSampleSpanningTrees): when
    * the estimate is below `threshold`, return ALL spanning trees exactly
    * once; otherwise k Wilson samples. */
  def listOrSampleSpanningTrees(edges: Seq[Edge], k: Int, threshold: Long,
      seed: Long): Seq[Seq[Edge]] = {
    val est = goodEstimateCount(edges)
    if (est < threshold)
      listSpanningTrees(edges, math.min(threshold, Int.MaxValue.toLong).toInt)
        .getOrElse((0 until k).map(i => wilsonSpanningTree(edges, seed + i)))
    else (0 until k).map(i => wilsonSpanningTree(edges, seed + i))
  }

  /** All four `ts` sampler modes of the `f_ts_modes` query evaluated over
    * ONE shared block decomposition (round-5 verdict: the composed per-mode
    * calls re-ran Tarjan up to 8x per graph — twice inside
    * `goodEstimateCount`, once per cactus draw, once for the bridge forest —
    * and `listSpanningTrees` twice, which made the query's constant
    * pathologically contention-sensitive). Each mode's RNG consumption and
    * arithmetic reproduce the composed originals exactly, so the returned
    * row `(usedListing, mixAllSpanning, cactusAllSpanning, bridgeForestComps,
    * listOrSampleCount)` is value-identical — asserted against the composed
    * formulation in `SpanningKernelsSpec`.
    *
    * Falls back to the composed calls when `threshold` exceeds the listing
    * bound (1e6), where the shared-listing argument would not hold; the
    * query uses threshold = 100. */
  def tsModes(edges: Seq[Edge], k: Int, threshold: Long,
      seedMix: Long, seedCactus: Long, seedLos: Long): (Boolean, Boolean, Boolean, Long, Long) = {
    if (threshold > 1000000L) {
      val (mixTrees, usedListing) = sampleSpanningTreesUsingMix(edges, k, threshold, seedMix)
      val cac = sampleSpanningTreesUsingCactusMix(edges, k, threshold, seedCactus)
      return (usedListing, mixTrees.forall(t => isSpanningTree(edges, t)),
        cac.forall(t => isSpanningTree(edges, t)), bridgeForest(edges).size.toLong,
        listOrSampleSpanningTrees(edges, k, threshold, seedLos).size.toLong)
    }
    val blocks = GraphKernels.biconnectedComponents(edges)
    val estLog = GraphKernels.spanningTreeEstimateLogFromBlocks(blocks)
    val est = if (estLog > 62 * math.log(2)) Long.MaxValue else math.rint(math.exp(estLog)).toLong

    // shared spanning-tree validity state (one gset/vertex set per graph
    // instead of one per sampled tree)
    val gset = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    def isSpan(tree: Seq[Edge]): Boolean = {
      val t = tree.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      if (t.size != verts.size - 1 || !t.forall(gset)) return false
      val parent = mutable.Map[Long, Long]()
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      var merged = 0
      for ((a, b) <- t) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(ra) = rb; merged += 1 }
      }
      merged == verts.size - 1
    }

    // ONE listing shared by the mix and listOrSample modes. Both originals
    // list with a bound the listing cannot hit when est < threshold <= 1e6
    // (the estimate upper-bounds the true count), so the shared list equals
    // each original's.
    val listing: Option[Seq[Seq[Edge]]] =
      if (est < threshold) listSpanningTrees(edges, 1000000) else None

    def mixWith(seed: Long): (Seq[Seq[Edge]], Boolean) =
      if (est < threshold) listing match {
        case Some(all) =>
          (if (all.isEmpty) Seq.empty
           else { val rnd = new Random(seed); (0 until k).map(_ => all(rnd.nextInt(all.size))) },
            true)
        case None => ((0 until k).map(i => wilsonSpanningTree(edges, seed + i)), false)
      }
      else ((0 until k).map(i => wilsonSpanningTree(edges, seed + i)), false)

    val (mixTrees, usedListing) = mixWith(seedMix)
    val mixOk = mixTrees.forall(isSpan)

    val cactusTrees = (0 until k).flatMap(i => sampleCactusFromBlocks(blocks, seedCactus + i))
    val cac = if (cactusTrees.size == k) cactusTrees else mixWith(seedCactus)._1
    val cacOk = cac.forall(isSpan)

    val bridges = blocks.filter(_.size == 1).flatten
    val bfComps =
      if (bridges.isEmpty) 0L
      else {
        val parent = mutable.Map[Long, Long]()
        def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
        for ((a, b) <- bridges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
        bridges.groupBy(e => find(e._1)).size.toLong
      }

    val losN: Long =
      if (est < threshold) listing.map(_.size.toLong).getOrElse(k.toLong) else k.toLong

    (usedListing, mixOk, cacOk, bfComps, losN)
  }

  /** tpk 'p' output: the distinct canonical strings of ALL spanning trees of
    * the graph (reference `executables/main.c:186-219`: listSpanningTrees ->
    * canonicalStringOfTree -> searchTree dedupe -> `# id count` + strings).
    * Returns the number of spanning trees listed with the sorted strings;
    * None when the enumeration bound is hit (the reference only processes
    * graphs whose spanning-tree estimate is below `-filter`). */
  def spanningTreePatterns(edges: Seq[Edge], labels: Map[Long, String],
      maxTrees: Int = 100000): Option[(Int, Seq[String])] =
    listSpanningTrees(edges, maxTrees).map { trees =>
      (trees.size, trees.map(t => canonicalString(t, labels)).distinct.sorted)
    }
}
