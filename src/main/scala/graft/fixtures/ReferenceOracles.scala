package graft.fixtures

import scala.collection.mutable

/** Scalar (single-threaded, driver-side) oracle implementations mirroring the
  * reference's C semantics, used as goldens for the distributed operators
  * (FIXTURES.md §3; SURVEY.md §5). Small fixture graphs only. */
object ReferenceOracles {

  private def adjacency(edges: Seq[(Long, Long)]): Map[Long, Seq[Long]] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.filter(e => e._1 != e._2)
    sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).sorted }
  }

  private def vertexSet(edges: Seq[(Long, Long)], extra: Seq[Long] = Nil): Seq[Long] =
    (edges.flatMap(e => Seq(e._1, e._2)) ++ extra).distinct.sorted

  /** Power-iteration PageRank with uniform teleport and dangling-mass
    * redistribution; L-inf convergence (SURVEY.md §2.8.4 semantics). */
  def pageRankScalar(
      edges: Seq[(Long, Long)],
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 500): Map[Long, Double] = {
    val dedup = edges.distinct.filter(e => e._1 != e._2)
    val verts = vertexSet(dedup)
    val n = verts.size
    if (n == 0) return Map.empty
    val out = dedup.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var rank = verts.map(_ -> 1.0 / n).toMap
    var delta = Double.MaxValue
    var it = 0
    while (delta >= tol && it < maxIter) {
      val dangling = verts.filterNot(out.contains).map(rank).sum
      val contrib = mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (v <- verts; targets <- out.get(v); t <- targets)
        contrib(t) += rank(v) / targets.size
      val base = (1.0 - damping) / n + damping * dangling / n
      val next = verts.map(v => v -> (base + damping * contrib(v))).toMap
      delta = verts.map(v => math.abs(next(v) - rank(v))).max
      rank = next
      it += 1
    }
    rank
  }

  /** Fixed-iteration PageRank (matches [[graft.algo.PageRank.run]] with
    * `tol = 0.0, maxIter = iterations`). */
  def pageRankScalarFixed(edges: Seq[(Long, Long)], iterations: Int, damping: Double = 0.85): Map[Long, Double] = {
    val dedup = edges.distinct.filter(e => e._1 != e._2)
    val verts = vertexSet(dedup)
    val n = verts.size
    val out = dedup.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var rank = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iterations) {
      val dangling = verts.filterNot(out.contains).map(rank).sum
      val contrib = mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (v <- verts; targets <- out.get(v); t <- targets)
        contrib(t) += rank(v) / targets.size
      val base = (1.0 - damping) / n + damping * dangling / n
      rank = verts.map(v => v -> (base + damping * contrib(v))).toMap
    }
    rank
  }

  /** DFS connected components with first-visit numbering: component of the
    * first vertex (in id order) is 0, etc. — reference
    * `listComponents.c:306-319` / `connectedComponents.c:25-35` semantics. */
  def connectedComponentsFirstVisit(edges: Seq[(Long, Long)], extraVerts: Seq[Long] = Nil): Map[Long, Long] = {
    val adj = adjacency(edges)
    val verts = vertexSet(edges, extraVerts)
    val comp = mutable.Map[Long, Long]()
    var next = 0L
    for (v <- verts if !comp.contains(v)) {
      val stack = mutable.Stack(v)
      comp(v) = next
      while (stack.nonEmpty) {
        val u = stack.pop()
        for (w <- adj.getOrElse(u, Nil) if !comp.contains(w)) {
          comp(w) = next
          stack.push(w)
        }
      }
      next += 1
    }
    comp.toMap
  }

  /** Min-vid component labels (the distributed engine's canonical form). */
  def connectedComponentsMinVid(edges: Seq[(Long, Long)], extraVerts: Seq[Long] = Nil): Map[Long, Long] = {
    val fv = connectedComponentsFirstVisit(edges, extraVerts)
    val minOf = fv.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    fv.map { case (v, c) => v -> minOf(c) }
  }

  /** k rounds of WL refinement as a partition (labels are canonicalized to
    * the sorted signature string) — reference `weisfeilerLehman.c:19-75`. */
  def wlPartition(edges: Seq[(Long, Long)], initial: Map[Long, String], rounds: Int): Map[Long, String] = {
    val adj = adjacency(edges)
    val verts = vertexSet(edges, initial.keys.toSeq)
    var labels = verts.map(v => v -> initial.getOrElse(v, "_")).toMap
    for (_ <- 0 until rounds) {
      labels = verts.map { v =>
        val nbr = adj.getOrElse(v, Nil).map(labels).sorted.mkString(",")
        v -> s"${labels(v)}:$nbr"
      }.toMap
    }
    labels
  }

  /** Synchronous majority-vote LP, tie-break min label. */
  def lpMajority(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = adjacency(edges)
    val verts = vertexSet(edges)
    var labels = verts.map(v => v -> v).toMap
    for (_ <- 0 until rounds) {
      labels = verts.map { v =>
        val nbrs = adj.getOrElse(v, Nil)
        if (nbrs.isEmpty) v -> labels(v)
        else {
          val counts = nbrs.map(labels).groupBy(identity).map { case (l, xs) => (l, xs.size) }
          val best = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
          v -> best
        }
      }.toMap
    }
    labels
  }

  /** Wedge-check triangle enumeration (reference `graph.c:105-123`,
    * `executables/patternExtractor.c:274-295`): per-vertex and global counts
    * with each triangle counted once globally. */
  def triangles(edges: Seq[(Long, Long)]): (Long, Map[Long, Long]) = {
    val adj = adjacency(edges).map { case (v, ns) => v -> ns.toSet }
    val verts = vertexSet(edges)
    val per = mutable.Map[Long, Long]().withDefaultValue(0L)
    var global = 0L
    for {
      u <- verts
      v <- adj.getOrElse(u, Set.empty) if v > u
      w <- adj.getOrElse(u, Set.empty) if w > v
      if adj.getOrElse(v, Set.empty).contains(w)
    } {
      global += 1
      per(u) += 1; per(v) += 1; per(w) += 1
    }
    (global, verts.map(v => v -> per(v)).toMap)
  }

  /** Degree map (reference `graph.c:72-79`). */
  def degrees(edges: Seq[(Long, Long)]): Map[Long, Int] =
    adjacency(edges).map { case (v, ns) => v -> ns.size }
}
