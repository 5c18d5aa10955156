package graft.mining

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps

/** Levelwise (apriori) frequent subtree mining — the reference's flagship
  * `lwg` executable re-expressed as a driver-side level loop over DataFrames
  * (reference `executables/levelwiseGraphMiningMain.c:72-340`,
  * `lwm_initAndCollect.c:455-471` frequent vertices/edges,
  * `lwm_miningAndExtension.c:255-314` BFSStrategy level loop,
  * `treeEnumeration.c:157` extension, `:226` apriori check).
  *
  * Per level k:
  *  1. candidate generation — every frequent (k−1)-pattern × every frequent
  *     edge triple, attached at every compatible vertex (the reference's
  *     outer-shell extension, simplified to all-shell: a superset, pruned by
  *     the same dedupe + apriori + support steps);
  *  2. dedupe by free-tree canonical string (reference
  *     `lwm_miningAndExtension.c:101-113` searchTree dedupe);
  *  3. apriori prune — every leaf-deleted (k−1)-subtree must be frequent
  *     (left semi shape: explode subtree keys, join against the previous
  *     level, keep candidates with zero misses);
  *  4. support counting — candidate × graph pairs restricted to the SUPPORT
  *     SUPERSET (the surviving parent's support set, reference
  *     `lwm_miningAndExtension.c:31-53`), each pair checked with the
  *     [[SubtreeIso]] embedding kernel, then `groupBy(key).count >= t`
  *     (reference `:191-221`).
  *
  * All per-(pattern, graph) work runs inside executors; the driver only
  * steers the level loop (same shape as the PageRank iteration driver).
  * Patterns are trees; the DB must be a forest DB (the reference's
  * `initFrequentTreeMiningForForestDB` precondition).
  */
object FrequentSubtrees {

  /** Hygiene counters for [[mineDfs]]'s per-expansion broadcasts (round-4
    * verdict: `bc`/`bset` were created per expansion and never destroyed,
    * accumulating driver+executor memory across a deep walk). Test-visible
    * so the create==destroy invariant is asserted directly rather than by
    * counting block-manager blocks, which Spark's own broadcast joins churn
    * asynchronously. */
  private[graft] val dfsBroadcastsCreated = new java.util.concurrent.atomic.AtomicLong
  private[graft] val dfsBroadcastsDestroyed = new java.util.concurrent.atomic.AtomicLong

  /** Embedding operator for the support-counting step — the reference's
    * `lwg -e` operator dispatch (`lwm_embeddingOperators.c:43-340`):
    *  - [[ExactSubtree]]: exact subtree iso, forest DBs only (reference
    *    `subtreeOperator`);
    *  - [[LocalEasyExact]]: exact for ARBITRARY (cyclic) DBs — pattern
    *    embeds in some spanning tree of the transaction, decided as
    *    subgraph iso ([[graft.trees.LocalEasy.treeIntoGraphEmbeds]];
    *    reference `localEasyOperator` on the full spanning-tree tree);
    *  - [[LocalEasySampled]]: one-sided error, k blockwise-sampled spanning
    *    trees per transaction (reference
    *    `localEasySubtreeCheckOperatorWithResampling`);
    *  - [[Hops]]: one-sided error, `importance` randomized embedding
    *    attempts (reference `hopsOperator`, KDD'20). */
  sealed trait EmbeddingOp extends Serializable
  case object ExactSubtree extends EmbeddingOp
  case object LocalEasyExact extends EmbeddingOp
  final case class LocalEasySampled(k: Int, seed: Long) extends EmbeddingOp
  final case class Hops(importance: Int, seed: Long) extends EmbeddingOp
  /** mu-important: h in >= minComponents components of the transaction
    * forest (reference `subtreeAbsimpOperator`, importantSubtrees.c). */
  final case class AbsImportant(minComponents: Int) extends EmbeddingOp
  /** h in >= mu * (#components) components (reference `subtreeRelimpOperator`). */
  final case class RelImportant(mu: Double) extends EmbeddingOp
  /** Sample-ONCE `ps` (reference help `levelwiseGraphMiningHelp.txt` "ps":
    * "The spt-sampling takes place only once for each transaction graph at
    * the beginning of the mining"; `lwm_initAndCollect.c` sampled-DB
    * construction): k whole-graph spanning forests drawn per transaction
    * BEFORE the level loop and stored with it; h counts when it is a
    * subtree of one of them. Deterministic across levels, so — unlike
    * [[LocalEasySampled]] resampling — the apriori property and the
    * parent-support restriction are SOUND, exactly the ML'18/'19 design. */
  final case class PsSampledOnce(k: Int, seed: Long) extends EmbeddingOp
  /** Sample-ONCE `bps` (reference help "bps"): k local spanning trees per
    * block-tree root drawn once per transaction; h counts when it embeds in
    * some COMBINATION (one tree per root) — [[graft.trees.LocalEasy.bpsEmbeds]].
    * Same apriori soundness as [[PsSampledOnce]], strictly higher recall
    * (k^roots combinations vs k whole forests). */
  final case class BpsSampledOnce(k: Int, seed: Long) extends EmbeddingOp
  /** The `hops_simple` / `hops_simplerandom` / `hops_simplematching`
    * comparison variants (reference help "VARIANTS OF INCOMPLETE EMBEDDING
    * OPERATORS"; `subtreeIsomorphismSampling.c:39,110,249`): `mode` is a
    * [[graft.trees.LocalEasy.HopsMode]] value. One-sided error, resampled
    * per call — no apriori guarantee, exactly as the reference warns. */
  final case class HopsVariant(mode: Int, importance: Int, seed: Long) extends EmbeddingOp

  /** A transaction graph re-indexed to dense 0-based vertex ids.
    * `psForests`/`bpsLocal` carry the ONCE-sampled structures of the
    * sample-once operators (empty otherwise): ps = whole-graph spanning
    * forests, bps = per-root local spanning trees. */
  final case class TGraph(graphId: Long, vlabels: Seq[String], edges: Seq[(Int, Int, String)],
      psForests: Seq[Seq[(Int, Int, String)]] = Nil,
      bpsLocal: Seq[Seq[Seq[(Int, Int)]]] = Nil)

  /** A candidate/frequent pattern; vertices 0..n-1, key = canonical string. */
  final case class Pattern(vlabels: Seq[String], edges: Seq[(Int, Int, String)], key: String, parentKey: String)

  final case class SupportPair(key: String, graphId: Long)
  final case class LevelResult(size: Int, cstring: String, support: Long)

  private def toLTree(vlabels: Seq[String], edges: Seq[(Int, Int, String)]): SubtreeIso.LTree =
    SubtreeIso.LTree(vlabels.toArray, edges.toArray)

  /** Per-transaction context for a batch of embedding checks: the re-indexed
    * LTree (and the ps forests' LTrees) are built ONCE per graph and reused
    * across every candidate checked against it — the support-counting step
    * hands each graph all its candidate patterns at once (round-6: the
    * former per-(pattern, graph) `joinWith` deserialized and re-indexed the
    * transaction once per pair). Round-6.2: the DFS miner caches an RDD of
    * (graphId, GraphCtx) objects ([[keyedGraphCtx]]) so the lazy indexes
    * additionally survive across its many expansions; Serializable so a
    * MEMORY_AND_DISK spill can write it. The indexes are `@transient`: they
    * are derived from `g`, so a spill writes only the graph and a read-back
    * copy rebuilds them on first use. */
  private[mining] final class GraphCtx(val g: TGraph) extends Serializable {
    @transient lazy val gt: SubtreeIso.LTree = toLTree(g.vlabels, g.edges)
    @transient lazy val psLts: Seq[SubtreeIso.LTree] =
      g.psForests.map(f => SubtreeIso.LTree(g.vlabels.toArray, f.toArray))
    @transient lazy val comps: Seq[SubtreeIso.LTree] = graft.trees.LocalEasy.components(gt)
  }

  /** One embedding-operator evaluation (the `lwg -e` dispatch shared by the
    * BFS and DFS strategies). Seeds and per-call sampling are untouched by
    * the GraphCtx hoisting: every randomized operator draws from a fresh
    * `seed ^ graphId`-keyed generator per (pattern, graph) exactly as
    * before. */
  private[mining] def embedsCtx(operator: EmbeddingOp,
      vl: Seq[String], es: Seq[(Int, Int, String)], ctx: GraphCtx): Boolean = {
    val h = toLTree(vl, es)
    val g = ctx.g
    operator match {
      case ExactSubtree => SubtreeIso.embeds(h, ctx.gt)
      case LocalEasyExact => graft.trees.LocalEasy.treeIntoGraphEmbeds(h, ctx.gt)
      case LocalEasySampled(k, seed) =>
        graft.trees.LocalEasy.sampledLocalEmbeds(h, ctx.gt, k, seed ^ g.graphId)
      case Hops(imp, seed) =>
        graft.trees.LocalEasy.hopsEmbeds(h, ctx.gt, imp, seed ^ g.graphId)
      case HopsVariant(mode, imp, seed) =>
        graft.trees.LocalEasy.hopsVariantEmbeds(h, ctx.gt, imp, seed ^ g.graphId, mode)
      case AbsImportant(t) =>
        graft.trees.LocalEasy.importanceCountAtLeast(ctx.comps, h, t)
      case RelImportant(mu) =>
        graft.trees.LocalEasy.importanceFracAtLeast(ctx.comps, h, mu)
      case PsSampledOnce(_, _) =>
        ctx.psLts.exists(f => SubtreeIso.embeds(h, f))
      case BpsSampledOnce(_, _) =>
        graft.trees.LocalEasy.bpsEmbeds(h, ctx.gt, g.bpsLocal)
    }
  }

  private def embedsWith(operator: EmbeddingOp,
      vl: Seq[String], es: Seq[(Int, Int, String)], g: TGraph): Boolean =
    embedsCtx(operator, vl, es, new GraphCtx(g))

  /** All one-leaf extensions of a free-tree pattern over the frequent-edge
    * alphabet (reference `treeEnumeration.c:157` extension step — every
    * vertex, every compatible triple; a superset of the outer-shell
    * extension, pruned downstream by dedupe/apriori/support). */
  private def extensionsOf(pat: Pattern, exts: Seq[(String, String, String)]): Seq[Pattern] = {
    val n = pat.vlabels.size
    for {
      u <- 0 until n
      (la, el, lb) <- exts
      leafLabel <- (if (pat.vlabels(u) == la && pat.vlabels(u) == lb) Seq(lb)
                    else if (pat.vlabels(u) == la) Seq(lb)
                    else if (pat.vlabels(u) == lb) Seq(la)
                    else Seq.empty[String])
    } yield {
      val vl = pat.vlabels :+ leafLabel
      val es = pat.edges :+ ((u, n, el))
      Pattern(vl, es, SubtreeIso.canonicalString(toLTree(vl, es)), pat.key)
    }
  }

  /** Transaction graphs re-indexed to dense vertex ids, with the
    * forest-precondition checks and (for the sample-once operators) the
    * once-per-transaction sampled structures. NOT persisted — callers key it
    * by graphId into the partitioned GraphCtx cache ([[keyedGraphCtx]]). */
  private def transactionGraphs(spark: SparkSession, v: DataFrame, e: DataFrame,
      operator: EmbeddingOp): Dataset[TGraph] = {
    import spark.implicits._
    val requireForest = preparation(operator)._1
    v.groupBy("graph_id")
      .agg(collect_list(struct(col("vid"), col("vlabel"))).as("vs"))
      .join(e.groupBy("graph_id")
        .agg(collect_list(struct(col("src"), col("dst"), col("elabel"))).as("es")), Seq("graph_id"), "left")
      .as[(Long, Seq[(Long, String)], Option[Seq[(Long, Long, String)]])]
      .map { case (gid, vs, es) =>
        val sorted = vs.sortBy(_._1)
        val idx = sorted.map(_._1).zipWithIndex.toMap
        val g = TGraph(gid, sorted.map(_._2),
          es.getOrElse(Nil).map { case (s, d, l) => (idx(s), idx(d), l) })
        // Forest-DB precondition — EXACT subtree operator only (the
        // reference's initFrequentTreeMiningForForestDB contract): the
        // subtree-iso kernel only excludes the entering neighbor, so on a
        // cyclic transaction it would silently degrade to a non-injective
        // walk and overcount support. Fail loudly instead (acyclic <=>
        // m = n - #components, via union-find). The local-easy and HOPS
        // operators exist precisely FOR cyclic DBs — no check there.
        if (requireForest) {
          val parent = scala.collection.mutable.Map[Int, Int]()
          def find(x: Int): Int = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
          var merged = 0
          for ((a, b, _) <- g.edges) {
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) { parent(ra) = rb; merged += 1 }
          }
          require(merged == g.edges.size,
            s"FrequentSubtrees.mine: transaction graph $gid is cyclic; the levelwise " +
              "tree miner with the exact subtree operator requires a forest DB " +
              "(reference lwm_initAndCollect.c precondition) — use LocalEasyExact/" +
              "LocalEasySampled/Hops for cyclic DBs")
        }
        // sample-once operators: draw the sampled structures HERE, once per
        // transaction, and carry them with the graph through every level
        // (the reference's sampled-DB construction in lwm_initAndCollect.c)
        operator match {
          case PsSampledOnce(k, seed) =>
            val lt = toLTree(g.vlabels, g.edges)
            g.copy(psForests = (0 until k).map { i =>
              graft.trees.LocalEasy.wholeGraphSpanningForest(lt, seed ^ gid * 1000003L + i)
                .edges.toSeq
            })
          case BpsSampledOnce(k, seed) =>
            g.copy(bpsLocal =
              graft.trees.LocalEasy.bpsLocalTrees(toLTree(g.vlabels, g.edges), k, seed ^ gid))
          case _ => g
        }
      }
  }

  /** What [[transactionGraphs]] derives from the operator: whether it
    * rejects cyclic transactions (the per-component isSubtree operators),
    * and whose once-per-transaction samples it stores, if any. Mines whose
    * operators agree on it can share prepared graphs. */
  private def preparation(operator: EmbeddingOp): (Boolean, Option[EmbeddingOp]) = operator match {
    case ExactSubtree | AbsImportant(_) | RelImportant(_) => (true, None)
    case PsSampledOnce(_, _) | BpsSampledOnce(_, _) => (false, Some(operator))
    case _ => (false, None)
  }

  /** (graphId, [[GraphCtx]]) object-cached for the DFS miner, which scans
    * the transactions once per EXPANSION — dozens of passes per run, so the
    * per-graph lazy indexes surviving in the object cache pay for the
    * one-time java-serialized partitionBy (measured: DFS task-CPU 11.0 ->
    * 6.9 s). The BFS miners deliberately do NOT use this — with only 2-3
    * level passes the object shuffle costs more than the per-level tungsten
    * re-shuffle it saves (measured: absimp 6.3 -> 12.4 s wall when tried;
    * reverted). */
  private def keyedGraphCtx(graphs: Dataset[TGraph], p: Int)
      : org.apache.spark.rdd.RDD[(Long, GraphCtx)] =
    graphs.rdd.map(g => (g.graphId, new GraphCtx(g)))
      .partitionBy(new org.apache.spark.HashPartitioner(p))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Transaction graphs from [[prepareGraphs]] together with the operator
    * they were prepared under. */
  final case class PreparedGraphs(graphs: Dataset[TGraph], operator: EmbeddingOp)

  /** [[mine]]'s transaction-graph Dataset, exposed so a caller running
    * SEVERAL mines over the SAME DB (e.g. the operator-variant comparison
    * query) can derive + persist it once and pass it via `sharedGraphs`
    * instead of re-running the DB pipeline per mine (round-6.2). The caller
    * owns the persist/unpersist of `graphs`. Only valid for mines whose
    * operator needs the same per-transaction preparation (forest check and
    * sample-once structures) — [[mine]] requires it. */
  def prepareGraphs(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      operator: EmbeddingOp): PreparedGraphs = {
    val v = verts.select(col(verts.columns(0)).cast("long").as("graph_id"),
      col(verts.columns(1)).cast("long").as("vid"), col(verts.columns(2)).cast("string").as("vlabel"))
    val e = edges.select(col(edges.columns(0)).cast("long").as("graph_id"),
      col(edges.columns(1)).cast("long").as("src"), col(edges.columns(2)).cast("long").as("dst"),
      col(edges.columns(3)).cast("string").as("elabel"))
    PreparedGraphs(transactionGraphs(spark, v, e, operator), operator)
  }

  /** Mine frequent subtrees of sizes 1..maxPatternSize with support >=
    * threshold. verts: (graph_id, vid, vlabel); edges: (graph_id, src, dst,
    * elabel). Returns (size, cstring, support) ordered by (size, cstring). */
  def mine(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      threshold: Long, maxPatternSize: Int,
      operator: EmbeddingOp = ExactSubtree,
      sharedGraphs: Option[PreparedGraphs] = None): DataFrame = {
    import spark.implicits._
    sharedGraphs.foreach { pg =>
      require(preparation(pg.operator) == preparation(operator),
        s"FrequentSubtrees.mine: graphs prepared under ${pg.operator} cannot be mined " +
          s"under $operator (different forest check or sample-once structures)")
    }
    // v/e each feed exactly ONE consumer since round-6.2 (transactionGraphs;
    // the level-1 occurrence and the alphabet read the graph cache), so they
    // are no longer persisted: the single combined plan lets the planner
    // reuse the caller's shared DB-pipeline exchange across the two groupBy
    // branches, where two separate cache builds re-ran it once each.
    val v = verts.select(col(verts.columns(0)).cast("long").as("graph_id"),
      col(verts.columns(1)).cast("long").as("vid"), col(verts.columns(2)).cast("string").as("vlabel"))
    val e = edges.select(col(edges.columns(0)).cast("long").as("graph_id"),
      col(edges.columns(1)).cast("long").as("src"), col(edges.columns(2)).cast("long").as("dst"),
      col(edges.columns(3)).cast("string").as("elabel"))

    // ---- transaction graphs, re-indexed once (small per graph) ----
    // Kept as a TUNGSTEN-cached Dataset deliberately: a round-6.2 experiment
    // cached (graphId, GraphCtx) objects behind a partitionBy so the level
    // loop's cogroup would stop re-shuffling the transactions — measured
    // SLOWER (absimp 6.3 -> 12.4 s, task-CPU 80 -> 307 s): the one-time
    // partitionBy java-serializes the Seq-heavy graph objects, which costs
    // more than the per-level re-shuffle of compact tungsten rows it saves
    // at 2-3 levels. Reverted; the DFS miner (many passes per run) keeps
    // the object cache — see [[keyedGraphCtx]]/[[mineDfs]].
    val ownGraphs = sharedGraphs.isEmpty
    val graphs: Dataset[TGraph] = sharedGraphs.map(_.graphs).getOrElse(
      transactionGraphs(spark, v, e, operator).persist(StorageLevel.MEMORY_AND_DISK))

    // ---- level 1: frequent vertex labels (getFrequentVertices) ----
    // Round-3 change: the per-level pattern dictionary STAYS DISTRIBUTED —
    // round 2 collected every level's patterns to the driver (mirroring the
    // reference's in-memory SearchTree), which was the one driver-memory
    // bottleneck at web scale. Only the frequent-EDGE extension alphabet is
    // collected + broadcast (tiny by construction: |vertex labels|² × |edge
    // labels| upper bound, and the reference holds exactly this in memory).
    // Round-6.2: vertOcc and the edge alphabet both read the cached
    // `graphs` (labels ride in TGraph) instead of re-joining v/e — the
    // per-graph distinct runs inside the flatMap, so only already-deduped
    // (graph, label) / (graph, triple) pairs reach a shuffle, and the two
    // label joins of the former alphabet derivation disappear outright.
    val vertOcc = graphs.flatMap(g => g.vlabels.distinct.map(l => (g.graphId, l)))
      .toDF("graph_id", "vlabel").persist(StorageLevel.MEMORY_AND_DISK)
    val freq1 = vertOcc.groupBy("vlabel").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var results: DataFrame = freq1
      .select(lit(1).as("size"), col("vlabel").as("cstring"), col("support"))
    var patternsDS: Dataset[Pattern] = freq1
      .select("vlabel").as[String]
      .map(l => Pattern(Seq(l), Nil, l, ""))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var nPatterns = patternsDS.count()
    var supportDS: Dataset[SupportPair] = vertOcc
      .join(freq1.select("vlabel"), "vlabel")
      .select(col("vlabel").as("key"), col("graph_id").as("graphId"))
      .as[SupportPair].persist(StorageLevel.MEMORY_AND_DISK)

    // ---- frequent edge triples = the extension alphabet (getFrequentEdges) ----
    // Triple orientation (la <= lb) matters only for dedupe — extensionsOf
    // treats the triple symmetrically — so the JVM string order here is as
    // good as the former least/greatest SQL pair.
    val freqEdges: Seq[(String, String, String)] = graphs
      .flatMap { g =>
        g.edges.iterator.map { case (a, b, l) =>
          val (la, lb) = (g.vlabels(a), g.vlabels(b))
          if (la <= lb) (la, l, lb) else (lb, l, la)
        }.toSet.iterator
      }
      .toDF("la", "elabel", "lb")
      .groupBy("la", "elabel", "lb").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .select("la", "elabel", "lb").as[(String, String, String)].collect().toSeq
    val bcEdges = spark.sparkContext.broadcast(freqEdges)
    val levelCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // The two initial frames are plain persists; from level 2 on each level
    // replaces them with ONE combined checkpoint (released a level later).
    var prevLevelFrames: Seq[Dataset[_]] = Seq(patternsDS, supportDS)

    var level = 2
    while (level <= maxPatternSize && nPatterns > 0) {
      // 1-2. extend every pattern at every compatible vertex; dedupe by key.
      val candidates = patternsDS
        .flatMap(pat => extensionsOf(pat, bcEdges.value))
        .dropDuplicates("key")

      // 3. apriori: every leaf-deleted (k-1)-subtree key must be frequent.
      val prevKeys = patternsDS.select(col("key").as("subKey"))
      val subKeys = candidates.flatMap { c =>
        val lt = toLTree(c.vlabels, c.edges)
        val deg = Array.fill(lt.n)(0)
        for ((a, b, _) <- c.edges) { deg(a) += 1; deg(b) += 1 }
        (0 until lt.n).filter(i => deg(i) <= 1).map { leaf =>
          val keep = (0 until lt.n).filter(_ != leaf)
          val remap = keep.zipWithIndex.toMap
          val vl = keep.map(c.vlabels)
          val es = c.edges.collect { case (a, b, l) if a != leaf && b != leaf => (remap(a), remap(b), l) }
          (c.key, SubtreeIso.canonicalString(toLTree(vl, es)))
        }
      }.toDF("key", "subKey")
      // (left-anti right side needs no dedupe — the former .distinct() here
      // was one aggregate+exchange per level for nothing, round-6.2)
      val pruned = subKeys
        .join(prevKeys, Seq("subKey"), "left_anti")
        .select("key")
      val survivors = candidates.join(pruned, Seq("key"), "left_anti").as[Pattern]
        .persist(StorageLevel.MEMORY_AND_DISK)

      // 4. support: candidate x graph pairs from the parent's support set,
      //    embedding-checked in executors, HAVING count >= t. Cogrouped by
      //    graphId (round-6) so each transaction is deserialized and
      //    re-indexed ONCE per level and checked against all its candidate
      //    patterns, instead of once per (pattern, graph) join row.
      val pairs = survivors
        .joinWith(supportDS, survivors("parentKey") === supportDS("key"))
        .map { case (pat, sp) => (sp.graphId, pat.vlabels, pat.edges, pat.key) }
      val matched = pairs.groupByKey(_._1)
        .cogroup(graphs.groupByKey(_.graphId)) { (gid, ps, gs) =>
          val g = if (gs.hasNext) gs.next() else null
          if (g == null) Iterator.empty
          else {
            val ctx = new GraphCtx(g)
            ps.collect { case (_, vl, es, key) if embedsCtx(operator, vl, es, ctx) =>
              SupportPair(key, gid)
            }
          }
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Eager checkpoint (not persist): truncates freqKeys' lineage so the
      // `results` union chain no longer reaches back through matched/
      // survivors into the superseded level frames — which makes it SAFE to
      // release those frames' checkpoint blocks immediately below.
      val freqKeys = matched.groupBy("key").agg(count(lit(1)).as("support"))
        .where(col("support") >= threshold)
        .localCheckpoint(true)

      results = results.union(
        freqKeys.select(lit(level).as("size"), col("key").as("cstring"), col("support")))
      // Round-6.2: the next level's pattern dictionary and support relation
      // are materialized by ONE eager checkpoint (a tagged union) instead of
      // two separate localCheckpoint actions; patternsDS/supportDS become
      // filters over the combined frame. The per-level lineage truncation is
      // unchanged (the union IS the checkpoint — same discipline as the
      // PageRank/CC iteration loops), and nPatterns comes from the already-
      // materialized freqKeys (freqKeys ⊆ survivor keys, both key-unique,
      // so |freqKeys| == |next patterns|).
      val nextPatterns = survivors.join(freqKeys.select("key"), Seq("key"), "left_semi")
        .select(col("vlabels"), col("edges"), col("key"), col("parentKey"),
          lit(0L).as("graphId"), lit(true).as("isPat"))
      val nextSupport = matched.join(freqKeys.select("key"), Seq("key"), "left_semi")
        .select(lit(null).cast("array<string>").as("vlabels"),
          lit(null).cast("array<struct<_1:int,_2:int,_3:string>>").as("edges"),
          col("key"), lit("").as("parentKey"), col("graphId"), lit(false).as("isPat"))
      val state = nextPatterns.unionByName(nextSupport).localCheckpoint(true)
      patternsDS = state.where(col("isPat"))
        .select("vlabels", "edges", "key", "parentKey").as[Pattern]
      supportDS = state.where(!col("isPat")).select("key", "graphId").as[SupportPair]
      nPatterns = freqKeys.count()
      // superseded level frames: free the CHECKPOINT blocks, not just the
      // cache entry (plain unpersist cannot reach them — GraphOps helper)
      prevLevelFrames.foreach(GraphOps.releaseCheckpoint)
      prevLevelFrames = Seq(state)
      matched.unpersist(false)
      survivors.unpersist(false)
      levelCaches += freqKeys // feeds `results`; released after materialization
      level += 1
    }

    if (ownGraphs) graphs.unpersist(false)
    vertOcc.unpersist(false)
    // One eager materialized result frame for the caller (same contract as
    // the graph loops' outputs); every internal frame is released below.
    val out = results.orderBy("size", "cstring").localCheckpoint(true)
    freq1.unpersist(false)
    prevLevelFrames.foreach(GraphOps.releaseCheckpoint)
    levelCaches.foreach(GraphOps.releaseCheckpoint)
    out
  }

  // ------------------------------------------------------------------ lwgr

  /** Canonical string of a ROOTED pattern (root = vertex 0, edges directed
    * parent -> child): `vlabel(elabel childCs)...` with children sorted — the
    * rooted grammar of reference `cs_Parsing.c` WITHOUT the free-tree
    * center minimization (reference `lwmr_initAndCollect.c:35`). */
  def rootedCanonicalString(vl: Seq[String], es: Seq[(Int, Int, String)]): String = {
    val children = es.groupBy(_._1)
    def rec(v: Int): String = {
      val kids = children.getOrElse(v, Nil).map { case (_, c, el) => s"($el ${rec(c)})" }.sorted
      vl(v) + kids.mkString
    }
    rec(0)
  }

  /** Rooted subtree embedding into a DIRECTED transaction graph: the pattern
    * root maps to any vertex; every pattern edge parent->child follows a
    * directed graph edge with matching vertex/edge labels, siblings mapped
    * injectively (per-node bipartite matching, the rooted analogue of
    * [[SubtreeIso.embeds]]; reference `lwmr_embeddingOperators.c`). Global
    * injectivity coincides with sibling injectivity on forest transactions —
    * the miner's precondition. */
  def embedsRooted(pvl: Seq[String], pes: Seq[(Int, Int, String)], g: TGraph): Boolean =
    embedsRootedAdj(pvl, pes, g, g.edges.groupBy(_._1))

  /** [[embedsRooted]] with the graph adjacency prebuilt — the support step
    * hands one graph all its candidates, so the adjacency grouping is
    * hoisted out of the per-pattern call (round-6). */
  private def embedsRootedAdj(pvl: Seq[String], pes: Seq[(Int, Int, String)], g: TGraph,
      gadj: Map[Int, Seq[(Int, Int, String)]]): Boolean = {
    val pchild = pes.groupBy(_._1)
    val memo = scala.collection.mutable.Map[(Int, Int), Boolean]()
    def fits(pv: Int, gv: Int): Boolean = memo.getOrElseUpdate((pv, gv), {
      g.vlabels(gv) == pvl(pv) && {
        val kids = pchild.getOrElse(pv, Nil)
        if (kids.isEmpty) true
        else {
          val cands = gadj.getOrElse(gv, IndexedSeq.empty).toIndexedSeq
          // Kuhn's augmenting-path matching: kid i -> candidate slot j
          val kidCands = kids.map { case (_, pc, el) =>
            cands.indices.filter { j => cands(j)._3 == el && fits(pc, cands(j)._2) }
          }
          val matchOf = Array.fill(cands.size)(-1)
          def augment(i: Int, seen: Array[Boolean]): Boolean =
            kidCands(i).exists { j =>
              !seen(j) && {
                seen(j) = true
                if (matchOf(j) < 0 || augment(matchOf(j), seen)) { matchOf(j) = i; true }
                else false
              }
            }
          kids.indices.forall(i => augment(i, Array.fill(cands.size)(false)))
        }
      }
    })
    g.vlabels.indices.exists(gv => fits(0, gv))
  }

  /** Levelwise frequent ROOTED subtree mining over a rooted/directed forest
    * DB — the reference's `lwgr` executable (`lwmr_initAndCollect.c`,
    * `lwmr_miningAndExtension.c`): same apriori level loop as [[mine]], with
    * rooted canonical strings, directed extension triples (parentLabel,
    * edgeLabel, childLabel) and the rooted embedding operator. */
  def mineRooted(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      threshold: Long, maxPatternSize: Int): DataFrame = {
    import spark.implicits._

    // v/e single-consumer since round-6.2 — not persisted (see [[mine]])
    val v = verts.select(col(verts.columns(0)).cast("long").as("graph_id"),
      col(verts.columns(1)).cast("long").as("vid"), col(verts.columns(2)).cast("string").as("vlabel"))
    val e = edges.select(col(edges.columns(0)).cast("long").as("graph_id"),
      col(edges.columns(1)).cast("long").as("src"), col(edges.columns(2)).cast("long").as("dst"),
      col(edges.columns(3)).cast("string").as("elabel"))

    val graphs: Dataset[TGraph] = v.groupBy("graph_id")
      .agg(collect_list(struct(col("vid"), col("vlabel"))).as("vs"))
      .join(e.groupBy("graph_id")
        .agg(collect_list(struct(col("src"), col("dst"), col("elabel"))).as("es")), Seq("graph_id"), "left")
      .as[(Long, Seq[(Long, String)], Option[Seq[(Long, Long, String)]])]
      .map { case (gid, vs, es) =>
        val sorted = vs.sortBy(_._1)
        val idx = sorted.map(_._1).zipWithIndex.toMap
        val g = TGraph(gid, sorted.map(_._2),
          es.getOrElse(Nil).map { case (s, d, l) => (idx(s), idx(d), l) })
        // Rooted-forest precondition (embedsRooted's global-injectivity
        // argument needs it, see its Scaladoc): acyclic AND in-degree <= 1 —
        // a shared child (in-degree 2) is acyclic as an undirected graph but
        // still lets sibling-injective matching reuse a graph vertex. Fail
        // loudly instead of silently overcounting (ADVICE round 2).
        val indeg = Array.fill(g.vlabels.size)(0)
        for ((_, d, _) <- g.edges) {
          indeg(d) += 1
          require(indeg(d) <= 1,
            s"FrequentSubtrees.mineRooted: transaction graph $gid has a vertex with " +
              "in-degree > 1; the rooted miner requires a rooted-forest DB")
        }
        val parent = scala.collection.mutable.Map[Int, Int]()
        def find(x: Int): Int = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
        var merged = 0
        for ((a, b, _) <- g.edges) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { parent(ra) = rb; merged += 1 }
        }
        require(merged == g.edges.size,
          s"FrequentSubtrees.mineRooted: transaction graph $gid is cyclic; the " +
            "rooted miner requires a rooted-forest DB")
        g
      }
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Distributed per-level pattern dictionary — same round-3 discipline as
    // [[mine]] (only the directed extension alphabet is collected); vertOcc
    // and the alphabet read the cached `graphs` (round-6.2, as in [[mine]]).
    val vertOcc = graphs.flatMap(g => g.vlabels.distinct.map(l => (g.graphId, l)))
      .toDF("graph_id", "vlabel").persist(StorageLevel.MEMORY_AND_DISK)
    val freq1 = vertOcc.groupBy("vlabel").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var results: DataFrame = freq1
      .select(lit(1).as("size"), col("vlabel").as("cstring"), col("support"))
    var patternsDS: Dataset[Pattern] = freq1
      .select("vlabel").as[String]
      .map(l => Pattern(Seq(l), Nil, l, ""))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var nPatterns = patternsDS.count()
    var supportDS: Dataset[SupportPair] = vertOcc
      .join(freq1.select("vlabel"), "vlabel")
      .select(col("vlabel").as("key"), col("graph_id").as("graphId"))
      .as[SupportPair].persist(StorageLevel.MEMORY_AND_DISK)

    // directed extension alphabet: (parentLabel, edgeLabel, childLabel)
    val freqEdges: Seq[(String, String, String)] = graphs
      .flatMap(g => g.edges.iterator.map { case (a, b, l) =>
        (g.vlabels(a), l, g.vlabels(b))
      }.toSet.iterator)
      .toDF("sl", "elabel", "dl")
      .groupBy("sl", "elabel", "dl").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .select("sl", "elabel", "dl").as[(String, String, String)].collect().toSeq
    val bcEdges = spark.sparkContext.broadcast(freqEdges)
    val levelCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var prevLevelFrames: Seq[Dataset[_]] = Seq(patternsDS, supportDS)

    var level = 2
    while (level <= maxPatternSize && nPatterns > 0) {
      val candidates = patternsDS
        .flatMap { pat =>
          val n = pat.vlabels.size
          for {
            u <- 0 until n
            (pl, el, cl) <- bcEdges.value
            if pat.vlabels(u) == pl
          } yield {
            val vl = pat.vlabels :+ cl
            val es = pat.edges :+ ((u, n, el))
            Pattern(vl, es, rootedCanonicalString(vl, es), pat.key)
          }
        }
        .dropDuplicates("key")

      // apriori over non-root leaf deletions
      val prevKeys = patternsDS.select(col("key").as("subKey"))
      val subKeys = candidates.flatMap { c =>
        val n = c.vlabels.size
        val deg = Array.fill(n)(0)
        for ((a, b, _) <- c.edges) { deg(a) += 1; deg(b) += 1 }
        (1 until n).filter(i => deg(i) <= 1).map { leaf =>
          val keep = (0 until n).filter(_ != leaf)
          val remap = keep.zipWithIndex.toMap
          val vl = keep.map(c.vlabels)
          val es = c.edges.collect { case (a, b, l) if a != leaf && b != leaf => (remap(a), remap(b), l) }
          (c.key, rootedCanonicalString(vl, es))
        }
      }.toDF("key", "subKey")
      // (left-anti right side needs no dedupe, round-6.2 — as in [[mine]])
      val pruned = subKeys
        .join(prevKeys, Seq("subKey"), "left_anti")
        .select("key")
      val survivors = candidates.join(pruned, Seq("key"), "left_anti").as[Pattern]
        .persist(StorageLevel.MEMORY_AND_DISK)

      // cogrouped by graphId — one deserialization + adjacency build per
      // transaction per level (same restructure as [[mine]], round-6)
      val pairs = survivors
        .joinWith(supportDS, survivors("parentKey") === supportDS("key"))
        .map { case (pat, sp) => (sp.graphId, pat.vlabels, pat.edges, pat.key) }
      val matched = pairs.groupByKey(_._1)
        .cogroup(graphs.groupByKey(_.graphId)) { (gid, ps, gs) =>
          val g = if (gs.hasNext) gs.next() else null
          if (g == null) Iterator.empty
          else {
            val gadj = g.edges.groupBy(_._1)
            ps.collect { case (_, vl, es, key) if embedsRootedAdj(vl, es, g, gadj) =>
              SupportPair(key, gid)
            }
          }
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Eager checkpoint so `results` stops referencing the superseded
      // level frames (see the identical discipline in [[mine]]).
      val freqKeys = matched.groupBy("key").agg(count(lit(1)).as("support"))
        .where(col("support") >= threshold)
        .localCheckpoint(true)

      results = results.union(
        freqKeys.select(lit(level).as("size"), col("key").as("cstring"), col("support")))
      // ONE combined eager checkpoint for the next level's state (round-6.2,
      // see [[mine]] for the rationale and the |freqKeys| == |patterns| note)
      val nextPatterns = survivors.join(freqKeys.select("key"), Seq("key"), "left_semi")
        .select(col("vlabels"), col("edges"), col("key"), col("parentKey"),
          lit(0L).as("graphId"), lit(true).as("isPat"))
      val nextSupport = matched.join(freqKeys.select("key"), Seq("key"), "left_semi")
        .select(lit(null).cast("array<string>").as("vlabels"),
          lit(null).cast("array<struct<_1:int,_2:int,_3:string>>").as("edges"),
          col("key"), lit("").as("parentKey"), col("graphId"), lit(false).as("isPat"))
      val state = nextPatterns.unionByName(nextSupport).localCheckpoint(true)
      patternsDS = state.where(col("isPat"))
        .select("vlabels", "edges", "key", "parentKey").as[Pattern]
      supportDS = state.where(!col("isPat")).select("key", "graphId").as[SupportPair]
      nPatterns = freqKeys.count()
      prevLevelFrames.foreach(GraphOps.releaseCheckpoint)
      prevLevelFrames = Seq(state)
      matched.unpersist(false)
      survivors.unpersist(false)
      levelCaches += freqKeys
      level += 1
    }

    graphs.unpersist(false)
    vertOcc.unpersist(false)
    val out = results.orderBy("size", "cstring").localCheckpoint(true)
    freq1.unpersist(false)
    prevLevelFrames.foreach(GraphOps.releaseCheckpoint)
    levelCaches.foreach(GraphOps.releaseCheckpoint)
    out
  }

  // -------------------------------------------------------- treeEnumeration

  /** Enumerate ALL free trees up to isomorphism buildable from the DB's
    * frequent vertex labels and frequent edge triples, sizes
    * 1..maxPatternSize — the reference's `treeEnumeration` operator
    * (help `levelwiseGraphMiningHelp.txt` "STRANGE" section: "enumerate all
    * trees up to isomorphism ... from frequent vertices and edges";
    * `treeEnumeration.c` extension + searchTree dedupe). Exactly [[mine]]'s
    * candidate generator run with an always-true embedding operator: no
    * support counting, no apriori prune (every leaf-deletion of a buildable
    * tree is itself buildable, so the prune would pass everything). Output
    * (size, cstring), each canonical class once. */
  def enumerateTrees(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      threshold: Long, maxPatternSize: Int): DataFrame = {
    import spark.implicits._
    val v = verts.select(col(verts.columns(0)).cast("long").as("graph_id"),
      col(verts.columns(1)).cast("long").as("vid"), col(verts.columns(2)).cast("string").as("vlabel"))
    val e = edges.select(col(edges.columns(0)).cast("long").as("graph_id"),
      col(edges.columns(1)).cast("long").as("src"), col(edges.columns(2)).cast("long").as("dst"),
      col(edges.columns(3)).cast("string").as("elabel"))
    val freq1 = v.select("graph_id", "vlabel").distinct()
      .groupBy("vlabel").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
    var results: DataFrame = freq1.select(lit(1).as("size"), col("vlabel").as("cstring"))
    var patternsDS: Dataset[Pattern] = freq1.select("vlabel").as[String]
      .map(l => Pattern(Seq(l), Nil, l, ""))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val freqEdges: Seq[(String, String, String)] = e
      .join(v.select(col("graph_id"), col("vid").as("src"), col("vlabel").as("sl")), Seq("graph_id", "src"))
      .join(v.select(col("graph_id"), col("vid").as("dst"), col("vlabel").as("dl")), Seq("graph_id", "dst"))
      .select(col("graph_id"), least(col("sl"), col("dl")).as("la"), col("elabel"),
        greatest(col("sl"), col("dl")).as("lb"))
      .distinct()
      .groupBy("la", "elabel", "lb").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .select("la", "elabel", "lb").as[(String, String, String)].collect().toSeq
    val bcEdges = spark.sparkContext.broadcast(freqEdges)
    var level = 2
    var n = patternsDS.count()
    // Unlike [[mine]], the `results` union chain here references EVERY
    // level's checkpoint directly (there is no per-level freqKeys frame), so
    // superseded levels must stay resident until the final materialization —
    // they are collected and released together after `out` is checkpointed.
    val levelCheckpoints = scala.collection.mutable.ArrayBuffer[Dataset[Pattern]]()
    while (level <= maxPatternSize && n > 0) {
      val next = patternsDS.flatMap(pat => extensionsOf(pat, bcEdges.value))
        .dropDuplicates("key").localCheckpoint(true)
      if (levelCheckpoints.isEmpty) patternsDS.unpersist(false) // the cached seed
      patternsDS = next
      levelCheckpoints += next
      n = next.count()
      results = results.union(next.select(lit(level).as("size"), col("key").as("cstring")))
      level += 1
    }
    val out = results.orderBy("size", "cstring").localCheckpoint(true)
    if (levelCheckpoints.isEmpty) patternsDS.unpersist(false)
    levelCheckpoints.foreach(GraphOps.releaseCheckpoint)
    out
  }

  // ------------------------------------------------------------- DFS miner

  /** Depth-first mining strategy — the reference's `lwg -m dfs`
    * (`levelwiseGraphMiningMain.c` method dispatch): identical frequent
    * pattern set + supports as the BFS [[mine]] for every MONOTONE operator
    * (exact/local-easy/importance/sample-once — support(child) ⊆
    * support(parent) because the parent is a subtree of the child), only
    * the exploration order and memory profile change. The driver holds the
    * DFS stack of patterns and (capped) support-id sets — the reference's
    * own memory model, O(branch depth), vs BFS's per-level distributed
    * frontier; support counting itself stays distributed (one job per
    * expanded pattern over the parent-support-restricted graphs).
    *
    * Scale verdict (SURVEY §2.11): BFS is the right default on Spark — its
    * per-level batches amortize job overhead and keep the full frontier AND
    * support relation distributed; DFS trades that for many small jobs and
    * driver-held support sets (capped by `supportSetCap`; past the cap the
    * restriction degrades to a full-DB scan, still correct). Provided for
    * strategy parity, verified against the BFS miner's oracle. */
  def mineDfs(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      threshold: Long, maxPatternSize: Int,
      operator: EmbeddingOp = ExactSubtree,
      supportSetCap: Int = 5000000): DataFrame = {
    import spark.implicits._
    // v/e single-consumer since round-6.2 — not persisted (see [[mine]])
    val v = verts.select(col(verts.columns(0)).cast("long").as("graph_id"),
      col(verts.columns(1)).cast("long").as("vid"), col(verts.columns(2)).cast("string").as("vlabel"))
    val e = edges.select(col(edges.columns(0)).cast("long").as("graph_id"),
      col(edges.columns(1)).cast("long").as("src"), col(edges.columns(2)).cast("long").as("dst"),
      col(edges.columns(3)).cast("string").as("elabel"))
    val graphsK = keyedGraphCtx(transactionGraphs(spark, v, e, operator),
      GraphOps.defaultParallelism(spark))
    graphsK.count() // materialize once; every expansion filters this cache

    // vertOcc + alphabet from the partitioned graph cache (round-6.2, as in [[mine]])
    val vertOcc = graphsK.flatMap { case (gid, ctx) => ctx.g.vlabels.distinct.map(l => (gid, l)) }
      .toDF("graph_id", "vlabel").persist(StorageLevel.MEMORY_AND_DISK)
    val freq1 = vertOcc.groupBy("vlabel").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .as[(String, Long)].collect().sortBy(_._1)
    val freqEdges: Seq[(String, String, String)] = graphsK
      .flatMap { case (_, ctx) =>
        val g = ctx.g
        g.edges.iterator.map { case (a, b, l) =>
          val (la, lb) = (g.vlabels(a), g.vlabels(b))
          if (la <= lb) (la, l, lb) else (lb, l, la)
        }.toSet.iterator
      }
      .toDF("la", "elabel", "lb")
      .groupBy("la", "elabel", "lb").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .select("la", "elabel", "lb").as[(String, String, String)].collect().toSeq

    val results = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    val visited = scala.collection.mutable.Set[String]()
    val stack = scala.collection.mutable.Stack[(Pattern, Option[Array[Long]])]()
    for ((label, sup) <- freq1) {
      results += ((1, label, sup))
      visited += label
      if (maxPatternSize >= 2) {
        val gids =
          if (sup <= supportSetCap)
            Some(vertOcc.where(col("vlabel") === label).select("graph_id").as[Long].collect())
          else None
        stack.push((Pattern(Seq(label), Nil, label, ""), gids))
      }
    }

    while (stack.nonEmpty) {
      val (pat, supOpt) = stack.pop()
      if (pat.vlabels.size < maxPatternSize) {
        val children = extensionsOf(pat, freqEdges)
          .groupBy(_.key).map(_._2.head).toSeq
          .filterNot(c => visited.contains(c.key))
        if (children.nonEmpty) {
          // mark BEFORE counting: support is pattern-determined, so an
          // infrequent child stays infrequent via every other parent too
          visited ++= children.map(_.key)
          val bc = spark.sparkContext.broadcast(
            children.map(c => (c.vlabels, c.edges, c.key)))
          dfsBroadcastsCreated.incrementAndGet()
          var bsetOpt: Option[org.apache.spark.broadcast.Broadcast[Set[Long]]] = None
          val restricted = supOpt match {
            case Some(gids) =>
              val bset = spark.sparkContext.broadcast(gids.toSet)
              dfsBroadcastsCreated.incrementAndGet()
              bsetOpt = Some(bset)
              graphsK.filter { case (gid, _) => bset.value.contains(gid) }
            case None => graphsK
          }
          // the cached GraphCtx carries the transaction's lazy indexes
          // ACROSS expansions (round-6.2; formerly re-built per expansion)
          val pairs = restricted.flatMap { case (gid, ctx) =>
            bc.value.iterator.collect {
              case (vl, es, key) if embedsCtx(operator, vl, es, ctx) => (key, gid)
            }
          }.collect()
          // both broadcasts are fully consumed by the collect above; a deep
          // DFS walk creates one pair per expansion, so they must not
          // accumulate across the whole pattern-space walk (round-4 verdict)
          bc.destroy()
          dfsBroadcastsDestroyed.incrementAndGet()
          bsetOpt.foreach { b => b.destroy(); dfsBroadcastsDestroyed.incrementAndGet() }
          val byKey = pairs.groupBy(_._1)
          val size = pat.vlabels.size + 1
          for (c <- children.sortBy(_.key).reverse) { // lex order popped first
            val gids = byKey.getOrElse(c.key, Array.empty).map(_._2)
            if (gids.length >= threshold) {
              results += ((size, c.key, gids.length.toLong))
              if (size < maxPatternSize)
                stack.push((c, if (gids.length <= supportSetCap) Some(gids) else None))
            }
          }
        }
      }
    }
    graphsK.unpersist(false)
    vertOcc.unpersist(false)
    results.toSeq.toDF("size", "cstring", "support").orderBy("size", "cstring")
  }
}
