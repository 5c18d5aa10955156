package graft.mining

import scala.collection.mutable.ArrayBuffer
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
  *  2. dedupe by canonical string (reference
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
  * The free-tree miner [[mine]] and the rooted miner [[mineRooted]] (the
  * reference's `lwm_*` and `lwmr_*` copies) run this as ONE level loop,
  * [[levelwise]]. A private `LevelSpec` holds the five things they differ
  * in: the canonical string (free-tree vs rooted), the extension alphabet
  * (both orientations of every frequent edge triple vs the directed
  * parent -> child triples), the leaves the apriori step deletes (any leaf
  * vs any non-root leaf), the per-graph embedding test (the `lwg -e`
  * operator vs the rooted embedding) and the per-graph preparation with
  * its precondition (a forest DB for the per-component operators, a
  * rooted-forest DB for the rooted miner).
  *
  * All per-(pattern, graph) work runs inside executors; the driver only
  * steers the level loop (same shape as the PageRank iteration driver).
  */
object FrequentSubtrees {

  /** Counters of [[mineDfs]]'s per-expansion broadcasts, so a spec asserts
    * create == destroy directly (block-manager block counts churn with
    * Spark's own broadcast joins). */
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

  private def toLTree(vlabels: Seq[String], edges: Seq[(Int, Int, String)]): SubtreeIso.LTree =
    SubtreeIso.LTree(vlabels.toArray, edges.toArray)

  private def freeCanonical(vl: Seq[String], es: Seq[(Int, Int, String)]): String =
    SubtreeIso.canonicalString(toLTree(vl, es))

  /** Per-transaction context for a batch of embedding checks: the re-indexed
    * LTree (and the ps forests' LTrees) are built ONCE per graph and reused
    * across every candidate checked against it (the support step hands each
    * graph all its candidates at once; the DFS miner caches these objects,
    * [[keyedGraphCtx]]). The indexes are `@transient`: a MEMORY_AND_DISK
    * spill writes only the graph and a read-back copy rebuilds them. */
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

  /** All one-leaf extensions of a pattern over the frequent-triple alphabet
    * (reference `treeEnumeration.c:157` extension step — every vertex, every
    * compatible triple; a superset of the outer-shell extension, pruned
    * downstream by dedupe/apriori/support): a vertex labelled like a
    * triple's first label gets a new leaf labelled like its last. The free
    * alphabet holds both orientations of every triple ([[bothWays]]), so an
    * `a-b` triple grows a `b` leaf on an `a` vertex and an `a` leaf on a `b`
    * vertex, and an `a-a` triple an `a` leaf on an `a` vertex. */
  private def extensionsOf(pat: Pattern, exts: Seq[(String, String, String)],
      canonical: (Seq[String], Seq[(Int, Int, String)]) => String): Seq[Pattern] = {
    val n = pat.vlabels.size
    for {
      u <- 0 until n
      (from, el, to) <- exts
      if pat.vlabels(u) == from
    } yield {
      val vl = pat.vlabels :+ to
      val es = pat.edges :+ ((u, n, el))
      Pattern(vl, es, canonical(vl, es), pat.key)
    }
  }

  /** An undirected edge's two extension triples. */
  private def bothWays(a: String, el: String, b: String): Seq[(String, String, String)] =
    Seq((a, el, b), (b, el, a))

  /** A graph's free-tree extension triples: each edge both ways round. */
  private def orientedTriples(g: TGraph): Iterator[(String, String, String)] =
    g.edges.iterator.flatMap { case (a, b, l) => bothWays(g.vlabels(a), l, g.vlabels(b)) }

  /** The extension alphabet: the label triples in `threshold` or more
    * graphs, from one row per (graph, triple). Collected — it is tiny by
    * construction (|vertex labels|² × |edge labels| at most; the reference
    * holds exactly this in memory), unlike the per-level patterns, which
    * stay distributed. */
  private def frequentTriples(perGraph: DataFrame, threshold: Long): Seq[(String, String, String)] =
    perGraph.groupBy(perGraph.columns.map(col).toSeq: _*).agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq

  /** The DB under the miners' column names and types, by position:
    * (graph_id, vid, vlabel) and (graph_id, src, dst, elabel). */
  private def normalized(verts: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = (
    verts.select(col(verts.columns(0)).cast("long").as("graph_id"),
      col(verts.columns(1)).cast("long").as("vid"), col(verts.columns(2)).cast("string").as("vlabel")),
    edges.select(col(edges.columns(0)).cast("long").as("graph_id"),
      col(edges.columns(1)).cast("long").as("src"), col(edges.columns(2)).cast("long").as("dst"),
      col(edges.columns(3)).cast("string").as("elabel")))

  /** Transaction graphs re-indexed to dense vertex ids, each passed through
    * `prepare` (its precondition check and once-per-transaction
    * structures). NOT persisted — the caller decides. */
  private def transactionGraphs(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      prepare: TGraph => TGraph): Dataset[TGraph] = {
    import spark.implicits._
    val (v, e) = normalized(verts, edges)
    v.groupBy("graph_id")
      .agg(collect_list(struct(col("vid"), col("vlabel"))).as("vs"))
      .join(e.groupBy("graph_id")
        .agg(collect_list(struct(col("src"), col("dst"), col("elabel"))).as("es")), Seq("graph_id"), "left")
      .as[(Long, Seq[(Long, String)], Option[Seq[(Long, Long, String)]])]
      .map { case (gid, vs, es) =>
        val sorted = vs.sortBy(_._1)
        val idx = sorted.map(_._1).zipWithIndex.toMap
        prepare(TGraph(gid, sorted.map(_._2),
          es.getOrElse(Nil).map { case (s, d, l) => (idx(s), idx(d), l) }))
      }
  }

  /** Fails unless `g` is acyclic as an undirected graph
    * (m = n - #components, via union-find). */
  private def requireAcyclic(g: TGraph, miner: String, need: String): Unit = {
    val parent = scala.collection.mutable.Map[Int, Int]()
    def find(x: Int): Int = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    var merged = 0
    for ((a, b, _) <- g.edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; merged += 1 }
    }
    require(merged == g.edges.size,
      s"FrequentSubtrees.$miner: transaction graph ${g.graphId} is cyclic; $need")
  }

  /** Fails if a vertex of `g` is the target of two edges. */
  private def requireInDegreeAtMostOne(g: TGraph): Unit = {
    val indeg = Array.fill(g.vlabels.size)(0)
    for ((_, d, _) <- g.edges) {
      indeg(d) += 1
      require(indeg(d) <= 1,
        s"FrequentSubtrees.mineRooted: transaction graph ${g.graphId} has a vertex with " +
          "in-degree > 1; the rooted miner requires a rooted-forest DB")
    }
  }

  /** The free-tree miners' per-graph preparation under `operator`. */
  private def freePreparation(operator: EmbeddingOp): TGraph => TGraph = {
    val requireForest = preparation(operator)._1
    g => {
      // Forest-DB precondition — per-component subtree operators only (the
      // reference's initFrequentTreeMiningForForestDB contract): the
      // subtree-iso kernel only excludes the entering neighbor, so on a
      // cyclic transaction it would silently degrade to a non-injective
      // walk and overcount support. Fail loudly instead. The local-easy and
      // HOPS operators exist precisely FOR cyclic DBs — no check there.
      if (requireForest)
        requireAcyclic(g, "mine", "the levelwise tree miner with the exact subtree operator " +
          "requires a forest DB (reference lwm_initAndCollect.c precondition) — use " +
          "LocalEasyExact/LocalEasySampled/Hops for cyclic DBs")
      // sample-once operators: draw the sampled structures HERE, once per
      // transaction, and carry them with the graph through every level
      // (the reference's sampled-DB construction in lwm_initAndCollect.c)
      operator match {
        case PsSampledOnce(k, seed) =>
          val lt = toLTree(g.vlabels, g.edges)
          g.copy(psForests = (0 until k).map { i =>
            graft.trees.LocalEasy.wholeGraphSpanningForest(lt, seed ^ g.graphId * 1000003L + i)
              .edges.toSeq
          })
        case BpsSampledOnce(k, seed) =>
          g.copy(bpsLocal =
            graft.trees.LocalEasy.bpsLocalTrees(toLTree(g.vlabels, g.edges), k, seed ^ g.graphId))
        case _ => g
      }
    }
  }

  /** What [[freePreparation]] derives from the operator: whether it
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

  /** What the free-tree and the rooted level loop differ in (see the
    * object's Scaladoc). `triples` gives a graph's (vertex label, edge
    * label, new-leaf label) triples; the apriori step deletes the leaves
    * from vertex `firstLeaf` on; `embedder` builds one graph's test for all
    * of a level's candidates. */
  private final case class LevelSpec(
      prepare: TGraph => TGraph,
      triples: TGraph => Iterator[(String, String, String)],
      canonical: (Seq[String], Seq[(Int, Int, String)]) => String,
      firstLeaf: Int,
      embedder: TGraph => (Seq[String], Seq[(Int, Int, String)]) => Boolean)

  private def freeSpec(operator: EmbeddingOp): LevelSpec = LevelSpec(
    prepare = freePreparation(operator),
    triples = orientedTriples,
    canonical = freeCanonical,
    firstLeaf = 0,
    embedder = { g =>
      val ctx = new GraphCtx(g)
      (vl, es) => embedsCtx(operator, vl, es, ctx)
    })

  private val rootedSpec: LevelSpec = LevelSpec(
    // embedsRooted's global-injectivity argument needs a rooted forest:
    // acyclic AND in-degree <= 1 — a shared child (in-degree 2) is acyclic
    // as an undirected graph but still lets sibling-injective matching
    // reuse a graph vertex. Fail loudly instead of silently overcounting.
    prepare = { g =>
      requireInDegreeAtMostOne(g)
      requireAcyclic(g, "mineRooted", "the rooted miner requires a rooted-forest DB")
      g
    },
    triples = g => g.edges.iterator.map { case (a, b, l) => (g.vlabels(a), l, g.vlabels(b)) },
    canonical = rootedCanonicalString,
    firstLeaf = 1,
    embedder = { g =>
      val gadj = g.edges.groupBy(_._1)
      (vl, es) => embedsRootedAdj(vl, es, g, gadj)
    })

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
      operator: EmbeddingOp): PreparedGraphs =
    PreparedGraphs(transactionGraphs(spark, verts, edges, freePreparation(operator)), operator)

  /** Mine frequent subtrees of sizes 1..maxPatternSize with support >=
    * threshold. verts: (graph_id, vid, vlabel); edges: (graph_id, src, dst,
    * elabel). Returns (size, cstring, support) ordered by (size, cstring). */
  def mine(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      threshold: Long, maxPatternSize: Int,
      operator: EmbeddingOp = ExactSubtree,
      sharedGraphs: Option[PreparedGraphs] = None): DataFrame = {
    sharedGraphs.foreach { pg =>
      require(preparation(pg.operator) == preparation(operator),
        s"FrequentSubtrees.mine: graphs prepared under ${pg.operator} cannot be mined " +
          s"under $operator (different forest check or sample-once structures)")
    }
    levelwise(spark, freeSpec(operator), verts, edges, sharedGraphs.map(_.graphs), threshold, maxPatternSize)
  }

  /** The apriori level loop of [[mine]] and [[mineRooted]], steered by
    * `spec`. `shared` graphs stay the caller's; everything else this
    * persists or checkpoints, except the returned result, is released
    * before it returns or throws. A level is two actions: the frequent
    * keys' checkpoint, which also observes their count, and one combined
    * checkpoint of the next level's patterns and support pairs. */
  private def levelwise(spark: SparkSession, spec: LevelSpec, verts: DataFrame, edges: DataFrame,
      shared: Option[Dataset[TGraph]], threshold: Long, maxPatternSize: Int): DataFrame = {
    import spark.implicits._
    // releasing a frame twice is a no-op, so the loop's own one-level-behind
    // releases leave these lists as they are
    val cached = ArrayBuffer[Dataset[_]]()
    val checkpoints = ArrayBuffer[Dataset[_]]()
    def cache[T](ds: Dataset[T]): Dataset[T] = { cached += ds; ds.persist(StorageLevel.MEMORY_AND_DISK) }
    try {
      // ---- transaction graphs, re-indexed once (small per graph) ----
      // Tungsten-cached on purpose: the object cache of [[keyedGraphCtx]]
      // measured slower at 2-3 levels. The DB's v/e frames feed only this
      // cache, so they are not persisted.
      val graphs = shared.getOrElse(cache(transactionGraphs(spark, verts, edges, spec.prepare)))

      // ---- level 1: frequent vertex labels (getFrequentVertices) ----
      // vertOcc and the alphabet read the cached `graphs`: the per-graph
      // distinct runs inside the flatMap, so only deduped pairs shuffle.
      val vertOcc = cache(graphs.flatMap(g => g.vlabels.distinct.map(l => (g.graphId, l)))
        .toDF("graph_id", "vlabel"))
      val freq1 = cache(vertOcc.groupBy("vlabel").agg(count(lit(1)).as("support"))
        .where(col("support") >= threshold))
      var results: DataFrame = freq1
        .select(lit(1).as("size"), col("vlabel").as("cstring"), col("support"))
      var patternsDS: Dataset[Pattern] = cache(freq1.select("vlabel").as[String]
        .map(l => Pattern(Seq(l), Nil, l, "")))
      var supportDS: Dataset[SupportPair] = cache(vertOcc
        .join(freq1.select("vlabel"), "vlabel")
        .select(col("vlabel").as("key"), col("graph_id").as("graphId"))
        .as[SupportPair])
      // ---- frequent edge triples = the extension alphabet (getFrequentEdges) ----
      val bcEdges = spark.sparkContext.broadcast(
        frequentTriples(graphs.flatMap(g => spec.triples(g).toSet).toDF(), threshold))

      // both labels of a frequent triple are frequent, so an empty alphabet
      // is the only way level 1 ends the mine: no level-1 count is needed
      var more = bcEdges.value.nonEmpty
      var state: DataFrame = null // the level's combined checkpoint, from level 2 on
      var level = 2
      while (level <= maxPatternSize && more) {
        // 1-2. extend every pattern at every compatible vertex; dedupe by key.
        val candidates = patternsDS
          .flatMap(pat => extensionsOf(pat, bcEdges.value, spec.canonical))
          .dropDuplicates("key")

        // 3. apriori: every leaf-deleted (k-1)-subtree key must be frequent.
        val subKeys = candidates.flatMap { c =>
          val n = c.vlabels.size
          val deg = Array.fill(n)(0)
          for ((a, b, _) <- c.edges) { deg(a) += 1; deg(b) += 1 }
          (spec.firstLeaf until n).filter(i => deg(i) <= 1).map { leaf =>
            val keep = (0 until n).filter(_ != leaf)
            val remap = keep.zipWithIndex.toMap
            val es = c.edges.collect { case (a, b, l) if a != leaf && b != leaf => (remap(a), remap(b), l) }
            (c.key, spec.canonical(keep.map(c.vlabels), es))
          }
        }.toDF("key", "subKey")
        // (the left-anti right side needs no dedupe)
        val pruned = subKeys
          .join(patternsDS.select(col("key").as("subKey")), Seq("subKey"), "left_anti")
          .select("key")
        val survivors = cache(candidates.join(pruned, Seq("key"), "left_anti").as[Pattern])

        // 4. support: candidate x graph pairs from the parent's support set,
        //    embedding-checked in executors, HAVING count >= t. Cogrouped by
        //    graphId so each transaction is deserialized and prepared for the
        //    embedding test ONCE per level and checked against all its
        //    candidate patterns, instead of once per (pattern, graph) row.
        val pairs = survivors
          .joinWith(supportDS, survivors("parentKey") === supportDS("key"))
          .map { case (pat, sp) => (sp.graphId, pat.vlabels, pat.edges, pat.key) }
        val matched = cache(pairs.groupByKey(_._1)
          .cogroup(graphs.groupByKey(_.graphId)) { (gid, ps, gs) =>
            if (!gs.hasNext) Iterator.empty
            else {
              val embeds = spec.embedder(gs.next())
              ps.collect { case (_, vl, es, key) if embeds(vl, es) => SupportPair(key, gid) }
            }
          })
        // Eager checkpoint (not persist): truncates freqKeys' lineage so the
        // `results` union chain no longer reaches back through matched/
        // survivors into the superseded level frames — which makes it SAFE
        // to release those frames below. The same job observes |freqKeys|,
        // which is |next patterns| (freqKeys ⊆ survivor keys, both
        // key-unique): the loop's only per-level scalar costs no action.
        val (freqKeys, stats) = GraphOps.checkpointObserved(
          matched.groupBy("key").agg(count(lit(1)).as("support")).where(col("support") >= threshold),
          Seq(count(lit(1))))
        checkpoints += freqKeys
        results = results.union(
          freqKeys.select(lit(level).as("size"), col("key").as("cstring"), col("support")))

        // The next level's pattern dictionary and support relation are
        // materialized by ONE eager checkpoint (a tagged union);
        // patternsDS/supportDS become filters over it.
        val nextPatterns = survivors.join(freqKeys.select("key"), Seq("key"), "left_semi")
          .select(col("vlabels"), col("edges"), col("key"), col("parentKey"),
            lit(0L).as("graphId"), lit(true).as("isPat"))
        val nextSupport = matched.join(freqKeys.select("key"), Seq("key"), "left_semi")
          .select(lit(null).cast("array<string>").as("vlabels"),
            lit(null).cast("array<struct<_1:int,_2:int,_3:string>>").as("edges"),
            col("key"), lit("").as("parentKey"), col("graphId"), lit(false).as("isPat"))
        val next = nextPatterns.unionByName(nextSupport).localCheckpoint(true)
        checkpoints += next
        // superseded level frames: free the CHECKPOINT blocks, not just the
        // cache entry (plain unpersist cannot reach them — GraphOps helper)
        if (state == null) { patternsDS.unpersist(false); supportDS.unpersist(false) }
        else GraphOps.releaseCheckpoint(state)
        state = next
        patternsDS = state.where(col("isPat"))
          .select("vlabels", "edges", "key", "parentKey").as[Pattern]
        supportDS = state.where(!col("isPat")).select("key", "graphId").as[SupportPair]
        matched.unpersist(false)
        survivors.unpersist(false)
        more = stats.getLong(0) > 0
        level += 1
      }
      // One eager materialized result frame for the caller (same contract as
      // the graph loops' outputs); every internal frame is released below.
      results.orderBy("size", "cstring").localCheckpoint(true)
    } finally {
      cached.foreach(_.unpersist(false))
      checkpoints.foreach(GraphOps.releaseCheckpoint)
    }
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
    * `lwmr_miningAndExtension.c`): [[mine]]'s level loop with rooted
    * canonical strings, directed extension triples (parentLabel, edgeLabel,
    * childLabel), non-root leaf deletions and the rooted embedding operator.
    * Fails on a DB with a vertex of in-degree > 1 or a cycle. */
  def mineRooted(spark: SparkSession, verts: DataFrame, edges: DataFrame,
      threshold: Long, maxPatternSize: Int): DataFrame =
    levelwise(spark, rootedSpec, verts, edges, None, threshold, maxPatternSize)

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
    val (v, e) = normalized(verts, edges)
    val freq1 = v.select("graph_id", "vlabel").distinct()
      .groupBy("vlabel").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
    var results: DataFrame = freq1.select(lit(1).as("size"), col("vlabel").as("cstring"))
    val seed = freq1.select("vlabel").as[String]
      .map(l => Pattern(Seq(l), Nil, l, ""))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // `results` reads EVERY level's checkpoint, so all stay resident until
    // the result is checkpointed; all are released when this returns or throws.
    val levelCheckpoints = ArrayBuffer[DataFrame]()
    try {
      val unordered = frequentTriples(e
        .join(v.select(col("graph_id"), col("vid").as("src"), col("vlabel").as("sl")), Seq("graph_id", "src"))
        .join(v.select(col("graph_id"), col("vid").as("dst"), col("vlabel").as("dl")), Seq("graph_id", "dst"))
        .select(col("graph_id"), least(col("sl"), col("dl")).as("la"), col("elabel"),
          greatest(col("sl"), col("dl")).as("lb"))
        .distinct().drop("graph_id"), threshold)
      val bcEdges = spark.sparkContext.broadcast(unordered.flatMap { case (a, l, b) => bothWays(a, l, b) }.distinct)
      var patternsDS: Dataset[Pattern] = seed
      var more = bcEdges.value.nonEmpty // as in [[levelwise]]: no level-1 count
      var level = 2
      while (level <= maxPatternSize && more) {
        val (next, stats) = GraphOps.checkpointObserved(
          patternsDS.flatMap(pat => extensionsOf(pat, bcEdges.value, freeCanonical)).dropDuplicates("key").toDF(),
          Seq(count(lit(1))))
        levelCheckpoints += next
        patternsDS = next.as[Pattern]
        more = stats.getLong(0) > 0
        results = results.union(next.select(lit(level).as("size"), col("key").as("cstring")))
        level += 1
      }
      results.orderBy("size", "cstring").localCheckpoint(true)
    } finally {
      seed.unpersist(false)
      levelCheckpoints.foreach(GraphOps.releaseCheckpoint)
    }
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
    val graphsK = keyedGraphCtx(transactionGraphs(spark, verts, edges, freePreparation(operator)),
      GraphOps.defaultParallelism(spark))
    graphsK.count() // materialize once; every expansion filters this cache

    // vertOcc + alphabet from the partitioned graph cache, as in [[mine]]
    val vertOcc = graphsK.flatMap { case (gid, ctx) => ctx.g.vlabels.distinct.map(l => (gid, l)) }
      .toDF("graph_id", "vlabel").persist(StorageLevel.MEMORY_AND_DISK)
    val freq1 = vertOcc.groupBy("vlabel").agg(count(lit(1)).as("support"))
      .where(col("support") >= threshold)
      .as[(String, Long)].collect().sortBy(_._1)
    val freqEdges = frequentTriples(
      graphsK.flatMap { case (_, ctx) => orientedTriples(ctx.g).toSet }.toDF(), threshold)

    val results = ArrayBuffer[(Int, String, Long)]()
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
        val children = extensionsOf(pat, freqEdges, freeCanonical)
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
