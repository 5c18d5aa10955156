package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mining-layer coverage (SURVEY.md §2.2/§2.4/§2.7 and the lwg/lwgr/ts/tpk/
  * ccd/cstring/cpk/outerplanaritytest shapes): per-graph structural kernels
  * over transactional graph DBs derived from the relational tables.
  *
  * Round-2 redesign: every kernel query runs on a [[GraphDBs]] DB whose
  * structure is a deterministic, SQL-derivable function of the data, so the
  * DuckDB oracle can recompute the kernel's output from closed-form
  * invariants (spanning trees of a cactus chain = 3^t, cycle canonical
  * strings = rotation minima of label lists, ...). The kernels themselves
  * stay fully general — ScalaTest exercises them on arbitrary graphs.
  */
object MiningQueries {

  import Tables.t

  /** Transactional graph DB: one graph per customer, vertices = the
    * customer's orders chained by date (a path per graph). */
  private def orderChainEdges(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag(col("o_orderkey"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("o_custkey").cast("long").as("graph_id"),
        col("prev").cast("long").as("src"), col("o_orderkey").cast("long").as("dst"))
  }

  /** Edge table joined with per-vertex o_orderstatus labels, as the typed
    * dataset the per-graph kernels consume. */
  private def labeledEdges(s: SparkSession, dir: String, db: DataFrame) = {
    import s.implicits._
    val labels = t(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("vid"), col("o_orderstatus").cast("string").as("label"))
    db.join(labels.withColumnRenamed("vid", "src").withColumnRenamed("label", "sl"), "src")
      .join(labels.withColumnRenamed("vid", "dst").withColumnRenamed("label", "dl"), "dst")
      .select(col("graph_id"), col("src"), col("dst"), col("sl"), col("dl"))
      .as[(Long, Long, Long, String, String)]
  }

  /** Run a per-graph kernel over every graph of `db`.
    *
    * Round-6 shape (guide §2.5/§2.2): the kernels are CPU-heavy on tiny
    * bytes, so AQE's byte-sized coalescing collapsed the groupByKey exchange
    * to 1-2 partitions and the whole kernel pass ran near-single-threaded
    * (measured: 10 of 15 task-seconds in 1-task stages for f_ts_modes).
    * An explicit `repartition(p, graph_id)` pins the kernel stage at the
    * session's parallelism (user repartitions are exempt from AQE
    * coalescing), and the per-partition grouping replaces the lambda-keyed
    * groupByKey exchange. Kernels are insensitive to edge-row order (they
    * sort/canonicalize internally — the shuffle never guaranteed an order).
    *
    * `withLabels=false` skips the two order-label joins entirely for the
    * kernels that ignore labels (11 of 15 callers): fewer joins, and the
    * shuffle carries (gid, src, dst) longs instead of two label strings
    * per row (guide §2.3, project before the exchange). */
  private def groupedImpl[T](s: SparkSession, dir: String, db: DataFrame, withLabels: Boolean)(
      f: (Long, Seq[(Long, Long)], Map[Long, String]) => TraversableOnce[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]) = {
    import s.implicits._
    val p = graft.graph.GraphOps.defaultParallelism(s)
    // Collect each graph into ONE row (codegen'd collect_list — this agg
    // reuses the DB's existing gid partitioning), then round-robin
    // `repartition(p)` the per-graph rows for the kernel pass. The
    // round-robin exchange is the one spot width is forced deliberately: a
    // hash repartition on graph_id is elided by the planner (the child is
    // already hash-partitioned on gid) and the remaining exchange is then
    // AQE-coalesced by BYTE size — but the kernels are CPU-heavy on tiny
    // bytes, so that left 10+ task-seconds of kernel work on 1-2 cores
    // (measured round-5 shape). One row per graph also load-balances the
    // kernel stage regardless of per-customer row skew.
    if (withLabels) {
      labeledEdges(s, dir, db).toDF("graph_id", "src", "dst", "sl", "dl")
        .groupBy("graph_id")
        .agg(collect_list(struct(col("src"), col("dst"), col("sl"), col("dl"))).as("rows"))
        .repartition(p)
        .as[(Long, Seq[(Long, Long, String, String)])]
        .flatMap { case (gid, rows) =>
          val es = rows.map(r => (r._1, r._2))
          val lab = rows.iterator.flatMap(r => Iterator(r._1 -> r._3, r._2 -> r._4)).toMap
          f(gid, es, lab)
        }
    } else {
      db.select(col("graph_id").cast("long").as("graph_id"),
          col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .groupBy("graph_id")
        .agg(collect_list(struct(col("src"), col("dst"))).as("rows"))
        .repartition(p)
        .as[(Long, Seq[(Long, Long)])]
        .flatMap { case (gid, es) => f(gid, es, Map.empty) }
    }
  }

  private def grouped[T](s: SparkSession, dir: String, db: DataFrame)(
      f: (Long, Seq[(Long, Long)], Map[Long, String]) => TraversableOnce[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]) =
    groupedImpl(s, dir, db, withLabels = true)(f)

  /** [[grouped]] for kernels that ignore vertex labels — the label joins are
    * skipped and `f` receives an empty label map. */
  private def groupedNoLab[T](s: SparkSession, dir: String, db: DataFrame)(
      f: (Long, Seq[(Long, Long)], Map[Long, String]) => TraversableOnce[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]) =
    groupedImpl(s, dir, db, withLabels = false)(f)

  // ---------------------------------------------------------------- SQL bits

  /** DuckDB fragment: per-customer order count (gid, n), n >= 2 only (the
    * single-order graphs have no edges and are absent from every DB). */
  private val custSql =
    "SELECT o_custkey::BIGINT AS gid, count(*)::BIGINT AS n FROM orders GROUP BY 1 HAVING count(*) >= 2"

  /** DuckDB fragment: (gid, n, ls = labels by date rank, ks = orderkeys by
    * date rank). */
  private val rankedListsSql =
    s"""ro AS (${GraphDBs.rankedOrdersSql}),
       |rl AS (SELECT gid, max(n)::BIGINT AS n,
       |              list(label ORDER BY rn) AS ls,
       |              list(k ORDER BY rn) AS ks,
       |              max(CASE WHEN rn=2 THEN label END) AS l2,
       |              max(CASE WHEN rn=4 THEN label END) AS l4
       |       FROM ro GROUP BY gid HAVING max(n) >= 2)""".stripMargin

  /** DuckDB fragment: rotation/reflection minimum of the label lists in
    * `src`(gid, cid, ls) -> `out`(gid, cid, s). The canonical string of a
    * labeled cycle is the lexicographic minimum over all rotations of the
    * sequence and of its reversal (graft.trees.GraphKernels
    * .cycleCanonicalString; reference cs_Cycle.c:94-152). */
  private def rotMinSql(src: String, out: String): String =
    s"""${out}_r AS (
       |  SELECT gid, cid, array_to_string(ls[r:] || ls[:r-1], ' ') AS fwd,
       |         array_to_string(rev[r:] || rev[:r-1], ' ') AS bwd
       |  FROM (SELECT gid, cid, ls, list_reverse(ls) AS rev FROM $src)
       |  JOIN range(1, 200) t(r) ON t.r <= len(ls)),
       |$out AS (SELECT gid, cid, least(min(fwd), min(bwd)) AS s FROM ${out}_r GROUP BY gid, cid)""".stripMargin

  // ------------------------------------------------------------- the queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // frequent vertex labels across the graph DB (lwm_initAndCollect.c:246:
    // per-graph distinct -> global count -> threshold)
    "f_frequent_labels" -> ((s, dir) => {
      val labels = t(s, dir, "orders")
        .select(col("o_custkey").cast("long").as("graph_id"), col("o_orderpriority").as("label"))
      labels.distinct()
        .groupBy("label").agg(count(lit(1)).as("support"))
        .where(col("support") >= 500)
        .orderBy("label")
    }),

    // frequent edge label triples (minLabel, edgeLabel, maxLabel) analogue:
    // normalized (status, priority) pairs on order edges
    "f_frequent_edges" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val pairs = o.as("a").join(o.as("b"),
          col("a.o_custkey") === col("b.o_custkey") && col("a.o_orderkey") < col("b.o_orderkey"))
        .select(col("a.o_custkey").cast("long").as("graph_id"),
          least(col("a.o_orderstatus"), col("b.o_orderstatus")).as("minLabel"),
          greatest(col("a.o_orderstatus"), col("b.o_orderstatus")).as("maxLabel"))
      pairs.distinct()
        .groupBy("minLabel", "maxLabel").agg(count(lit(1)).as("support"))
        .where(col("support") >= 100)
        .orderBy("minLabel", "maxLabel")
    }),

    // canonical triangle fingerprint: min md5 over the 6 rotations/reflections
    // of the label triple (reference patternExtractor.c:121-177 fingerprintTriple)
    "f_triangle_fingerprint" -> ((s, dir) => {
      // The fingerprint (min over all 6 md5'd permutations) is a function of
      // the label MULTISET only, so count triangles per sorted label triple
      // first (codegen'd array_sort on 3 elements, partial agg collapses the
      // ~10^8 triangles to <= |labels|^3/6 classes) and hash the few
      // surviving classes — not each triangle. Labels ride along the
      // triangle walk itself (Triangles.labelTripleCounts): at sf0.1 the three
      // per-triangle broadcast joins of the round-3 formulation dominated
      // the whole query.
      val lab = t(s, dir, "supplier").select(col("s_suppkey").as("vid"), col("s_nationkey").cast("string").as("lab"))
      val byTriple = graft.algo.Triangles
        .labelTripleCounts(s, Tables.coSupplierEdges(s, dir), lab)
      val cols = Seq(col("la"), col("lb"), col("lc"))
      val rots = Seq((0, 1, 2), (1, 2, 0), (2, 0, 1), (0, 2, 1), (2, 1, 0), (1, 0, 2))
        .map { case (x, y, z) => md5(concat_ws("|", cols(x), cols(y), cols(z))) }
      byTriple
        .select(least(rots: _*).as("fingerprint"), col("n"))
        .groupBy("fingerprint").agg(sum("n").as("n"))
        .orderBy("fingerprint")
    }),

    // per-graph canonical strings over the order-chain DB (cstring tool,
    // reference cs_Tree.c:342 canonicalStringOfTree). Uniform vertex label
    // so the oracle can rebuild the expected path strings recursively.
    "f_cstring" -> ((s, dir) => {
      val e = orderChainEdges(s, dir)
      val labels = e.select(col("graph_id"), col("src").as("vno"))
        .union(e.select(col("graph_id"), col("dst")))
        .distinct().withColumn("label", lit("o"))
      graft.trees.TreeOps.canonicalStrings(s, e, labels)
        .groupBy("cstring").agg(count(lit(1)).as("n_graphs"))
        .orderBy("cstring")
    }),

    // ts-equivalent: Wilson spanning-tree sampling per graph; every sample is
    // re-VERIFIED to be a spanning tree of its graph (edge subset, |V|-1
    // edges, acyclic-connected) — the deterministic part of the randomized
    // pipeline, giving the sampler a hard oracle. (Distinct-class counting
    // over samples is inherently seed-dependent; ScalaTest covers it.)
    "f_tree_sampling" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Long, Boolean)](s, dir, GraphDBs.orderRingsDB(s, dir)) { (gid, es, _) =>
        val k = 3
        val ok = (0 until k).forall { i =>
          graft.trees.TreeKernels.isSpanningTree(es,
            graft.trees.TreeKernels.wilsonSpanningTree(es, 42L ^ gid + i))
        }
        Iterator.single((gid, k.toLong, ok))
      }.toDF("graph_id", "n_samples", "all_spanning").orderBy("graph_id")
    }),

    // exact spanning-tree LISTING count per graph (reference
    // listSpanningTrees.c:409; tpk main.c -output s) on the cactus-chain DB:
    // a chain of t triangle blocks has exactly 3^t spanning trees.
    "f_spanning_trees" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Long)](s, dir, GraphDBs.cactusChainDB(s, dir)) { (gid, es, _) =>
        // Kirchhoff-per-block counting is polynomial, so the bound only caps
        // the reported value; 1e12 keeps the 3^t oracle FP-exact (3^25 < 2^53).
        Iterator.single((gid,
          graft.trees.TreeKernels.countSpanningTrees(es, 1000000000000L).getOrElse(-1L)))
      }.toDF("graph_id", "n_spanning").orderBy("graph_id")
    }),

    // tpk 'p' feature map: distinct canonical strings of ALL spanning trees
    // (reference executables/main.c:186-219) on the pure-ring DB: a ring's
    // spanning trees are its n edge-deleted paths; distinct classes = label
    // sequences distinct up to rotation cut + reversal.
    "f_tpk_patterns" -> ((s, dir) => {
      import s.implicits._
      grouped[(Long, Long, Long)](s, dir, GraphDBs.orderCyclesDB(s, dir)) { (gid, es, lab) =>
        val pats = graft.trees.TreeKernels.spanningTreePatterns(es, lab)
        Iterator.single((gid,
          pats.map(_._1.toLong).getOrElse(-1L),
          pats.map(_._2.size.toLong).getOrElse(-1L)))
      }.toDF("graph_id", "n_spanning", "n_patterns").orderBy("graph_id")
    }),

    // min/max local easiness (reference localEasiness.c:10-114): per vertex
    // the product of exact spanning-tree counts over its nontrivial blocks.
    "f_local_easiness" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Long, Long)](s, dir, GraphDBs.cactusChainDB(s, dir)) { (gid, es, _) =>
        Iterator.single((gid,
          graft.trees.GraphKernels.minLocalEasiness(es),
          graft.trees.GraphKernels.maxLocalEasiness(es)))
      }.toDF("graph_id", "min_easiness", "max_easiness").orderBy("graph_id")
    }),

    // traceability family (reference hp_cactus.c): connected-cactus test,
    // Hamiltonian-path existence on cacti, weak traceability necessary test.
    "f_traceability" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Boolean, Boolean, Boolean)](s, dir, GraphDBs.traceabilityDB(s, dir)) { (gid, es, _) =>
        Iterator.single((gid,
          graft.trees.GraphKernels.isConnectedCactus(es),
          graft.trees.GraphKernels.isTraceableCactus(es),
          graft.trees.GraphKernels.isWeaklyTraceable(es)))
      }.toDF("graph_id", "is_cactus", "is_traceable_cactus", "is_weakly_traceable")
        .orderBy("graph_id")
    }),

    // ccd: per-vertex cycle degree dump = number of biconnected components
    // (bridges included) containing the vertex (reference
    // listComponents.c:16-52 computeCriticality; executable ccd).
    "f_cycle_degrees" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Long, Long)](s, dir, GraphDBs.cactusChainDB(s, dir)) { (gid, es, _) =>
        graft.trees.GraphKernels.criticality(es).toSeq.sortBy(_._1)
          .map { case (v, c) => (gid, v, c.toLong) }
      }.toDF("graph_id", "vid", "cycle_degree").orderBy("graph_id", "vid")
    }),

    // simple-cycle counts per graph, exact and up-to-isomorphism (gf -f
    // numberOfSimpleCycles / numberOfNonIsoCycles, reference listCycles.c:10,:57).
    "f_cycle_counts" -> ((s, dir) => {
      import s.implicits._
      grouped[(Long, Long, Long)](s, dir, GraphDBs.orderRingsDB(s, dir)) { (gid, es, lab) =>
        val cycles = graft.trees.GraphKernels.simpleCycles(es)
        Iterator.single((gid,
          cycles.map(_.size.toLong).getOrElse(-1L),
          cycles.map(_.map(c => graft.trees.GraphKernels.cycleCanonicalString(c, lab))
            .distinct.size.toLong).getOrElse(-1L)))
      }.toDF("graph_id", "n_simple_cycles", "n_noniso_cycles").orderBy("graph_id")
    }),

    // cyclic pattern kernel features per graph (cpk executable, reference
    // cpk.c:16-80: canonical strings of simple cycles + bridge-forest trees).
    "f_cpk" -> ((s, dir) => {
      import s.implicits._
      grouped[(Long, String)](s, dir, GraphDBs.orderRingsDB(s, dir)) { (gid, es, lab) =>
        graft.trees.GraphKernels.cpkFeatures(es, lab).getOrElse(Nil).map(f => (gid, f))
      }.toDF("graph_id", "feature").orderBy("graph_id", "feature")
    }),

    // outerplanarity + Hamiltonian cycles per graph (the reference's
    // outerplanaritytest executable, JSON sink shape; Mitchell's algorithm)
    // on rings with a (1,3) chord — plus a CROSSING (2,4) chord on every
    // (n%5==0, n>=5) graph, which makes those graphs non-outerplanar.
    "f_outerplanarity" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Boolean, String)](s, dir, GraphDBs.ringsWithCrossingsDB(s, dir)) { (gid, es, _) =>
        val r = graft.trees.GraphKernels.outerplanarity(es)
        Iterator.single((gid, r.isOuterplanar,
          r.hamiltonianCycles.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")))
      }.toDF("graph_id", "is_outerplanar", "hamiltonian_cycles").orderBy("graph_id")
    }),

    // canonical string of an outerplanar block: Hamiltonian-cycle labels +
    // chord positions, minimized over the 2L symmetries of the outer face
    // (operator analogue of reference cs_Outerplanar.c:346-815; same
    // invariance, simplified grammar — see Scaladoc).
    "f_op_cstring" -> ((s, dir) => {
      import s.implicits._
      grouped[(Long, String)](s, dir, GraphDBs.orderCyclesDB(s, dir)) { (gid, es, lab) =>
        graft.trees.GraphKernels.outerplanarBlockCanonicalString(es, lab)
          .map(cs => (gid, cs)).toSeq
      }.toDF("graph_id", "op_cstring").orderBy("graph_id")
    }),

    // gf block measures on the cactus-chain DB (reference
    // listComponents.c:52-204, outerplanar.c:39, upperBoundsForSpanningTrees.c).
    "f_block_measures" -> ((s, dir) => {
      graft.measures.GraphMeasures.blockMeasures(s, GraphDBs.cactusChainDB(s, dir))
        .select(col("graph_id"), col("n_blocks"), col("n_bridges"), col("n_biconnected"),
          col("max_block_degree"), col("min_block_degree"), col("is_cactus"),
          round(col("spanning_tree_estimate_log") * 1e6, 0).cast("long").as("st_log_micro"))
        .orderBy("graph_id")
    }),

    // full levelwise frequent subtree mining (lwg, the reference's flagship:
    // levelwiseGraphMiningMain.c) over a star-forest DB: one graph per
    // selected order, center = the order (label o_orderstatus), leaves = its
    // lineitems (label l_returnflag), edge label l_linestatus.
    "f_lwg_mine" -> ((s, dir) => {
      val (verts, edges, nGraphs) = starDB(s, dir)
      graft.mining.FrequentSubtrees.mine(s, verts, edges,
        threshold = math.max(1L, nGraphs / 10), maxPatternSize = 3)
        .orderBy("size", "cstring")
    }),

    // DFS mining strategy (lwg -m dfs; reference levelwiseGraphMiningMain.c
    // method dispatch): same star DB, same parameters, same oracle as the
    // BFS f_lwg_mine — strategy must not change the mined set.
    "f_lwg_mine_dfs" -> ((s, dir) => {
      val (verts, edges, nGraphs) = starDB(s, dir)
      graft.mining.FrequentSubtrees.mineDfs(s, verts, edges,
        threshold = math.max(1L, nGraphs / 10), maxPatternSize = 3)
        .orderBy("size", "cstring")
    }),

    // treeEnumeration operator (reference help "STRANGE" section: enumerate
    // all trees up to isomorphism from the frequent vertices and edges) on
    // the star DB, sizes <= 3 — the oracle rebuilds every canonical class
    // from the frequent label/triple alphabet in SQL.
    "f_tree_enum" -> ((s, dir) => {
      val (verts, edges, nGraphs) = starDB(s, dir)
      graft.mining.FrequentSubtrees.enumerateTrees(s, verts, edges,
        threshold = math.max(1L, nGraphs / 10), maxPatternSize = 3)
        .orderBy("size", "cstring")
    }),

    // rooted/directed levelwise miner (lwgr; reference
    // lwmr_initAndCollect.c:35, lwmr_miningAndExtension.c) on the same star
    // DB with edges directed center -> leaf.
    "f_lwgr_mine" -> ((s, dir) => {
      val (verts, edges, nGraphs) = starDB(s, dir)
      graft.mining.FrequentSubtrees.mineRooted(s, verts, edges,
        threshold = math.max(1L, nGraphs / 10), maxPatternSize = 3)
        .orderBy("size", "cstring")
    }),

    // levelwise miner with the EXACT LOCAL-EASY operator on a CYCLIC DB
    // (rings — the plain forest miner refuses these): pattern embeds in
    // some spanning tree of the transaction = subgraph iso (reference
    // lwm_embeddingOperators.c:165 localEasyOperator on the full
    // spanning-tree tree). Uniform labels make supports closed-form.
    "f_lwg_mine_localeasy" -> ((s, dir) => {
      val (v, e) = ringMinerDB(s, dir)
      graft.mining.FrequentSubtrees.mine(s, v, e, threshold = 1L, maxPatternSize = 3,
        operator = graft.mining.FrequentSubtrees.LocalEasyExact)
        .orderBy("size", "cstring")
    }),

    // same DB with the HOPS randomized operator (reference
    // lwm_embeddingOperators.c:254 hopsOperator; KDD'20): one-sided error in
    // general, but on uniform-label rings every attempt that can succeed
    // does (each step has >= 1 candidate), so the output is deterministic
    // and equals the exact miner's — a hard oracle for the sampler.
    "f_lwg_mine_hops" -> ((s, dir) => {
      val (v, e) = ringMinerDB(s, dir)
      graft.mining.FrequentSubtrees.mine(s, v, e, threshold = 1L, maxPatternSize = 3,
        operator = graft.mining.FrequentSubtrees.Hops(importance = 4, seed = 2024L))
        .orderBy("size", "cstring")
    }),

    // the hops_simple / hops_simplerandom / hops_simplematching comparison
    // variants (reference help "VARIANTS OF INCOMPLETE EMBEDDING OPERATORS";
    // subtreeIsomorphismSampling.c:39,110,249) on the same uniform-label
    // ring DB: the uniform root image always label-matches and every
    // assignment step has >= 1 fitting free neighbor (rings; and on the
    // n=2 path graphs the size-3 pattern fails under EVERY rooting), so
    // each sampler deterministically reproduces the exact miner — one hard
    // oracle for the whole variant family.
    "f_lwg_mine_hops_variants" -> ((s, dir) => {
      val (v, e) = ringMinerDB(s, dir)
      // The three variant mines are independent multi-job driver loops that
      // individually underutilize the executor pool — run them CONCURRENTLY
      // (results are seeded/deterministic per variant, so the union is
      // order-independent up to the final sort). The caller's job group is
      // a thread-local, so it is re-established inside each worker thread:
      // a watchdog cancel of the group reaches all three loops.
      // Round-6.2: the three variants have IDENTICAL transaction graphs
      // (HopsVariant carries no per-transaction sampled structures), so the
      // DB pipeline + TGraph re-index run ONCE into a shared cache instead
      // of once per variant.
      val shared = graft.mining.FrequentSubtrees.prepareGraphs(s, v, e,
        graft.mining.FrequentSubtrees.HopsVariant(0, importance = 4, seed = 5150L))
      shared.graphs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sc = s.sparkContext
      val group = sc.getLocalProperty("spark.jobGroup.id")
      val desc = sc.getLocalProperty("spark.job.description")
      val interrupt = sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
      import scala.concurrent.{Await, Future}
      implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
      val mined = (0 to 2).map { m =>
        Future {
          if (group != null) sc.setJobGroup(group, Option(desc).getOrElse(group), interrupt)
          try graft.mining.FrequentSubtrees.mine(s, v, e, threshold = 1L, maxPatternSize = 3,
            operator = graft.mining.FrequentSubtrees.HopsVariant(m, importance = 4, seed = 5150L + m),
            sharedGraphs = Some(shared))
            .withColumn("variant", lit(m.toLong))
          finally if (group == null) sc.clearJobGroup()
        }
      }
      val parts =
        try mined.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
        finally shared.graphs.unpersist(false)
      // Collapse the three materialized per-variant results into ONE
      // checkpoint-materialized frame and free theirs, so the query honors
      // the miners' one-persisted-result contract (Bench sweeps for leaks).
      val union = parts.reduce(_ unionAll _).orderBy("variant", "size", "cstring")
        .localCheckpoint(true)
      parts.foreach(graft.graph.GraphOps.releaseCheckpoint)
      union
    }),

    // sample-ONCE ps operator (reference help "ps": spanning trees sampled
    // "only once for each transaction graph" — the apriori-PRESERVING
    // operator of ML'18/'19) on the cyclic ring DB: every spanning tree of
    // a ring is an n-path with uniform labels, so the output equals the
    // exact miner's regardless of which edge each seeded sample drops —
    // a hard oracle for the sampler.
    "f_lwg_mine_ps" -> ((s, dir) => {
      val (v, e) = ringMinerDB(s, dir)
      graft.mining.FrequentSubtrees.mine(s, v, e, threshold = 1L, maxPatternSize = 3,
        operator = graft.mining.FrequentSubtrees.PsSampledOnce(k = 2, seed = 4041L))
        .orderBy("size", "cstring")
    }),

    // sample-ONCE bps operator (reference help "bps": k local spanning
    // trees per block-tree root, drawn once; pattern embeds in some
    // COMBINATION) on the same ring DB — same closed-form argument.
    "f_lwg_mine_bps" -> ((s, dir) => {
      val (v, e) = ringMinerDB(s, dir)
      graft.mining.FrequentSubtrees.mine(s, v, e, threshold = 1L, maxPatternSize = 3,
        operator = graft.mining.FrequentSubtrees.BpsSampledOnce(k = 2, seed = 4242L))
        .orderBy("size", "cstring")
    }),

    // relative-importance miner (reference subtreeRelimpOperator,
    // importantSubtrees.c): pattern counts when it occurs in >= mu of the
    // transaction's components. Same customer-forest DB as absimp; with
    // mu = 0.5 the supports are closed-form from per-customer order /
    // lineitem counts.
    "f_lwg_mine_relimp" -> ((s, dir) => {
      val (v, e) = custForestDB(s, dir)
      graft.mining.FrequentSubtrees.mine(s, v, e, threshold = 1L, maxPatternSize = 3,
        operator = graft.mining.FrequentSubtrees.RelImportant(0.5))
        .orderBy("size", "cstring")
    }),

    // HOPS embedding-count estimator (reference hopsOperatorEstimate) for
    // the path-3 pattern on uniform rings: every attempt's importance
    // weight is exactly n * 2 * 1 = 2n regardless of rooting and seed
    // (Knuth estimator is exact when every random choice leads to an
    // embedding), so the estimate is deterministically 2n (0 when n = 2).
    "f_hops_estimate" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Long)](s, dir, GraphDBs.orderCyclesDB(s, dir)) { (gid, es, _) =>
        val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val idx = verts.zipWithIndex.toMap
        val g = graft.mining.SubtreeIso.LTree(Array.fill(verts.size)("o"),
          es.map { case (a, b) => (idx(a), idx(b), "e") }.toArray)
        val h = graft.mining.SubtreeIso.LTree(Array("o", "o", "o"),
          Array((0, 1, "e"), (1, 2, "e")))
        val est = graft.trees.LocalEasy.hopsEstimate(h, g, importance = 8, seed = 7L ^ gid)
        Iterator.single((gid, math.round(est)))
      }.toDF("graph_id", "est_path3").orderBy("graph_id")
    }),

    // gf sampled spanning-tree measures (reference filter.c:437-478,
    // sampleSubtrees.h, localEasySubtreeIsomorphism.c:1081): per-root local
    // Wilson samples -> blockwise combinations -> component iso classes,
    // plus the non-local k-sample class count. Uniform labels on rings make
    // every sampled tree an n-path => exactly one class, deterministically.
    "f_noniso_sampled" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Long, Long, Long)](s, dir, GraphDBs.orderCyclesDB(s, dir)) { (gid, es, _) =>
        val labs = es.flatMap(e => Seq(e._1, e._2)).distinct.map(_ -> "o").toMap
        val st = graft.trees.LocalEasy.locallySampledStats(es, labs, k = 3, seed = 42L ^ gid)
        val (_, nng) = graft.trees.LocalEasy.sampledForestStats(es, labs, k = 3, seed = 99L ^ gid)
        Iterator.single((gid, st.nConsidered, st.nNoniso, nng))
      }.toDF("graph_id", "n_considered", "n_noniso", "n_noniso_global").orderBy("graph_id")
    }),

    // cactus-tree subtree isomorphism — tci (reference cactustree.c:11,
    // executable cactus.c) on the cactus-chain DB with uniform labels:
    // star-3 needs a degree->=3 vertex (first chord endpoint, n >= 4),
    // path-3 needs 3 vertices.
    "f_tci" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, Boolean, Boolean)](s, dir, GraphDBs.cactusChainDB(s, dir)) { (gid, es, _) =>
        val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val idx = verts.zipWithIndex.toMap
        val g = graft.mining.SubtreeIso.LTree(Array.fill(verts.size)("o"),
          es.map { case (a, b) => (idx(a), idx(b), "e") }.toArray)
        val star3 = graft.mining.SubtreeIso.LTree(Array("o", "o", "o", "o"),
          Array((0, 1, "e"), (0, 2, "e"), (0, 3, "e")))
        val path3 = graft.mining.SubtreeIso.LTree(Array("o", "o", "o"),
          Array((0, 1, "e"), (1, 2, "e")))
        Iterator.single((gid,
          graft.trees.LocalEasy.cactusTreeSubIso(star3, g).getOrElse(false),
          graft.trees.LocalEasy.cactusTreeSubIso(path3, g).getOrElse(false)))
      }.toDF("graph_id", "sub_star3", "sub_path3").orderBy("graph_id")
    }),

    // outerplanar block-and-bridge tree kernel — opk (reference opk.c:18)
    // on uniform-label rings: the BB-tree is a star around one block node
    // labeled with the ring's outerplanar cstring, so the level-tree
    // features are closed-form in n.
    "f_opk" -> ((s, dir) => {
      import s.implicits._
      groupedNoLab[(Long, String)](s, dir, GraphDBs.orderCyclesDB(s, dir)) { (gid, es, _) =>
        val labs = es.flatMap(e => Seq(e._1, e._2)).distinct.map(_ -> "o").toMap
        graft.trees.GraphKernels.opkFeatures(es, labs, depth = 3)
          .getOrElse(Nil).map(f => (gid, f))
      }.toDF("graph_id", "feature").orderBy("graph_id", "feature")
    }),

    // mu-important subtree mining (reference subtreeAbsimpOperator,
    // importantSubtrees.c): one FOREST transaction per customer — a star
    // per order (uniform labels) — and a pattern counts only when it occurs
    // in >= 2 of the customer's order components. Closed-form supports:
    // orders-with->=k-lineitems counts per customer.
    "f_lwg_mine_absimp" -> ((s, dir) => {
      val (v, e) = custForestDB(s, dir)
      graft.mining.FrequentSubtrees.mine(s, v, e, threshold = 1L, maxPatternSize = 3,
        operator = graft.mining.FrequentSubtrees.AbsImportant(2))
        .orderBy("size", "cstring")
    }),

    // ts sampler modes (reference treeSamplingMain.c:230-295,
    // sampleSubtrees.c: mix / cactus / bridgeForest / listOrSample) on the
    // cactus-chain DB: the estimate is exactly 3^t there, so the
    // bound-then-enumerate branch choice, the listOrSample output size and
    // the bridge-forest component count are all closed-form; sampler
    // validity (every draw IS a spanning tree) is deterministic.
    "f_ts_modes" -> ((s, dir) => {
      import s.implicits._
      // Fused kernel (round-6): one Tarjan pass + one listing shared across
      // the four modes — value-identical to the per-mode composition, which
      // re-derived the block decomposition up to 8x per graph (round-5
      // verdict #2: 10x contention swing from exactly that constant).
      groupedNoLab[(Long, Boolean, Boolean, Boolean, Long, Long)](s, dir, GraphDBs.cactusChainDB(s, dir)) { (gid, es, _) =>
        val (usedListing, mixOk, cacOk, bfComps, losN) =
          graft.trees.TreeKernels.tsModes(es, k = 5, threshold = 100L,
            seedMix = 11L ^ gid, seedCactus = 13L ^ gid, seedLos = 17L ^ gid)
        Iterator.single((gid, usedListing, mixOk, cacOk, bfComps, losN))
      }.toDF("graph_id", "mix_used_listing", "mix_all_spanning", "cactus_all_spanning",
        "bf_comps", "los_n").orderBy("graph_id")
    }),

    // AIDS99 label decode tables (reference loading.c:558-845
    // aids99VertexLabel/aids99EdgeLabel): decode numeric codes to element
    // symbols; the oracle reproduces the table as a SQL CASE.
    "f_aids_decode" -> ((s, dir) => {
      t(s, dir, "supplier")
        .select((col("s_suppkey") % 63 + 1).cast("int").as("code"))
        .withColumn("element", graft.sources.AidsLabels.vertexElement(col("code")))
        .withColumn("bond", graft.sources.AidsLabels.edgeLabel(col("code") % 3 + 1))
        .groupBy("code", "element", "bond").agg(count(lit(1)).as("n"))
        .orderBy("code")
    }),

    // min-hash sketch over the pattern poset (reference minhashing.c:124-444:
    // K permutations of a pattern poset; sketch = first pattern per
    // permutation that embeds, evaluated with poset-propagation pruning).
    "f_minhash_poset" -> ((s, dir) => {
      import s.implicits._
      val (verts, edges, _) = starDB(s, dir)
      val v = verts.select(col("graph_id"), col("vid"), col("vlabel"))
        .as[(Long, Long, String)]
      val e = edges.select(col("graph_id"), col("src"), col("dst"), col("elabel"))
        .as[(Long, Long, Long, String)]
      val perms = graft.mining.PatternMinHash.permutations(4, 2024L)
      val vg = v.groupByKey(_._1).mapGroups { (gid, it) => gid -> it.map(t => (t._2, t._3)).toSeq }
      val eg = e.groupByKey(_._1).mapGroups { (gid, it) => gid -> it.map(t => (t._2, t._3, t._4)).toSeq }
      vg.joinWith(eg, vg("_1") === eg("_1"), "left")
        .flatMap { case ((gid, vs), eg2) =>
          val es = Option(eg2).map(_._2).getOrElse(Seq.empty)
          val lab = vs.toMap
          val sk = graft.mining.PatternMinHash.sketch(
            vs.map(_._2), es.map { case (a, b, l) => (lab(a), lab(b), l) }, perms)
          sk.zipWithIndex.map { case (pid, i) => (gid, i.toLong, pid.toLong) }
        }
        .toDF("graph_id", "perm", "pattern_id").orderBy("graph_id", "perm")
    }),

    // the same sketch evaluated through the poset MIN PATH COVER plan
    // (reference poset_pathCover.c:722 staticPathCoverEmbeddingForTrees:
    // chains once, binary search per chain per graph) — same closed-form
    // oracle family as f_minhash_poset, different permutation seed.
    "f_minhash_pathcover" -> ((s, dir) => {
      import s.implicits._
      val (verts, edges, _) = starDB(s, dir)
      val v = verts.select(col("graph_id"), col("vid"), col("vlabel"))
        .as[(Long, Long, String)]
      val e = edges.select(col("graph_id"), col("src"), col("dst"), col("elabel"))
        .as[(Long, Long, Long, String)]
      val perms = graft.mining.PatternMinHash.permutations(4, 2025L)
      val vg = v.groupByKey(_._1).mapGroups { (gid, it) => gid -> it.map(t => (t._2, t._3)).toSeq }
      val eg = e.groupByKey(_._1).mapGroups { (gid, it) => gid -> it.map(t => (t._2, t._3, t._4)).toSeq }
      vg.joinWith(eg, vg("_1") === eg("_1"), "left")
        .flatMap { case ((gid, vs), eg2) =>
          val es = Option(eg2).map(_._2).getOrElse(Seq.empty)
          val lab = vs.toMap
          val sk = graft.mining.PatternMinHash.sketchByPathCover(
            vs.map(_._2), es.map { case (a, b, l) => (lab(a), lab(b), l) }, perms)
          sk.zipWithIndex.map { case (pid, i) => (gid, i.toLong, pid.toLong) }
        }
        .toDF("graph_id", "perm", "pattern_id").orderBy("graph_id", "perm")
    })
  )

  /** Uniform-label FOREST DB for the important-subtree miner: one
    * transaction per customer, one star component per order (center
    * vid = 8*orderkey, leaves 8*orderkey+rn for the first 7 lineitems —
    * the rn cap keeps vids injective and is mirrored by the oracle). */
  private def custForestDB(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val orders = t(s, dir, "orders")
      .select(col("o_custkey").cast("long").as("graph_id"),
        col("o_orderkey").cast("long").as("ok"))
    // Leaf ranks 1..min(7, n) per order from ONE count aggregate (round-6;
    // replaces a row_number window whose partitioned sort of the 600k-row
    // lineitem table was most of this DB's CPU). Labels are uniform, so
    // only the per-order leaf COUNT matters — identical to the capped
    // window for any tie order.
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("ok"))
      .groupBy("ok").agg(least(count(lit(1)), lit(7L)).as("cnt"))
      .select(col("ok"), explode(expr("sequence(1L, cnt)")).as("rn"))
      .join(orders, "ok")
    val centers = orders.select(col("graph_id"), (col("ok") * 8).as("vid"), lit("o").as("vlabel"))
    val leaves = li.select(col("graph_id"), (col("ok") * 8 + col("rn")).as("vid"), lit("o").as("vlabel"))
    val edges = li.select(col("graph_id"), (col("ok") * 8).as("src"),
      (col("ok") * 8 + col("rn")).as("dst"), lit("e").as("elabel"))
    (centers.union(leaves), edges)
  }

  /** Uniform-label ring DB for the cyclic-operator miners: vertices 'o',
    * edges 'e' over [[GraphDBs.orderCyclesDB]]. */
  private def ringMinerDB(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = GraphDBs.orderCyclesDB(s, dir)
    val verts = e.select(col("graph_id"), col("src").as("vid"))
      .union(e.select(col("graph_id"), col("dst")))
      .distinct().withColumn("vlabel", lit("o"))
    (verts, e.withColumn("elabel", lit("e")))
  }

  /** Star-forest DB shared by the miners: one graph per order with
    * o_orderkey % 8 == 0; center vid 0 (label o_orderstatus), leaf vids =
    * l_linenumber (label l_returnflag), edge label l_linestatus. */
  private def starDB(s: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    val orders = t(s, dir, "orders").where(col("o_orderkey") % 8 === 0)
    // The driver's synthetic lineitem has DUPLICATE (l_orderkey,
    // l_linenumber) pairs, so leaf vids come from a per-order rank —
    // mining output depends only on the leaf LABEL multiset, so any distinct
    // deterministic numbering yields identical patterns/supports. Round-6:
    // the rank comes from ONE groupBy + sorted-array posexplode instead of
    // a row_number window (hash aggregation instead of a partitioned sort
    // of the joined lineitem rows; same (l_linenumber, l_returnflag,
    // l_linestatus) ordering).
    val li = t(s, dir, "lineitem").join(
        orders.select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
      .select(col("l_orderkey").cast("long").as("graph_id"),
        struct(col("l_linenumber"), col("l_returnflag"), col("l_linestatus")).as("rec"))
      .groupBy("graph_id").agg(sort_array(collect_list(col("rec"))).as("recs"))
      .select(col("graph_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
      .select(col("graph_id"), (col("pos") + 1).cast("long").as("leaf"),
        col("rec.l_returnflag").as("l_returnflag"), col("rec.l_linestatus").as("l_linestatus"))
    val verts = orders.select(col("o_orderkey").cast("long").as("graph_id"),
        lit(0L).as("vid"), col("o_orderstatus").cast("string").as("vlabel"))
      .union(li.select(col("graph_id"),
        col("leaf"), col("l_returnflag").cast("string")))
    val edges = li.select(col("graph_id"),
      lit(0L).as("src"), col("leaf").as("dst"),
      col("l_linestatus").cast("string").as("elabel"))
    (verts, edges, orders.count())
  }

  /** DuckDB fragments shared by the miner oracles (star DB). */
  private val starSql =
    """o8 AS (SELECT o_orderkey::BIGINT AS gid, o_orderstatus AS c FROM orders WHERE o_orderkey % 8 = 0),
      |li8 AS (SELECT l.l_orderkey::BIGINT AS gid,
      |               row_number() OVER (PARTITION BY l.l_orderkey ORDER BY l.l_linenumber) AS ln,
      |               o.c, l.l_linestatus AS e, l.l_returnflag AS f
      |        FROM lineitem l JOIN o8 o ON l.l_orderkey = o.gid),
      |thr AS (SELECT greatest(1, count(*) // 10) AS t FROM o8)""".stripMargin

  /** Shared BFS/DFS lwg oracle on the star DB (strategy must not change
    * the mined set). */
  private val lwgMineStarSql: String =
      s"""WITH $starSql,
         |s1 AS (
         |  SELECT 1 AS size, lab AS cstring, count(DISTINCT gid)::BIGINT AS support FROM (
         |    SELECT gid, c AS lab FROM o8 UNION ALL SELECT gid, f FROM li8) GROUP BY 2),
         |s2 AS (
         |  SELECT 2 AS size,
         |    least(c || '(' || e || ' ' || f || ')', f || '(' || e || ' ' || c || ')') AS cstring,
         |    count(DISTINCT gid)::BIGINT AS support
         |  FROM li8 GROUP BY 2),
         |s3 AS (
         |  SELECT 3 AS size,
         |    a.c || least('(' || a.e || ' ' || a.f || ')', '(' || b.e || ' ' || b.f || ')')
         |        || greatest('(' || a.e || ' ' || a.f || ')', '(' || b.e || ' ' || b.f || ')') AS cstring,
         |    count(DISTINCT a.gid)::BIGINT AS support
         |  FROM li8 a JOIN li8 b ON a.gid = b.gid AND a.ln < b.ln
         |  GROUP BY 2)
         |SELECT size, cstring, support FROM (
         |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
         |WHERE support >= (SELECT t FROM thr)
         |ORDER BY size, cstring""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "f_frequent_labels" ->
      """SELECT label, count(*)::BIGINT AS support FROM (
        |  SELECT DISTINCT o_custkey AS graph_id, o_orderpriority AS label FROM orders)
        |GROUP BY label HAVING count(*) >= 500 ORDER BY label""".stripMargin,

    "f_frequent_edges" ->
      """SELECT minLabel, maxLabel, count(*)::BIGINT AS support FROM (
        |  SELECT DISTINCT a.o_custkey AS graph_id,
        |    least(a.o_orderstatus, b.o_orderstatus) AS minLabel,
        |    greatest(a.o_orderstatus, b.o_orderstatus) AS maxLabel
        |  FROM orders a JOIN orders b
        |    ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey)
        |GROUP BY minLabel, maxLabel HAVING count(*) >= 100 ORDER BY minLabel, maxLabel""".stripMargin,

    "f_triangle_fingerprint" -> {
      val rots = Seq(("la", "lb", "lc"), ("lb", "lc", "la"), ("lc", "la", "lb"),
        ("la", "lc", "lb"), ("lc", "lb", "la"), ("lb", "la", "lc"))
        .map { case (x, y, z) => s"md5($x || '|' || $y || '|' || $z)" }
        .mkString("least(", ", ", ")")
      s"""WITH e0 AS (${Tables.coSupplierSql}),
         | e AS (SELECT least(src,dst) AS src, greatest(src,dst) AS dst FROM e0 GROUP BY 1,2),
         | tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |         FROM e e1 JOIN e e2 ON e2.src = e1.dst JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         | lab AS (SELECT s_suppkey AS vid, s_nationkey::VARCHAR AS l FROM supplier),
         | labeled AS (SELECT x.l AS la, y.l AS lb, z.l AS lc
         |             FROM tri JOIN lab x ON x.vid = tri.a JOIN lab y ON y.vid = tri.b JOIN lab z ON z.vid = tri.c)
         |SELECT $rots AS fingerprint, count(*)::BIGINT AS n
         |FROM labeled GROUP BY 1 ORDER BY fingerprint""".stripMargin
    },

    // Path canonical strings: R(1)='o', R(k)='o('||R(k-1)||')'; odd n =
    // center with two equal chains, even n = bicentral with chains h-1,h
    // sorted lexicographically (R(1) < R(k) for k>=2, else R monotonically
    // DEcreasing: '(' < ')').
    "f_cstring" ->
      s"""WITH RECURSIVE r(kk, s) AS (
         |  SELECT 1, 'o'
         |  UNION ALL SELECT kk+1, 'o(' || s || ')' FROM r WHERE kk < 100),
         |cust AS ($custSql),
         |cs AS (SELECT gid,
         |  CASE
         |    WHEN n % 2 = 1 THEN (SELECT 'o(' || s || ')(' || s || ')' FROM r WHERE kk = (n-1)//2)
         |    WHEN n = 2 THEN 'o(o)'
         |    WHEN n = 4 THEN 'o(o)(o(o))'
         |    ELSE (SELECT 'o(' || a.s || ')(' || b.s || ')'
         |          FROM r a, r b WHERE a.kk = n//2 AND b.kk = n//2 - 1)
         |  END AS cstring
         |  FROM cust)
         |SELECT cstring, count(*)::BIGINT AS n_graphs FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,

    "f_tree_sampling" ->
      s"""WITH cust AS ($custSql)
         |SELECT gid AS graph_id, 3::BIGINT AS n_samples, TRUE AS all_spanning
         |FROM cust ORDER BY graph_id""".stripMargin,

    // The CASE mirrors the engine's 1e12 report bound (countSpanningTrees
    // returns -1 past it; 3^25 < 1e12 < 3^26) so the coupling is explicit
    // rather than resting on the TPC-H per-customer order-count ceiling,
    // and power() stays within double-exact range (ADVICE r3).
    "f_spanning_trees" ->
      s"""WITH cust AS ($custSql)
         |SELECT gid AS graph_id,
         |  (CASE WHEN n // 3 >= 26 THEN -1
         |        ELSE CAST(round(power(3, n // 3), 0) AS BIGINT) END) AS n_spanning
         |FROM cust ORDER BY graph_id""".stripMargin,

    "f_tpk_patterns" ->
      s"""WITH $rankedListsSql,
         |cyc AS (SELECT gid, 0 AS cid, ls FROM rl WHERE n >= 3),
         |rots AS (
         |  SELECT gid, array_to_string(ls[r:] || ls[:r-1], ' ') AS fwd,
         |         array_to_string(list_reverse(ls[r:] || ls[:r-1]), ' ') AS bwd
         |  FROM cyc JOIN range(1, 200) t(r) ON t.r <= len(ls)),
         |np AS (SELECT gid, count(DISTINCT least(fwd, bwd))::BIGINT AS n_patterns FROM rots GROUP BY gid)
         |SELECT rl.gid AS graph_id,
         |       (CASE WHEN rl.n = 2 THEN 1 ELSE rl.n END)::BIGINT AS n_spanning,
         |       (CASE WHEN rl.n = 2 THEN 1 ELSE np.n_patterns END)::BIGINT AS n_patterns
         |FROM rl LEFT JOIN np ON rl.gid = np.gid ORDER BY graph_id""".stripMargin,

    "f_local_easiness" ->
      s"""WITH cust AS ($custSql)
         |SELECT gid AS graph_id,
         |  (CASE WHEN n // 3 > 0 AND n % 3 = 0 THEN 3 ELSE 1 END)::BIGINT AS min_easiness,
         |  (CASE WHEN n // 3 > 0 THEN 3 ELSE 1 END)::BIGINT AS max_easiness
         |FROM cust ORDER BY graph_id""".stripMargin,

    "f_traceability" ->
      s"""WITH cust AS ($custSql)
         |SELECT gid AS graph_id,
         |  (NOT (n % 4 = 3 AND n >= 4)) AS is_cactus,
         |  (n % 4 IN (1, 2) OR (n % 4 = 0 AND n < 7) OR n = 3) AS is_traceable_cactus,
         |  (NOT (n % 4 = 0 AND n >= 7)) AS is_weakly_traceable
         |FROM cust ORDER BY graph_id""".stripMargin,

    // cycle degree of rank-i vertex in the cactus chain: incident bridge
    // edges + triangle membership; edge j=(j,j+1) lies in a triangle iff
    // j % 3 != 0 and its rank triple is complete.
    "f_cycle_degrees" ->
      s"""WITH ro AS (${GraphDBs.rankedOrdersSql})
         |SELECT gid AS graph_id, k AS vid,
         |  ((CASE WHEN rn > 1 AND NOT ((rn-1) % 3 <> 0 AND 3*(((rn-2)//3)+1) <= n) THEN 1 ELSE 0 END)
         | + (CASE WHEN rn < n AND NOT (rn % 3 <> 0 AND 3*(((rn-1)//3)+1) <= n) THEN 1 ELSE 0 END)
         | + (CASE WHEN 3*(((rn-1)//3)+1) <= n THEN 1 ELSE 0 END))::BIGINT AS cycle_degree
         |FROM ro WHERE n >= 2 ORDER BY graph_id, vid""".stripMargin,

    "f_cycle_counts" ->
      s"""WITH $rankedListsSql
         |SELECT gid AS graph_id,
         |  (CASE WHEN n = 2 THEN 0 WHEN n = 3 THEN 1 ELSE 3 END)::BIGINT AS n_simple_cycles,
         |  (CASE WHEN n = 2 THEN 0 WHEN n = 3 THEN 1
         |        WHEN n = 4 THEN (CASE WHEN l2 = l4 THEN 2 ELSE 3 END)
         |        ELSE 3 END)::BIGINT AS n_noniso_cycles
         |FROM rl ORDER BY graph_id""".stripMargin,

    // cpk features: n=2 -> bridge tree 'T:'; n=3 -> one cycle; n>=4 -> the
    // triangle (1,2,3), the chord cycle (1,3..n) and the full ring.
    "f_cpk" ->
      s"""WITH $rankedListsSql,
         |cyc AS (
         |  SELECT gid, 1 AS cid, [ls[1], ls[2], ls[3]] AS ls FROM rl WHERE n >= 3
         |  UNION ALL
         |  SELECT gid, 2, [ls[1]] || ls[3:] FROM rl WHERE n >= 4
         |  UNION ALL
         |  SELECT gid, 3, ls FROM rl WHERE n >= 4),
         |${rotMinSql("cyc", "cmin")},
         |feats AS (
         |  SELECT DISTINCT gid, 'C:(' || s || ')' AS feature FROM cmin
         |  UNION
         |  SELECT gid, 'T:' || least(ls[1] || '(' || ls[2] || ')', ls[2] || '(' || ls[1] || ')')
         |  FROM rl WHERE n = 2)
         |SELECT gid AS graph_id, feature FROM feats ORDER BY graph_id, feature""".stripMargin,

    // Hamiltonian cycle of a ring(+non-crossing chord) graph = the ring,
    // canonicalized as the lex-min rotation/reflection of the vertex-id
    // sequence; crossing chords (n%5=0, n>=5) destroy outerplanarity.
    "f_outerplanarity" ->
      s"""WITH $rankedListsSql,
         |rr AS (SELECT gid, n, ks, list_reverse(ks) AS rev FROM rl WHERE n >= 3),
         |rots AS (
         |  SELECT gid, ks[r:] || ks[:r-1] AS lst FROM rr JOIN range(1, 200) t(r) ON t.r <= len(ks)
         |  UNION ALL
         |  SELECT gid, rev[r:] || rev[:r-1] FROM rr JOIN range(1, 200) t(r) ON t.r <= len(rev)),
         |ham AS (SELECT gid,
         |          arg_min(array_to_string(lst, ','),
         |                  array_to_string(list_transform(lst, x -> lpad(x::VARCHAR, 14, '0')), ',')) AS h
         |        FROM rots GROUP BY gid)
         |SELECT rl.gid AS graph_id,
         |  NOT (rl.n >= 5 AND rl.n % 5 = 0) AS is_outerplanar,
         |  CASE WHEN rl.n = 2 OR (rl.n >= 5 AND rl.n % 5 = 0) THEN '[]'
         |       ELSE '[[' || ham.h || ']]' END AS hamiltonian_cycles
         |FROM rl LEFT JOIN ham ON rl.gid = ham.gid ORDER BY graph_id""".stripMargin,

    // pure rings: outerplanar block canonical string = rotation/reflection
    // minimum of the outer-face labels, no chords.
    "f_op_cstring" ->
      s"""WITH $rankedListsSql,
         |cyc AS (SELECT gid, 0 AS cid, ls FROM rl WHERE n >= 3),
         |${rotMinSql("cyc", "cmin")}
         |SELECT gid AS graph_id, 'OP[' || s || '|]' AS op_cstring
         |FROM cmin ORDER BY graph_id""".stripMargin,

    "f_block_measures" ->
      s"""WITH cust AS ($custSql),
         |g AS (SELECT gid, n, n // 3 AS t FROM cust)
         |SELECT gid AS graph_id,
         |  (n - 1 - t)::BIGINT AS n_blocks,
         |  (n - 1 - 2*t)::BIGINT AS n_bridges,
         |  t::BIGINT AS n_biconnected,
         |  (CASE WHEN t > 0 THEN 1 ELSE 0 END)::BIGINT AS max_block_degree,
         |  (CASE WHEN t > 0 AND n % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS min_block_degree,
         |  TRUE AS is_cactus,
         |  CAST(round(t * ln(3) * 1e6, 0) AS BIGINT) AS st_log_micro
         |FROM g ORDER BY graph_id""".stripMargin,

    // Levelwise free-tree miner on the star DB: every frequent pattern of
    // size <= 3 with its exact support (apriori mining is lossless, so the
    // result equals the direct "all subtrees with support >= t" enumeration).
    "f_lwg_mine" -> lwgMineStarSql,
    // DFS strategy: identical mined set + supports by construction.
    "f_lwg_mine_dfs" -> lwgMineStarSql,

    // treeEnumeration: all canonical trees (sizes 1..3) over the frequent
    // alphabet — size 1 = frequent labels; size 2 = frequent triples folded
    // to free canonical form; size 3 = a center with any multiset of two
    // attachments from the triple alphabet, children sorted.
    "f_tree_enum" ->
      s"""WITH $starSql,
         |lab AS (
         |  SELECT lab, count(DISTINCT gid) AS sup FROM (
         |    SELECT gid, c AS lab FROM o8 UNION ALL SELECT gid, f FROM li8) GROUP BY 1),
         |flab AS (SELECT lab FROM lab WHERE sup >= (SELECT t FROM thr)),
         |trip AS (
         |  SELECT la, el, lb FROM (
         |    SELECT DISTINCT gid, least(c, f) AS la, e AS el, greatest(c, f) AS lb FROM li8)
         |  GROUP BY la, el, lb HAVING count(*) >= (SELECT t FROM thr)),
         |att AS (SELECT la AS ctr, el, lb AS leaf FROM trip
         |        UNION SELECT lb, el, la FROM trip),
         |s1 AS (SELECT 1 AS size, lab AS cstring FROM flab),
         |s2 AS (SELECT DISTINCT 2 AS size,
         |         least(la || '(' || el || ' ' || lb || ')',
         |               lb || '(' || el || ' ' || la || ')') AS cstring FROM trip),
         |s3 AS (SELECT DISTINCT 3 AS size, a.ctr ||
         |         least('(' || a.el || ' ' || a.leaf || ')', '(' || b.el || ' ' || b.leaf || ')') ||
         |         greatest('(' || a.el || ' ' || a.leaf || ')', '(' || b.el || ' ' || b.leaf || ')') AS cstring
         |       FROM att a JOIN att b ON a.ctr = b.ctr)
         |SELECT size, cstring FROM (
         |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
         |ORDER BY size, cstring""".stripMargin,

    // Rooted/directed variant: same DB, edges center->leaf, no orientation
    // folding in the canonical strings.
    "f_lwgr_mine" ->
      s"""WITH $starSql,
         |s1 AS (
         |  SELECT 1 AS size, lab AS cstring, count(DISTINCT gid)::BIGINT AS support FROM (
         |    SELECT gid, c AS lab FROM o8 UNION ALL SELECT gid, f FROM li8) GROUP BY 2),
         |s2 AS (
         |  SELECT 2 AS size, c || '(' || e || ' ' || f || ')' AS cstring,
         |    count(DISTINCT gid)::BIGINT AS support
         |  FROM li8 GROUP BY 2),
         |s3 AS (
         |  SELECT 3 AS size,
         |    a.c || least('(' || a.e || ' ' || a.f || ')', '(' || b.e || ' ' || b.f || ')')
         |        || greatest('(' || a.e || ' ' || a.f || ')', '(' || b.e || ' ' || b.f || ')') AS cstring,
         |    count(DISTINCT a.gid)::BIGINT AS support
         |  FROM li8 a JOIN li8 b ON a.gid = b.gid AND a.ln < b.ln
         |  GROUP BY 2)
         |SELECT size, cstring, support FROM (
         |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
         |WHERE support >= (SELECT t FROM thr)
         |ORDER BY size, cstring""".stripMargin,

    "f_minhash_poset" -> graft.mining.PatternMinHash.oracleSql(4, 2024L, starSql),
    "f_minhash_pathcover" -> graft.mining.PatternMinHash.oracleSql(4, 2025L, starSql),

    "f_lwg_mine_localeasy" -> ringMinerOracleSql,
    "f_lwg_mine_hops" -> ringMinerOracleSql,
    // ps/bps: on uniform rings every sampled spanning tree is an n-path, so
    // the sample-once miners deterministically equal the exact one.
    "f_lwg_mine_hops_variants" ->
      s"""WITH base AS ($ringMinerOracleSql)
         |SELECT base.size, base.cstring, base.support, v.variant
         |FROM base CROSS JOIN (VALUES (0::BIGINT), (1::BIGINT), (2::BIGINT)) v(variant)
         |ORDER BY v.variant, base.size, base.cstring""".stripMargin,

    "f_lwg_mine_ps" -> ringMinerOracleSql,
    "f_lwg_mine_bps" -> ringMinerOracleSql,

    // relimp with mu=0.5 on the customer forest DB: pattern of c leaves
    // counts for a customer iff (#orders with >= c lineitems) >= nord/2.
    "f_lwg_mine_relimp" ->
      """WITH lic AS (
        |  SELECT ok, count(*) AS nli FROM (
        |    SELECT l_orderkey AS ok,
        |           row_number() OVER (PARTITION BY l_orderkey
        |                              ORDER BY l_linenumber, l_returnflag, l_linestatus) AS rn
        |    FROM lineitem) WHERE rn <= 7 GROUP BY ok),
        |stats AS (
        |  SELECT o.o_custkey AS gid, count(*) AS nord,
        |         sum(CASE WHEN coalesce(lic.nli, 0) >= 1 THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN coalesce(lic.nli, 0) >= 2 THEN 1 ELSE 0 END) AS n2
        |  FROM orders o LEFT JOIN lic ON lic.ok = o.o_orderkey GROUP BY 1),
        |sup AS (
        |  SELECT 1 AS size, 'o' AS cstring, count(*)::BIGINT AS support FROM stats
        |  UNION ALL SELECT 2, 'o(e o)',
        |    sum(CASE WHEN 2*n1 >= nord THEN 1 ELSE 0 END)::BIGINT FROM stats
        |  UNION ALL SELECT 3, 'o(e o)(e o)',
        |    sum(CASE WHEN 2*n2 >= nord THEN 1 ELSE 0 END)::BIGINT FROM stats)
        |SELECT size, cstring, support FROM sup WHERE support >= 1
        |ORDER BY size, cstring""".stripMargin,

    "f_hops_estimate" ->
      s"""WITH cust AS ($custSql)
         |SELECT gid AS graph_id,
         |  (CASE WHEN n >= 3 THEN 2 * n ELSE 0 END)::BIGINT AS est_path3
         |FROM cust ORDER BY graph_id""".stripMargin,

    "f_noniso_sampled" ->
      s"""WITH cust AS ($custSql)
         |SELECT gid AS graph_id,
         |  (CASE WHEN n >= 3 THEN 3 ELSE 1 END)::BIGINT AS n_considered,
         |  1::BIGINT AS n_noniso,
         |  1::BIGINT AS n_noniso_global
         |FROM cust ORDER BY graph_id""".stripMargin,

    "f_lwg_mine_absimp" ->
      """WITH lic AS (
        |  SELECT ok, count(*) AS nli FROM (
        |    SELECT l_orderkey AS ok,
        |           row_number() OVER (PARTITION BY l_orderkey
        |                              ORDER BY l_linenumber, l_returnflag, l_linestatus) AS rn
        |    FROM lineitem) WHERE rn <= 7 GROUP BY ok),
        |stats AS (
        |  SELECT o.o_custkey AS gid, count(*) AS nord,
        |         sum(CASE WHEN coalesce(lic.nli, 0) >= 1 THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN coalesce(lic.nli, 0) >= 2 THEN 1 ELSE 0 END) AS n2
        |  FROM orders o LEFT JOIN lic ON lic.ok = o.o_orderkey GROUP BY 1),
        |sup AS (
        |  SELECT 1 AS size, 'o' AS cstring, count(*)::BIGINT AS support FROM stats
        |  UNION ALL SELECT 2, 'o(e o)',
        |    sum(CASE WHEN n1 >= 2 THEN 1 ELSE 0 END)::BIGINT FROM stats
        |  UNION ALL SELECT 3, 'o(e o)(e o)',
        |    sum(CASE WHEN n2 >= 2 THEN 1 ELSE 0 END)::BIGINT FROM stats)
        |SELECT size, cstring, support FROM sup WHERE support >= 1
        |ORDER BY size, cstring""".stripMargin,

    "f_ts_modes" ->
      s"""WITH cust AS ($custSql),
         |g AS (SELECT gid, n, n // 3 AS t,
         |             CAST(round(power(3, n // 3), 0) AS BIGINT) AS p3 FROM cust)
         |SELECT gid AS graph_id,
         |  p3 < 100 AS mix_used_listing,
         |  TRUE AS mix_all_spanning,
         |  TRUE AS cactus_all_spanning,
         |  (CASE WHEN n = 2 THEN 1 WHEN n % 3 = 0 THEN t - 1 ELSE t END)::BIGINT AS bf_comps,
         |  (CASE WHEN p3 < 100 THEN p3 ELSE 5 END)::BIGINT AS los_n
         |FROM g ORDER BY graph_id""".stripMargin,

    "f_aids_decode" ->
      s"""WITH codes AS (SELECT (s_suppkey % 63 + 1)::INT AS code FROM supplier)
         |SELECT code, ${graft.sources.AidsLabels.vertexElementSql("code")} AS element,
         |       ((code % 3) + 1)::VARCHAR AS bond, count(*)::BIGINT AS n
         |FROM codes GROUP BY 1, 2, 3 ORDER BY code""".stripMargin,

    "f_tci" ->
      s"""WITH cust AS ($custSql)
         |SELECT gid AS graph_id, n >= 4 AS sub_star3, n >= 3 AS sub_path3
         |FROM cust ORDER BY graph_id""".stripMargin,

    "f_opk" ->
      s"""WITH cust AS ($custSql),
         |op AS (SELECT gid, n, 'OP[' || repeat('o ', (n-1)::INT) || 'o|]' AS ops FROM cust WHERE n >= 3),
         |f AS (
         |  SELECT gid, ops || repeat('(o)', n::INT) AS feature FROM op
         |  UNION ALL SELECT gid, 'o(' || ops || ')' FROM op
         |  UNION ALL SELECT gid, 'o(' || ops || repeat('(o)', (n-1)::INT) || ')' FROM op
         |  UNION ALL SELECT gid, 'o(o)' FROM cust WHERE n = 2)
         |SELECT gid AS graph_id, feature FROM f ORDER BY graph_id, feature""".stripMargin
  )

  /** Shared oracle for the cyclic-DB miners on uniform rings: the frequent
    * patterns of size <= 3 are the single vertex, the single edge and the
    * 3-path, with supports |DB|, |DB| and #graphs with n >= 3. */
  private def ringMinerOracleSql: String =
    s"""WITH cust AS ($custSql),
       |g AS (SELECT count(*)::BIGINT AS g_all,
       |             sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END)::BIGINT AS g_3 FROM cust)
       |SELECT * FROM (
       |  SELECT 1 AS size, 'o' AS cstring, g_all AS support FROM g
       |  UNION ALL SELECT 2, 'o(e o)', g_all FROM g
       |  UNION ALL SELECT 3, 'o(e o)(e o)', g_3 FROM g)
       |ORDER BY size, cstring""".stripMargin
}
