package graft.algo

import scala.collection.mutable.LongMap
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps

/** Triangles by degree-oriented sorted-adjacency intersection (SURVEY.md
  * §2.8.3; BASELINE.json north_rule).
  *
  * The reference finds triangles with one wedge check, `commonNeighborCount`
  * (`graph.c:105-123`), and uses it for counts, per-vertex tallies and
  * fingerprints (`executables/patternExtractor.c:121-177, 267-295`, where
  * each triangle is found once per center). So does this object: one kernel,
  * [[pairs]], walks every pair (u, N(u), v, N(v)) with v ∈ N(u) of a sorted
  * adjacency and hands each partition's pairs to a per-use fold, and every
  * public entry point is such a fold over the common entries of N(u) and
  * N(v) ([[Common]]). A new triangle use is one more fold, not a new kernel.
  *
  * Over the oriented adjacency (each undirected edge points from the
  * endpoint with lower (degree, vid) to the higher one) the common entries
  * of a pair are the triangles through the edge u -> v, so every triangle is
  * found exactly once, and no vertex scans more than O(sqrt(m)) oriented
  * neighbours: a power-law hub's oriented out-degree is small.
  *
  * The pairs come from one of two sources, picked by one size probe of the
  * persisted adjacency against [[MaxBroadcastAdjEntries]]. Under the budget
  * the adjacency is collected and broadcast, and each task walks the pairs of
  * its share of the source ids with no join. Over it, the pairs come from one
  * shuffled join of (u, v, N(u)) with (v, N(v)). The shuffled source stays
  * because it is the only plan that runs on graphs over the budget (the
  * north-rule web graphs), whose adjacency no executor can hold. Both
  * sources feed the same fold, so they give the same rows.
  */
object Triangles {

  /** Adjacency-entry budget under which the adjacency is collected and
    * broadcast instead of self-joined (guide §3.1): 4M longs is ~32 MB on
    * every executor, far below the 8 GB relation cap. The co-supplier-style
    * small-dimension graphs of the query suite sit orders of magnitude below
    * it; the north-rule web graphs (12M+ vertices) sit far above it. */
  private val MaxBroadcastAdjEntries = 4L * 1000 * 1000

  /** One pair (u, N(u), v, N(v)) of the walk. */
  private type Pair = (Long, Array[Long], Long, Array[Long])

  /** Oriented edges: src -> dst iff (deg(src), src) < (deg(dst), dst). The
    * degree aggregate is joined back once per endpoint, not attached with
    * two windows: at the sizes the broadcast budget serves, the aggregate is
    * small enough to broadcast, while each window re-shuffles every edge
    * (traced `linkgraph_scale`: twice the shuffle bytes, a quarter more task
    * CPU, no faster). */
  private def orient(edges: DataFrame): DataFrame = {
    val sym = GraphOps.symmetrize(edges)
    val deg = sym.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("vid").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("vid").as("dst"), col("deg").as("ddeg")), "dst")
      .where(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")))
      .select(col("src"), col("dst"))
  }

  /** `adj`(src, nbrs): the sorted, distinct neighbours of each source.
    * `collect_set`, not `collect_list`: over [[GraphOps.symmetrize]] the
    * optimizer then drops the distinct below it, one exchange fewer. */
  private def adjacency(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(sort_array(collect_set(col("dst"))).as("nbrs"))

  /** The one wedge check: `apply` writes the common entries of two sorted,
    * duplicate-free arrays to `ws` (grown to fit) and returns how many. A
    * fold keeps one per partition, so no pair or triangle allocates. */
  private final class Common {
    var ws = new Array[Long](64)
    def apply(a: Array[Long], b: Array[Long]): Int = {
      if (ws.length < a.length) ws = new Array[Long](math.max(a.length, 2 * ws.length))
      var n = 0; var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { ws(n) = a(i); n += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      n
    }
  }

  /** The kernel: every pair (u, N(u), v, N(v)) with v ∈ N(u) of `adj`
    * (N(v) empty where v has no row), folded one partition at a time.
    *
    * `adj` is persisted across the size probe and the collect, so its
    * derivation runs once, and unpersisted before this returns, on success
    * or failure. The broadcast source hands the source ids to the tasks with
    * `parallelize`, which is no exchange. Over the budget the probe costs
    * one adjacency materialization the shuffled join does not reuse: small
    * against the two array-carrying exchanges the broadcast saves when it
    * applies (measured: 263 MB shuffled per triangle query on the sf0.1
    * co-supplier graph). */
  private def pairs[T: Encoder](adj: DataFrame, budget: Long)(
      fold: Iterator[Pair] => Iterator[T]): Dataset[T] = {
    val spark = adj.sparkSession
    import spark.implicits._
    val pers = adj.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (pers.agg(coalesce(sum(size(col("nbrs"))), lit(0L))).head().getLong(0) <= budget) {
        val local = LongMap.from(pers.as[(Long, Array[Long])].collect())
        val bc = spark.sparkContext.broadcast(local)
        val us = spark.sparkContext.parallelize(local.keys.toSeq.sorted, GraphOps.defaultParallelism(spark))
        spark.createDataset(us.mapPartitions(it => fold(it.flatMap { u =>
          val un = bc.value(u)
          un.iterator.map(v => (u, un, v, bc.value.getOrElse(v, Array.emptyLongArray)))
        }))(implicitly[Encoder[T]].clsTag))
      } else
        pers.select(col("src").as("u"), col("nbrs").as("un"), explode(col("nbrs")).as("v"))
          .join(pers.select(col("src").as("v"), col("nbrs").as("vn")), Seq("v"), "left")
          .select(col("u"), col("un"), col("v"), coalesce(col("vn"), typedLit(Array.emptyLongArray)))
          .as[Pair].mapPartitions(fold)
    } finally pers.unpersist(false)
  }

  /** All triangles as (a, b, c) rows, each exactly once: a -> b, a -> c and
    * b -> c in the orientation. */
  def enumerate(spark: SparkSession, edges: DataFrame): DataFrame =
    enumerate(spark, edges, MaxBroadcastAdjEntries)

  private[algo] def enumerate(spark: SparkSession, edges: DataFrame, budget: Long): DataFrame = {
    import spark.implicits._
    // one row per pair that closes a triangle; the per-triangle rows come
    // from a codegen'd explode (a per-triangle tuple stream allocated ~10^8
    // objects on the triangle-dense co-supplier graph, measured as GC time)
    pairs(adjacency(orient(edges)), budget) { it =>
      val c = new Common
      it.flatMap { case (u, un, v, vn) =>
        val n = c(un, vn)
        if (n == 0) None else Some((u, v, java.util.Arrays.copyOf(c.ws, n)))
      }
    }.toDF("a", "b", "cs").select(col("a"), col("b"), explode(col("cs")).as("c"))
  }

  /** Global triangle count (fixture goldens: K_n -> C(n,3), trees/paths ->
    * 0): the summed intersection sizes, with no row per triangle. */
  def globalCount(spark: SparkSession, edges: DataFrame): Long =
    globalCount(spark, edges, MaxBroadcastAdjEntries)

  private[algo] def globalCount(spark: SparkSession, edges: DataFrame, budget: Long): Long = {
    import spark.implicits._
    pairs(adjacency(orient(edges)), budget) { it =>
      val c = new Common
      var n = 0L
      it.foreach { case (_, un, _, vn) => n += c(un, vn) }
      Iterator.single(n)
    }.agg(coalesce(sum(col("value")), lit(0L))).head().getLong(0)
  }

  /** Per-vertex triangle counts, 0 for a vertex in no triangle, matching the
    * reference's per-center counting divided by its 3x multiplicity
    * (`executables/patternExtractor.c:274-295`). Every pair tallies u and v
    * by its intersection size and each common w by one, so every endpoint of
    * an edge gets a row without a join against the vertex set. */
  def perVertex(spark: SparkSession, edges: DataFrame): DataFrame =
    perVertex(spark, edges, MaxBroadcastAdjEntries)

  private[algo] def perVertex(spark: SparkSession, edges: DataFrame, budget: Long): DataFrame = {
    import spark.implicits._
    pairs(adjacency(orient(edges)), budget) { it =>
      val c = new Common
      val tally = LongMap.empty[Long]
      def add(x: Long, d: Long): Unit = tally(x) = tally.getOrElse(x, 0L) + d
      it.foreach { case (u, un, v, vn) =>
        val n = c(un, vn)
        add(u, n); add(v, n)
        var i = 0
        while (i < n) { add(c.ws(i), 1L); i += 1 }
      }
      tally.iterator
    }.toDF("vid", "n").groupBy("vid")
      .agg(coalesce(sum(col("n")), lit(0L)).as("triangles")) // keeps the column non-null
  }

  /** Triangle counts per unordered vertex-label triple (la <= lb <= lc, n),
    * the input to label-multiset fingerprints (reference
    * `executables/patternExtractor.c:121-177` fingerprintTriple works per
    * triangle; at 10^8 triangles the labels must ride along the walk, not be
    * joined onto it afterwards).
    *
    * This is the plain kernel over label-encoded ids: with the label
    * alphabet collected into a sorted dictionary of k ids, each endpoint
    * becomes `vid * k + lid` before orienting. The encoding keeps vid order,
    * so the kernel runs on the encoded graph unchanged and finds each
    * triangle once, and `id mod k` is the label; the fold tallies the sorted
    * label triple packed into one long, and only the <= k^3 classes are
    * decoded.
    * An edge with an unlabeled endpoint is dropped by the encoding, so a
    * triangle with an unlabeled vertex is counted in no class. Requires
    * vertex ids with |vid| * k + k inside the long range. */
  def labelTripleCounts(spark: SparkSession, edges: DataFrame, labels: DataFrame): DataFrame =
    labelTripleCounts(spark, edges, labels, MaxBroadcastAdjEntries)

  private[algo] def labelTripleCounts(spark: SparkSession, edges: DataFrame, labels: DataFrame,
      budget: Long): DataFrame = {
    import spark.implicits._
    val lab = labels.select(col(labels.columns(0)).cast("long").as("vid"),
      col(labels.columns(1)).cast("string").as("lab"))
    val names = lab.select("lab").distinct().orderBy("lab").as[String].collect()
    val k = math.max(1, names.length).toLong
    val enc = lab.join(broadcast(names.toSeq.zipWithIndex.toDF("lab", "lid")), "lab")
      .select(col("vid"), (col("vid") * k + col("lid")).as("enc"))
    val encoded = GraphOps.endpoints(edges)
      .join(enc.select(col("vid").as("src"), col("enc").as("s")), "src")
      .join(enc.select(col("vid").as("dst"), col("enc").as("d")), "dst")
      .select(col("s").as("src"), col("d").as("dst"))
    val counts = pairs(adjacency(orient(encoded)), budget) { it =>
      val c = new Common
      val tally = LongMap.empty[Long]
      it.foreach { case (u, un, v, vn) =>
        val n = c(un, vn)
        val (a, b) = (Math.floorMod(u, k), Math.floorMod(v, k))
        var i = 0
        while (i < n) {
          val w = Math.floorMod(c.ws(i), k)
          val lo = math.min(a, math.min(b, w))
          val hi = math.max(a, math.max(b, w))
          val key = (lo * k + (a + b + w - lo - hi)) * k + hi
          tally(key) = tally.getOrElse(key, 0L) + 1L
          i += 1
        }
      }
      tally.iterator
    }.toDF("tkey", "n0").groupBy("tkey").agg(sum(col("n0")).as("n"))
    val name = typedLit(names)
    counts.select(name(expr(s"tkey DIV ${k * k}")).as("la"), name(expr(s"tkey DIV $k") % k).as("lb"),
      name(col("tkey") % k).as("lc"), col("n"))
  }

  /** Common-neighbour count of each connected pair src < dst (reference
    * `graph.c:105-123` `commonNeighborCount`): the kernel over the symmetric
    * adjacency, one row per undirected edge. */
  def commonNeighbors(spark: SparkSession, edges: DataFrame): DataFrame =
    commonNeighbors(spark, edges, MaxBroadcastAdjEntries)

  private[algo] def commonNeighbors(spark: SparkSession, edges: DataFrame, budget: Long): DataFrame = {
    import spark.implicits._
    pairs(adjacency(GraphOps.symmetrize(edges)), budget) { it =>
      val c = new Common
      it.collect { case (u, un, v, vn) if v > u => (u, v, c(un, vn)) }
    }.toDF("src", "dst", "common")
  }
}
