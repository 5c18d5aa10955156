package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.fixtures.{Generators, PagesFixture, ReferenceOracles}
import graft.graph.GraphOps
import graft.ingest.LinkExtractor
import graft.model.Schemas.Page
import graft.run.IterationCheckpoint
import graft.table.TableIO

/** Seeded inputs committed through `TableIO.commit`, cached by (seed, size)
  * under the data directory. */
object Inputs {
  private def cached(root: Path): Boolean = TableIO.latestSnapshotId(root.toString).isDefined

  /** `Generators.powerLawEdges(n, m, seed)` as a committed edge table. */
  def powerLaw(spark: SparkSession, dataDir: Path, n: Long, m: Int, seed: Long): Path = {
    val root = dataDir.resolve(s"powerlaw-n$n-m$m-s$seed")
    if (!cached(root)) TableIO.commit(Generators.powerLawEdges(spark, n, m, seed), root.toString, 0)
    root
  }

  /** `powerLawEdges` links every vertex to lower ids only, so the first k
    * vertices of a graph with any n >= k form the graph generated with n = k:
    * the down-scaled oracle instances are prefixes of the full inputs. */
  def edgesBelow(edges: DataFrame, k: Long): DataFrame = edges.where(col("src") < k)

  private def warcTs(v: Long) = new Timestamp(1700000000000L + v * 1000)

  /** The pages of vertices below k (see [[edgesBelow]]). */
  def pagesBelow(pages: DataFrame, k: Long): DataFrame = pages.where(col("warc_ts") < lit(warcTs(k)))

  /** A Common-Crawl-style pages table (url, warc_ts, html, text, lang) for
    * vertices 0 until n, whose html links to the distinct
    * `powerLawEdges(n, m, seed)` targets of each page with the script and
    * style noise of `PagesFixture.html`. The manifest records the
    * generator's distinct edge count. */
  def pages(spark: SparkSession, dataDir: Path, n: Long, m: Int, seed: Long): Path = {
    val root = dataDir.resolve(s"pages-n$n-m$m-s$seed")
    if (!cached(root)) {
      import spark.implicits._
      val e = Generators.powerLawEdges(spark, n, m, seed).distinct()
      val out = e.groupBy("src").agg(sort_array(collect_list(col("dst"))).as("ts"))
      val pages = spark.range(0L, n).select(col("id").as("v"))
        .join(out, col("v") === col("src"), "left")
        .select(col("v"), coalesce(col("ts"), typedLit(Seq.empty[Long])).as("ts"))
        .as[(Long, Seq[Long])]
        .map { case (v, ts) =>
          Page(PagesFixture.url(v), warcTs(v),
            PagesFixture.html(v, ts).getBytes(UTF_8), PagesFixture.expectedText(v, ts), "en")
        }
        .toDF()
      TableIO.commit(pages, root.toString, 0, Map("distinct_edges" -> e.count().toDouble))
    }
    root
  }

  def read(spark: SparkSession, root: Path): (TableIO.Manifest, DataFrame) =
    TableIO.readLatest(spark, root.toString).getOrElse(sys.error(s"no snapshot under $root"))

  def edgeList(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("src").cast("long"), col("dst").cast("long")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
}

final case class CrawlRun(manifest: TableIO.Manifest, res: PageRank.Result, edgesRoot: Path, ckRoot: Path,
    ingestS: Double, prS: Double)

/** Ingest, commit and converged PageRank over a seeded pages table. */
final class CrawlPageRank extends Workload {
  val linkGraph = true
  val Pages = 6000L
  val Links = 8
  val SmallPages = 200L
  /** The warm-up runs a fixed number of iterations (tol 0), so that it is
    * cheap and its answer is exactly comparable with `pageRankScalar`. */
  val SmallIterations = 5

  private var pagesRoot: Path = _
  private var pages: DataFrame = _
  private var distinctEdges = 0L
  // warm-up answers on the down-scaled instance, checked after the timed phase
  private var smallEdges = Seq.empty[(Long, Long)]
  private var smallRanks = Map.empty[Long, Double]
  private var smallIngested = Set.empty[(Long, Long)]

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    pagesRoot = Inputs.pages(spark, ctx.dataDir, Pages, Links, ctx.seed)
    // expected link graph of the small instance, in LinkExtractor's vertex ids
    val gen = Generators.powerLawEdges(spark, SmallPages, Links, ctx.seed).distinct()
    val url = udf((v: Long) => PagesFixture.url(v))
    smallEdges = Inputs.edgeList(gen.select(
      LinkExtractor.vid(url(col("src"))).as("src"), LinkExtractor.vid(url(col("dst"))).as("dst")))
  }

  def load(spark: SparkSession, ctx: Ctx): Unit = ctx.tr("load") {
    val (m, df) = Inputs.read(spark, pagesRoot)
    distinctEdges = m.metrics("distinct_edges").toLong
    pages = df.persist(StorageLevel.MEMORY_AND_DISK)
    pages.count()
  }

  def unload(spark: SparkSession): Unit = if (pages != null) { pages.unpersist(true); pages = null }

  /** Ingest + commit + PageRank on `input`; the caller releases the ranks. */
  private def pipeline(spark: SparkSession, ctx: Ctx, input: DataFrame, tag: String,
      tol: Double, maxIter: Int): CrawlRun = {
    val tr = ctx.tr
    val edgesRoot = ctx.freshDir(s"$tag-edges")
    val ckRoot = ctx.freshDir(s"$tag-ranks")
    val t0 = System.nanoTime()
    val manifest = tr("ingest") {
      val edges = LinkExtractor.edges(input)
      tr("table.commit")(TableIO.commit(edges, edgesRoot.toString, 0))
    }
    val t1 = System.nanoTime()
    val res = tr("algo.pagerank") {
      val (_, edges) = Inputs.read(spark, edgesRoot)
      // iteration spans run from one iteration-end hook to the next, so each
      // holds the rank snapshot written after the iteration before it
      var cur = tr.open("algo.pagerank.setup")
      val next = () => { tr.close(cur); cur = tr.open("algo.pagerank.iter") }
      val r = PageRank.run(spark, edges, tol = tol, maxIter = maxIter,
        checkpoint = Some(IterationCheckpoint(ckRoot.toString, 5)),
        onIterationsStart = next, onIterationEnd = _ => next())
      cur.name = "algo.pagerank.finish"
      tr.close(cur)
      r
    }
    CrawlRun(manifest, res, edgesRoot, ckRoot, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    val input = Inputs.pagesBelow(Inputs.read(spark, pagesRoot)._2, SmallPages)
    ctx.ledger.call("warm-up pipeline") {
      val run = pipeline(spark, ctx, input, "warm", tol = 0.0, maxIter = SmallIterations)
      smallRanks = run.res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      smallIngested = Inputs.edgeList(Inputs.read(spark, run.edgesRoot)._2).toSet
      GraphOps.releaseCheckpoint(run.res.ranks)
    }
    ctx.assertNoLeak(spark, "warm-up pipeline")
  }

  def pass(spark: SparkSession, ctx: Ctx, stopClock: () => Unit): Map[String, Double] = {
    val out = ctx.ledger.call("crawl pipeline") {
      val run = pipeline(spark, ctx, pages, "pass", tol = 1e-6, maxIter = 200)
      val res = run.res
      val top = ctx.tr("top100")(res.ranks.orderBy(desc("rank"), asc("vid")).limit(100).collect())
      stopClock()
      val ledger = ctx.ledger
      ledger.check(s"ingested ${run.manifest.rows} edges, generator has $distinctEdges")(
        run.manifest.rows == distinctEdges)
      ledger.check(s"final delta ${res.delta} >= 1e-6")(res.delta < 1e-6)
      val total = res.ranks.agg(sum("rank")).head().getDouble(0)
      ledger.check(s"ranks sum to $total")(math.abs(total - 1.0) < 1e-9)
      ledger.check(s"top-100 has ${top.length} rows")(top.length == 100)
      GraphOps.releaseCheckpoint(res.ranks)
      Map(
        "ingest_s" -> run.ingestS,
        "pr_s" -> run.prS,
        "pr_edges_per_s" -> res.numEdges / res.iterSecsMedian,
        "pr_iterations" -> res.iterations.toDouble,
        "pr_setup_s" -> res.setupSecs,
        "pr_iter_s_p50" -> res.iterSecsMedian,
        "checkpoint_write_s" -> (res.iterSecs - res.iterSecsEach.sum),
        "checkpoint_snapshots" -> IterationCheckpoint(run.ckRoot.toString, 5).lineage.size.toDouble,
        "checkpoint_mb" -> Main.dirBytes(run.ckRoot) / 1e6,
        "commit_mb" -> Main.dirBytes(run.edgesRoot.resolve("data")) / 1e6)
    }
    ctx.assertNoLeak(spark, "crawl pipeline")
    out.getOrElse(Map.empty)
  }

  def checkOracles(ctx: Ctx): Unit = {
    val ledger = ctx.ledger
    ledger.check(s"small instance: ingested edges differ from the generator's")(smallIngested == smallEdges.toSet)
    val want = ReferenceOracles.pageRankScalar(smallEdges, tol = 0.0, maxIter = SmallIterations)
    ledger.check("small instance: PageRank vertex set differs from pageRankScalar")(smallRanks.keySet == want.keySet)
    ledger.check("small instance: PageRank differs from pageRankScalar by 1e-6 or more")(
      want.forall { case (v, w) => smallRanks.get(v).exists(r => math.abs(r - w) < 1e-6) })
  }
}

/** CC to fixpoint, 3 rounds of hashed WL refinement and the global triangle
  * count over a seeded power-law edge table: few, large, shuffle-bound jobs. */
final class LinkgraphScale extends Workload {
  val linkGraph = true
  val Vertices = 12000L
  val OutEdges = 8
  val SmallVertices = 200L
  val LpRounds = 3

  private var root: Path = _
  private var edges: DataFrame = _
  private var labels: DataFrame = _
  private var firstAnswers: Option[Seq[Long]] = None
  private var smallEdges = Seq.empty[(Long, Long)]
  private var smallCc = Map.empty[Long, Long]
  private var smallLp = Map.empty[Long, Long]
  private var smallTri = -1L

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    root = Inputs.powerLaw(spark, ctx.dataDir, Vertices, OutEdges, ctx.seed)
    smallEdges = Inputs.edgeList(Inputs.edgesBelow(Inputs.read(spark, root)._2, SmallVertices))
  }

  /** Initial WL labels: a degree-independent coarse partition, vid mod 64. */
  private def initialLabels(e: DataFrame): DataFrame =
    GraphOps.vertices(e).select(col("vid"), pmod(col("vid"), lit(64L)).as("label"))

  def load(spark: SparkSession, ctx: Ctx): Unit = ctx.tr("load") {
    edges = Inputs.read(spark, root)._2.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    labels = initialLabels(edges).persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
  }

  def unload(spark: SparkSession): Unit = if (edges != null) {
    labels.unpersist(true); edges.unpersist(true); edges = null
  }

  private def cc(spark: SparkSession, ctx: Ctx, e: DataFrame)(answer: DataFrame => Long): Option[Long] =
    ctx.ledger.call("ConnectedComponents.run") {
      val out = ctx.tr("algo.cc")(ConnectedComponents.run(spark, e))
      try answer(out) finally GraphOps.releaseCheckpoint(out)
    }

  private def lp(spark: SparkSession, ctx: Ctx, e: DataFrame, l: DataFrame)(answer: DataFrame => Long): Option[Long] =
    ctx.ledger.call("LabelPropagation.wlRefineHashed") {
      val out = ctx.tr("algo.lp")(LabelPropagation.wlRefineHashed(spark, e, l, LpRounds))
      try answer(out) finally GraphOps.releaseCheckpoint(out)
    }

  private def tri(spark: SparkSession, ctx: Ctx, e: DataFrame): Option[Long] =
    ctx.ledger.call("Triangles.globalCount")(ctx.tr("algo.triangles")(Triangles.globalCount(spark, e)))

  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    val e = Inputs.edgesBelow(Inputs.read(spark, root)._2, SmallVertices)
    def pairs(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc(spark, ctx, e) { out => smallCc = pairs(out); 0L }
    lp(spark, ctx, e, initialLabels(e)) { out => smallLp = pairs(out); 0L }
    smallTri = tri(spark, ctx, e).getOrElse(-1L)
    ctx.assertNoLeak(spark, "warm-up algorithms")
  }

  /** Order-free digest of a (vid, label) result: class count and xor hash. */
  private def digest(df: DataFrame, label: String): Seq[Long] = {
    val r = df.agg(countDistinct(col(label)), bit_xor(xxhash64(col("vid"), col(label)))).head()
    Seq(r.getLong(0), r.getLong(1))
  }

  def pass(spark: SparkSession, ctx: Ctx, stopClock: () => Unit): Map[String, Double] = {
    var d = Seq.empty[Long]
    val t0 = System.nanoTime()
    cc(spark, ctx, edges) { out => d ++= digest(out, "component"); 0L }
    val t1 = System.nanoTime()
    lp(spark, ctx, edges, labels) { out => d ++= digest(out, "label"); 0L }
    val t2 = System.nanoTime()
    d ++= tri(spark, ctx, edges).toSeq
    val t3 = System.nanoTime()
    stopClock()
    ctx.assertNoLeak(spark, "cc/lp/triangles")
    firstAnswers match {
      case None => firstAnswers = Some(d)
      case Some(first) => ctx.ledger.check(s"answers $d differ from the first pass's $first")(d == first)
    }
    Map("cc_s" -> (t1 - t0) / 1e9, "lp_s" -> (t2 - t1) / 1e9, "tri_s" -> (t3 - t2) / 1e9,
      "triangles" -> d.lastOption.getOrElse(-1L).toDouble)
  }

  private def partition(labels: Map[Long, Any]): Set[Set[Long]] =
    labels.groupBy(_._2).values.map(_.keySet).toSet

  def checkOracles(ctx: Ctx): Unit = {
    val ledger = ctx.ledger
    ledger.check("small instance: CC differs from connectedComponentsMinVid")(
      smallCc == ReferenceOracles.connectedComponentsMinVid(smallEdges))
    val init = smallEdges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> (v % 64).toString).toMap
    val want = ReferenceOracles.wlPartition(smallEdges, init, LpRounds)
    ledger.check("small instance: WL partition differs from wlPartition")(
      partition(smallLp.map { case (k, v) => k -> (v: Any) }) == partition(want.map { case (k, v) => k -> (v: Any) }))
    val wantTri = ReferenceOracles.triangles(smallEdges)._1
    ledger.check(s"small instance: $smallTri triangles, oracle has $wantTri")(smallTri == wantTri)
  }
}

/** The GraphMiningTools operator set: 8 `SparkEntry.queries` over seeded
  * TPC-H-style tables, outputs written as parquet for the DuckDB oracle. */
final class OperatorSweep extends Workload {
  val linkGraph = false
  val Families: Seq[(String, Seq[String])] = Seq(
    "mine" -> Seq("f_lwg_mine_absimp"),
    "kernel" -> Seq("f_ts_modes", "f_tpk_patterns", "f_spanning_trees"),
    "smallgraph" -> Seq("g_cc", "g_triangles_per_vertex", "g_common_neighbors"),
    "stream" -> Seq("e_dedup_stream"))
  /** The tables the queries above read. */
  val Tables = Seq("customer", "supplier", "orders", "lineitem", "events")
  /** Cheap queries that warm up the graph-DB derivation, a tree kernel and
    * the triangle path; a miner or a stream replay would double the warm-up. */
  val WarmUp = Seq("f_spanning_trees", "g_common_neighbors")

  private var dir: String = _
  private def outDir(ctx: Ctx) = ctx.workDir.resolve("sweep-out")

  def prepare(spark: SparkSession, ctx: Ctx): Unit = dir = ctx.dataDir.toString

  def load(spark: SparkSession, ctx: Ctx): Unit = ctx.tr("load") {
    Tables.foreach(t => graft.queries.Tables.t(spark, dir, t).count())
  }

  def unload(spark: SparkSession): Unit = ()

  private def run(spark: SparkSession, ctx: Ctx, q: String): Double = {
    val t0 = System.nanoTime()
    ctx.ledger.call(q) {
      ctx.tr(s"queries.$q") {
        val df = SparkEntry.queries(q)(spark, dir)
        df.write.mode("overwrite").parquet(outDir(ctx).resolve(q).toString)
        GraphOps.releaseCheckpoint(df)
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    // the miners hand back one persisted frame: Bench's leak sweep allows 2
    ctx.assertNoLeak(spark, q, allowed = 2)
    s
  }

  def warmup(spark: SparkSession, ctx: Ctx): Unit = WarmUp.foreach(run(spark, ctx, _))

  def pass(spark: SparkSession, ctx: Ctx, stopClock: () => Unit): Map[String, Double] = {
    val perQuery = Families.flatMap { case (fam, qs) => qs.map(q => (fam, q, run(spark, ctx, q))) }
    stopClock()
    perQuery.groupMapReduce(x => s"${x._1}_s")(_._3)(_ + _) ++ perQuery.map(x => s"q.${x._2}" -> x._3)
  }

  /** The oracle SQL of the sweep queries, for the DuckDB check after the run. */
  def checkOracles(ctx: Ctx): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = Families.flatMap(_._2).toSet
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(outDir(ctx).resolve("oracle_sql.json"), json)
    ctx.ledger.check("every sweep query has an oracle")(SparkEntry.oracleSql.keySet.intersect(names) == names)
  }
}
