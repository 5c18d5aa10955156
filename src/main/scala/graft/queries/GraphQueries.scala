package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.graph.GraphOps

/** Graph-operator queries for the correctness gate (SparkEntry.queries).
  * Each has a DuckDB-runnable ANSI SQL oracle over the same parquet tables.
  * Output conventions: BIGINT ids/counts, DOUBLE rounded to 6 dp, ORDER BY
  * the full key so both sides are row-deterministic. */
object GraphQueries {

  private def sym(sql: String): String =
    s"""WITH e AS ($sql),
       | sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- degree measures (gf -f maxDegree/minDegree/numberOfVertices/numberOfEdges,
    //     reference graph.c:611-650, filter.c:492-497) ---
    "g_degree" -> ((s, dir) => {
      GraphOps.degrees(Tables.coSupplierEdges(s, dir))
        .select(col("vid").cast("long").as("vid"), col("degree").cast("long").as("degree"))
        .orderBy("vid")
    }),
    "g_degree_stats" -> ((s, dir) => {
      val e = GraphOps.canonicalEdges(Tables.coSupplierEdges(s, dir))
      val deg = GraphOps.degrees(e)
      val nm = e.agg(count(lit(1)).as("m")).crossJoin(GraphOps.vertices(e).agg(count(lit(1)).as("n")))
      deg.agg(min("degree").as("min_degree"), max("degree").as("max_degree"))
        .crossJoin(nm)
        .select(col("n").cast("long"), col("m").cast("long"),
          col("min_degree").cast("long"), col("max_degree").cast("long"))
    }),

    // --- connected components, min-vid labels (SURVEY §2.8.1) ---
    "g_cc" -> ((s, dir) => {
      ConnectedComponents.run(s, Tables.custNationEdges(s, dir))
        .select(col("vid").cast("long"), col("component").cast("long"))
        .orderBy("vid")
    }),
    "g_cc_count" -> ((s, dir) => {
      ConnectedComponents.run(s, Tables.custNationEdges(s, dir))
        .agg(countDistinct("component").cast("long").as("n_components"))
    }),

    // --- PageRank, 5 fixed iterations (oracle-matchable: tol = 0.0 never
    //     stops the loop early; converged variant is exercised by Bench +
    //     entry and the fixture goldens) ---
    "g_pagerank5" -> ((s, dir) => {
      PageRank.run(s, Tables.custNationEdges(s, dir), tol = 0.0, maxIter = 5).ranks
        .select(col("vid").cast("long"), round(col("rank"), 6).as("rank"))
        .orderBy("vid")
    }),

    // --- triangles (SURVEY §2.8.3) ---
    "g_triangle_count" -> ((s, dir) => {
      val c = Triangles.globalCount(s, Tables.coSupplierEdges(s, dir))
      import s.implicits._
      Seq(c).toDF("n_triangles")
    }),
    "g_triangles_per_vertex" -> ((s, dir) => {
      Triangles.perVertex(s, Tables.coSupplierEdges(s, dir))
        .select(col("vid").cast("long"), col("triangles").cast("long"))
        .orderBy("vid")
    }),
    "g_common_neighbors" -> ((s, dir) => {
      Triangles.commonNeighbors(s, Tables.coSupplierEdges(s, dir))
        .select(col("src").cast("long"), col("dst").cast("long"), col("common").cast("long"))
        .orderBy("src", "dst")
    }),

    // --- one WL relabeling round, exact signature strings
    //     (reference weisfeilerLehman.c:19-56; executable `wl`) ---
    "g_wl_relabel" -> ((s, dir) => {
      val labels = Tables.t(s, dir, "supplier")
        .select(col("s_suppkey").as("vid"), col("s_nationkey").cast("string").as("label"))
      LabelPropagation.wlSignatures(s, Tables.coSupplierEdges(s, dir), labels)
        .select(col("vid").cast("long"), col("signature"))
        .orderBy("vid")
    }),

    // --- one majority-vote LP round, tie-break (max votes, min label) ---
    "g_lp_majority1" -> ((s, dir) => {
      LabelPropagation.majority(s, Tables.coSupplierEdges(s, dir), rounds = 1)
        .select(col("vid").cast("long"), col("label").cast("long"))
        .orderBy("vid")
    }),

    // --- neighborhood generator, "neighbors" mode (reference
    //     executables/neighborhoodGenerator.c; ego-net per center) ---
    "g_ego_edges" -> ((s, dir) => {
      GraphOps.egoNets(Tables.coSupplierEdges(s, dir))
        .select(col("center").cast("long"), col("src").cast("long"), col("dst").cast("long"))
        .orderBy("center", "src", "dst")
    }),

    // --- materialized components incl. isolated vertices (reference
    //     connectedComponents.c:52-77: per-component edge sets; suppliers
    //     with no co-supplier edge are singleton components) ---
    "g_cc_materialized" -> ((s, dir) => {
      ConnectedComponents.materialized(s, Tables.coSupplierEdges(s, dir),
        Tables.t(s, dir, "supplier").select(col("s_suppkey")))
        .select(col("component").cast("long"), col("n_vertices").cast("long"),
          col("n_edges").cast("long"), col("isolated"))
        .orderBy("component")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "g_degree" ->
      s"""${sym(Tables.coSupplierSql)}
         |SELECT src AS vid, count(*)::BIGINT AS degree FROM sym GROUP BY src ORDER BY vid""".stripMargin,

    "g_degree_stats" ->
      s"""${sym(Tables.coSupplierSql)},
         | deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY src)
         |SELECT (SELECT count(*) FROM deg)::BIGINT AS n,
         |       (SELECT count(*) FROM e)::BIGINT AS m,
         |       min(degree)::BIGINT AS min_degree, max(degree)::BIGINT AS max_degree
         |FROM deg""".stripMargin,

    "g_cc" ->
      s"""WITH RECURSIVE e AS (${Tables.custNationSql}),
         | sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         | reach(vid, comp) AS (
         |   SELECT src, src FROM sym UNION SELECT dst, dst FROM sym
         |   UNION
         |   SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.vid WHERE r.comp < s.dst
         | )
         |SELECT vid::BIGINT AS vid, min(comp)::BIGINT AS component
         |FROM reach GROUP BY vid ORDER BY vid""".stripMargin,

    "g_cc_count" ->
      s"""WITH RECURSIVE e AS (${Tables.custNationSql}),
         | sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         | reach(vid, comp) AS (
         |   SELECT src, src FROM sym UNION SELECT dst, dst FROM sym
         |   UNION
         |   SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.vid WHERE r.comp < s.dst
         | )
         |SELECT count(DISTINCT comp)::BIGINT AS n_components
         |FROM (SELECT vid, min(comp) AS comp FROM reach GROUP BY vid)""".stripMargin,

    "g_pagerank5" -> OracleSqlGen.pageRankUnrolled(Tables.custNationSql, iterations = 5, damping = 0.85),

    "g_triangle_count" ->
      s"""WITH e0 AS (${Tables.coSupplierSql}),
         | e AS (SELECT least(src,dst) AS src, greatest(src,dst) AS dst FROM e0 GROUP BY 1,2)
         |SELECT count(*)::BIGINT AS n_triangles
         |FROM e e1 JOIN e e2 ON e2.src = e1.dst JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin,

    "g_triangles_per_vertex" ->
      s"""WITH e0 AS (${Tables.coSupplierSql}),
         | e AS (SELECT least(src,dst) AS src, greatest(src,dst) AS dst FROM e0 GROUP BY 1,2),
         | tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |         FROM e e1 JOIN e e2 ON e2.src = e1.dst JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         | verts AS (SELECT DISTINCT src AS vid FROM e UNION SELECT DISTINCT dst FROM e),
         | cnt AS (SELECT v, count(*) AS c FROM (
         |   SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY v)
         |SELECT vid::BIGINT AS vid, coalesce(c, 0)::BIGINT AS triangles
         |FROM verts LEFT JOIN cnt ON verts.vid = cnt.v ORDER BY vid""".stripMargin,

    "g_common_neighbors" ->
      s"""${sym(Tables.coSupplierSql)},
         | canon AS (SELECT least(src,dst) AS src, greatest(src,dst) AS dst FROM e GROUP BY 1,2),
         | cnt AS (SELECT c.src AS src, c.dst AS dst, count(*) AS common
         |         FROM canon c
         |         JOIN sym a ON a.src = c.src
         |         JOIN sym b ON b.src = c.dst AND b.dst = a.dst
         |         GROUP BY c.src, c.dst)
         |SELECT c.src::BIGINT AS src, c.dst::BIGINT AS dst, coalesce(t.common, 0)::BIGINT AS common
         |FROM canon c LEFT JOIN cnt t ON t.src = c.src AND t.dst = c.dst
         |ORDER BY src, dst""".stripMargin,

    "g_wl_relabel" ->
      s"""${sym(Tables.coSupplierSql)},
         | labels AS (SELECT s_suppkey AS vid, s_nationkey::VARCHAR AS label FROM supplier),
         | nbr AS (SELECT s.src AS vid, string_agg(l.label, ',' ORDER BY l.label) AS nbrsig
         |         FROM sym s JOIN labels l ON l.vid = s.dst GROUP BY s.src)
         |SELECT l.vid::BIGINT AS vid, l.label || ':' || coalesce(n.nbrsig, '') AS signature
         |FROM labels l LEFT JOIN nbr n ON n.vid = l.vid ORDER BY vid""".stripMargin,

    "g_lp_majority1" ->
      s"""${sym(Tables.coSupplierSql)},
         | verts AS (SELECT DISTINCT src AS vid FROM sym),
         | votes AS (SELECT s.src AS vid, s.dst AS label, 1 AS c FROM sym s),
         | tally AS (SELECT vid, label, count(*) AS c FROM votes GROUP BY vid, label),
         | best AS (SELECT vid, label,
         |            row_number() OVER (PARTITION BY vid ORDER BY c DESC, label ASC) AS rn
         |          FROM tally)
         |SELECT vid::BIGINT AS vid, label::BIGINT AS label FROM best WHERE rn = 1 ORDER BY vid""".stripMargin,

    "g_ego_edges" ->
      s"""${sym(Tables.coSupplierSql)}
         |SELECT w1.src::BIGINT AS center, w1.dst::BIGINT AS src, w2.dst::BIGINT AS dst
         |FROM sym w1 JOIN sym w2 ON w2.src = w1.src AND w1.dst < w2.dst
         |WHERE EXISTS (SELECT 1 FROM sym s WHERE s.src = w1.dst AND s.dst = w2.dst)
         |ORDER BY center, src, dst""".stripMargin,

    "g_cc_materialized" ->
      s"""WITH RECURSIVE e0 AS (${Tables.coSupplierSql}),
         | e AS (SELECT least(src,dst) AS a, greatest(src,dst) AS b FROM e0 GROUP BY 1,2),
         | sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
         | reach(vid, comp) AS (
         |   SELECT src, src FROM sym UNION SELECT dst, dst FROM sym
         |   UNION
         |   SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.vid WHERE r.comp < s.dst
         | ),
         | lab AS (SELECT vid, min(comp) AS comp FROM reach GROUP BY vid),
         | allv AS (SELECT s_suppkey::BIGINT AS vid FROM supplier),
         | fullv AS (SELECT v.vid, coalesce(l.comp, v.vid) AS component
         |           FROM allv v LEFT JOIN lab l ON l.vid = v.vid),
         | vc AS (SELECT component, count(*) AS n_vertices FROM fullv GROUP BY 1),
         | ec AS (SELECT l.comp AS component, count(*) AS n_edges
         |        FROM e JOIN lab l ON l.vid = e.a GROUP BY 1)
         |SELECT vc.component::BIGINT AS component, vc.n_vertices::BIGINT AS n_vertices,
         |       coalesce(ec.n_edges, 0)::BIGINT AS n_edges, vc.n_vertices = 1 AS isolated
         |FROM vc LEFT JOIN ec ON vc.component = ec.component ORDER BY component""".stripMargin
  )
}
