package graft.queries

/** Programmatic ANSI-SQL generators for oracles of iterative / bit-twiddling
  * operators that have no compact hand-written SQL form. The generated SQL is
  * what the driver runs in DuckDB; the Spark side implements the identical
  * arithmetic so rounded outputs hash-match. */
object OracleSqlGen {

  /** Damped PageRank with dangling-mass redistribution, unrolled to a fixed
    * iteration count as chained CTEs. Matches [[graft.algo.PageRank.run]]
    * with `tol = 0.0, maxIter = iterations`: r0 = 1/n;
    * r_{k+1}(v) = (1-d)/n + d*dangling_k/n + d*sum_{u->v} r_k(u)/odeg(u).
    * Damping is written as (1 - (1-d)) so both engines parse the identical
    * decimal literal. Output: (vid BIGINT, rank DOUBLE rounded 6dp). */
  def pageRankUnrolled(edgesSql: String, iterations: Int, damping: Double): String = {
    // ::DOUBLE forces DuckDB to parse the literal as the same IEEE double
    // Scala uses (DuckDB bare decimals are DECIMAL-typed, which would round
    // (1-d) differently in the last ulp).
    val d = s"${damping}::DOUBLE"
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS ($edgesSql),
         | odeg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
         | v AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
         | nv AS (SELECT count(*)::DOUBLE AS n FROM v),
         | r0 AS (SELECT vid, 1.0/(SELECT n FROM nv) AS rank FROM v)""".stripMargin)
    for (k <- 0 until iterations) {
      sb.append(
        s""",
           | d$k AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r$k r LEFT JOIN odeg o ON r.vid = o.src WHERE o.src IS NULL),
           | c$k AS (SELECT e.dst AS vid, sum(r.rank / o.odeg) AS contrib
           |         FROM r$k r JOIN e ON r.vid = e.src JOIN odeg o ON e.src = o.src GROUP BY e.dst),
           | r${k + 1} AS (
           |   SELECT v.vid,
           |          (1.0::DOUBLE - $d)/(SELECT n FROM nv) + $d*(SELECT dm FROM d$k)/(SELECT n FROM nv)
           |          + $d*coalesce(c.contrib, 0) AS rank
           |   FROM v LEFT JOIN c$k c ON v.vid = c.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid::BIGINT AS vid, round(rank, 6) AS rank FROM r$iterations ORDER BY vid")
    sb.toString
  }

  /** Hex character -> int 0..15, both engines (ascii arithmetic, mirrors
    * the Spark side exactly). */
  def hexDigitSql(charExpr: String): String =
    s"(CASE WHEN ascii($charExpr) <= 57 THEN ascii($charExpr) - 48 ELSE ascii($charExpr) - 87 END)"

  /** SimHash over `bits` bits (bits <= 32, 4 per md5 hex char): bit j of
    * token t = (hexdigit(md5(t)[1 + j/4]) >> (j%4)) & 1; simhash bit j is 1
    * iff the sum over tokens of (2*bit - 1) is positive. Token set = distinct
    * whitespace tokens of `textCol` in table context `fromSql` keyed by
    * `keyCol`. Emits (key, simhash BIGINT). */
  def simHashSql(fromSql: String, keyCol: String, textCol: String, bits: Int): String = {
    val bitTerms = (0 until bits).map { j =>
      val c = s"substr(md5(tok), ${1 + j / 4}, 1)"
      val d = hexDigitSql(c)
      val bit = s"((($d) // ${1 << (j % 4)}) % 2)"
      s"(CASE WHEN sum(2*$bit - 1) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    s"""WITH toks AS (
       |  SELECT $keyCol AS key, unnest(string_split($textCol, ' ')) AS tok FROM ($fromSql)
       |), dtoks AS (SELECT DISTINCT key, tok FROM toks WHERE tok <> '')
       |SELECT key::BIGINT AS $keyCol, (${bitTerms.mkString(" + ")})::BIGINT AS simhash
       |FROM dtoks GROUP BY key ORDER BY $keyCol""".stripMargin
  }
}
