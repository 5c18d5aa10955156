package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.ReferenceOracles
import graft.queries.Tables

/** The flagship entry end to end: converged PageRank over the sf0.001
  * co-supplier graph. */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  /** Root paths of the file tables that the logged queries scan. The oracle
    * reads the same table, so its location is observed from the entry's own
    * scans rather than restated here. */
  private def scannedRoots(log: ActionLog): Set[String] =
    log.entries.flatMap { case (_, qe) =>
      qe.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
    }.toSet

  test("entry: ranks ordered by rank desc then vid, sum to 1 and match the scalar oracle") {
    val (rows, roots) = ActionLog.during(spark) { log =>
      (SparkEntry.entry(spark).collect().map(r => (r.getLong(0), r.getDouble(1))), scannedRoots(log))
    }
    assert(rows.nonEmpty)
    rows.sliding(2).foreach { case Array((v1, r1), (v2, r2)) =>
      assert(r1 > r2 || (r1 == r2 && v1 < v2), s"($v1, $r1) before ($v2, $r2)")
    }
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)

    assert(roots.size == 1 && roots.head.endsWith("/lineitem.parquet"), roots)
    val sfDir = new org.apache.hadoop.fs.Path(roots.head).getParent.toString
    val edges = Tables.coSupplierEdges(spark, sfDir)
      .select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = ReferenceOracles.pageRankScalar(edges)
    val got = rows.toMap
    assert(got.keySet == want.keySet)
    for ((v, w) <- want) assert(math.abs(got(v) - w) < 1e-6, s"vertex $v: got ${got(v)} want $w")
  }
}
