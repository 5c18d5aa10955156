package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import graft.fixtures.ReferenceOracles
import graft.queries.Tables

/** The flagship entry end to end: converged PageRank over the sf0.001
  * co-supplier graph. */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  /** Root paths of the file tables that the queries run by `body` scan. The
    * oracle reads the same table, so its location is observed from the
    * entry's own scans rather than restated here. */
  private def scannedRoots(body: => Unit): Set[String] = {
    val roots = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation => r.location.rootPaths.foreach(p => roots.add(p.toString))
            case _ =>
          }
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events are delivered asynchronously
      eventually(timeout(Span(30, Seconds))) { assert(!roots.isEmpty) }
    } finally spark.listenerManager.unregister(listener)
    roots.asScala.toSet
  }

  test("entry: ranks ordered by rank desc then vid, sum to 1 and match the scalar oracle") {
    var rows = Array.empty[(Long, Double)]
    val roots = scannedRoots {
      rows = SparkEntry.entry(spark).collect().map(r => (r.getLong(0), r.getDouble(1)))
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
