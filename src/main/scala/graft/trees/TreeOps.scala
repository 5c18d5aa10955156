package graft.trees

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed application of the per-graph tree kernels over a
  * transactional graph DB (graph_id-keyed edge/vertex tables): one small
  * graph per group, millions of groups in parallel — the Spark shape of the
  * reference's per-graph streaming loop (the `cstring` executable).
  * The only shuffle is the groupBy(graph_id). */
object TreeOps {

  /** Canonical string per graph (free-tree form, min over centers).
    * edges: (graph_id, src, dst); vertexLabels: (graph_id, vno, label). */
  def canonicalStrings(spark: SparkSession, edges: DataFrame, vertexLabels: DataFrame): DataFrame = {
    import spark.implicits._
    val e = edges.select(col("graph_id").cast("long"), col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long, Long)]
    val l = vertexLabels.select(col("graph_id").cast("long"), col("vno").cast("long"), col("label").cast("string"))
      .as[(Long, Long, String)]
    val eg = e.groupByKey(_._1).mapGroups { (gid, it) => gid -> it.map(t => (t._2, t._3)).toSeq }
    val lg = l.groupByKey(_._1).mapGroups { (gid, it) => gid -> it.map(t => t._2 -> t._3).toMap }
    eg.joinWith(lg, eg("_1") === lg("_1"), "left")
      .map { case ((gid, es), lab) =>
        val labels = Option(lab).map(_._2).getOrElse(Map.empty[Long, String])
        (gid, TreeKernels.canonicalString(es, labels))
      }
      .toDF("graph_id", "cstring")
  }
}
