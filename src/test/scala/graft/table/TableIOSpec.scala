package graft.table

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.{ActionLog, SparkTestBase}

class TableIOSpec extends AnyFunSuite with SparkTestBase {

  test("commit/readLatest round-trip with lineage and metrics") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tableio").toString
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val m1 = TableIO.commit(df1, root, iteration = 1, Map("delta" -> 0.5))
    assert(m1.snapshotId == 1 && m1.rows == 2)
    val df2 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val m2 = TableIO.commit(df2, root, iteration = 2, Map("delta" -> 0.1))
    assert(m2.snapshotId == 2 && m2.rows == 3)

    val (latest, back) = TableIO.readLatest(spark, root).get
    assert(latest.iteration == 2)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))

    val lin = TableIO.lineage(root)
    assert(lin.map(_.snapshotId) == Seq(1L, 2L))
    assert(lin.last.metrics("delta") == 0.1)
    assert(lin.forall(_.partitions.nonEmpty))
    assert(lin.map(m => m.partitions.map(_.rows).sum) == Seq(2L, 3L))
  }

  private def tempRoot(): String = java.nio.file.Files.createTempDirectory("graft-tableio").toString

  test("the manifest's partition stats are the written frame's, and describe the files on disk") {
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "cast(id % 7 as string) as v")
    val root = tempRoot()
    val m = TableIO.commit(df, root, iteration = 1)
    assert(m.partitions.size == 4 && m.rows == 1000)
    assert(m.partitions == TableIO.partitionStats(df))
    val back = TableIO.partitionStats(TableIO.readLatest(spark, root).get._2)
    def bag(ps: Seq[TableIO.PartitionStat]) = ps.map(p => (p.rows, p.checksum)).groupBy(identity).view.mapValues(_.size).toMap
    assert(bag(m.partitions) == bag(back))
    assert(TableIO.lineage(root) == Seq(m))
  }

  test("a commit is one SQL action") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    val root = tempRoot()
    val names = ActionLog.during(spark) { log =>
      TableIO.commit(df, root, iteration = 1)
      log.names
    }
    assert(names.size == 1, names)
  }

  test("empty frames commit with no partitions, AQE on and off") {
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType))))
    val filteredEmpty = spark.range(0, 100, 1, 4).toDF("id").where(col("id") < 0)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try for (adaptive <- Seq("true", "false"); df <- Seq(noPartitions, filteredEmpty)) {
      spark.conf.set("spark.sql.adaptive.enabled", adaptive)
      val t0 = System.nanoTime()
      val m = TableIO.commit(df, tempRoot(), iteration = 1)
      // the observation's wait is bounded at 5 minutes; an empty write must not lean on it
      assert((System.nanoTime() - t0) / 1e9 < 60, s"AQE $adaptive")
      assert(m.rows == 0 && m.partitions.isEmpty, s"AQE $adaptive: $m")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("multimodal stub decode plumbing: schema + determinism across partitionings") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, ""), (3L, "abc")).toDF("doc_id", "text")
    val wp = graft.multimodal.Multimodal.withBinaryPayload(docs, "text")
    val a = graft.multimodal.Multimodal.decodeMeta(wp.repartition(1)).collect().sortBy(_.getLong(0))
    val b = graft.multimodal.Multimodal.decodeMeta(wp.repartition(3)).collect().sortBy(_.getLong(0))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val r1 = a.head
    assert(r1.getLong(1) == 11L && r1.getLong(2) == 11L % 640 && r1.getLong(3) == (11L * 7) % 480)
    val frames = graft.multimodal.Multimodal.sampleFrames(wp, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(frames((1L, 0L)) && frames((1L, 4L)) && frames((1L, 8L))) // 11 % 16 = 11 frames
    assert(!frames.exists(_._1 == 2L)) // empty payload -> 0 frames
  }
}
