package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** Minimal Iceberg-style table layer: atomic snapshot commits over Parquet
  * with a JSON commit manifest carrying per-partition lineage + metrics
  * (SURVEY.md §2.9, §7.0 — no Iceberg runtime jar ships in the sandbox, so
  * this reproduces the semantics the engine needs behind a small surface:
  * append snapshot, read latest snapshot, list lineage). An Iceberg-backed
  * implementation drops in behind the same methods when the jar exists.
  *
  * Layout under `root/`:
  *   data/snap-<id>/...parquet      snapshot data files
  *   manifest-<id>.json             per-snapshot manifest (committed last)
  *   LATEST                         atomically-replaced pointer file
  *
  * A commit is ONE Spark job: the manifest's per-partition stats are
  * observed on the frame as the write job writes it, never read back from
  * the written files. A manifest partition is therefore one non-empty write
  * task, which writes one data file. The observation sits directly under
  * the write, with no exchange between them, so it runs in the write's
  * result stage, where accumulator updates apply once per partition even
  * if a stage is retried: the stats count every row exactly once.
  */
object TableIO {

  final case class PartitionStat(partition: Int, rows: Long, checksum: Long)
  final case class Manifest(
      snapshotId: Long,
      iteration: Int,
      rows: Long,
      metrics: Map[String, Double],
      partitions: Seq[PartitionStat])

  private val PidCol = "_commit_pid"
  private val HashCol = "_commit_hash"

  /** `df` plus each row's partition id and the xxhash64 of its columns. */
  private def withRowTags(df: DataFrame): DataFrame = {
    require(!df.columns.exists(c => c.equalsIgnoreCase(PidCol) || c.equalsIgnoreCase(HashCol)),
      s"$PidCol and $HashCol are reserved column names")
    df.withColumn(PidCol, spark_partition_id()).withColumn(HashCol, xxhash64(df.columns.toSeq.map(col): _*))
  }

  /** Per-partition row counts + order-independent checksum of the row hashes
    * (bit_xor: commutative AND overflow-free under ANSI mode):
    * the "per-partition lineage + metrics" record the north rule requires. */
  def partitionStats(df: DataFrame): Seq[PartitionStat] =
    withRowTags(df)
      .groupBy(PidCol)
      .agg(count(lit(1)).as("rows"), bit_xor(col(HashCol)).as("checksum"))
      .collect()
      .map(r => PartitionStat(r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq
      .sortBy(_.partition)

  /** [[partitionStats]] as one aggregate without grouping, which is the only
    * kind `observe` takes: partition id -> (rows, bit_xor of row hashes). */
  private object StatsByPartition extends Aggregator[(Int, Long), Map[Int, (Long, Long)], Map[Int, (Long, Long)]] {
    def zero: Map[Int, (Long, Long)] = Map.empty
    def reduce(b: Map[Int, (Long, Long)], row: (Int, Long)): Map[Int, (Long, Long)] = add(b, row._1, 1L, row._2)
    def merge(a: Map[Int, (Long, Long)], b: Map[Int, (Long, Long)]): Map[Int, (Long, Long)] =
      b.foldLeft(a) { case (m, (pid, (rows, xor))) => add(m, pid, rows, xor) }
    def finish(b: Map[Int, (Long, Long)]): Map[Int, (Long, Long)] = b
    def bufferEncoder: Encoder[Map[Int, (Long, Long)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[Int, (Long, Long)]] = ExpressionEncoder()
    private def add(m: Map[Int, (Long, Long)], pid: Int, rows: Long, xor: Long) = {
      val (r0, x0) = m.getOrElse(pid, (0L, 0L))
      m.updated(pid, (r0 + rows, x0 ^ xor))
    }
  }
  private val statsByPartition = udaf(StatsByPartition, ExpressionEncoder[(Int, Long)]())

  /** Write `df` as a new snapshot; the manifest is written after the data and
    * the LATEST pointer is swapped atomically, so readers never observe a
    * half-written snapshot (the Iceberg commit protocol in miniature). */
  def commit(df: DataFrame, root: String, iteration: Int, metrics: Map[String, Double] = Map.empty): Manifest = {
    val dir = Paths.get(root)
    Files.createDirectories(dir.resolve("data"))
    val snapId = latestSnapshotId(root).getOrElse(0L) + 1L
    val dataPath = dir.resolve("data").resolve(s"snap-$snapId")
    val (_, observed) = GraphOps.withObservation(withRowTags(df), Seq(statsByPartition(col(PidCol), col(HashCol)))) {
      _.drop(PidCol, HashCol).write.mode("overwrite").parquet(dataPath.toString)
    }
    val stats = observed.getMap[Int, Row](0).toSeq
      .map { case (pid, s) => PartitionStat(pid, s.getLong(0), s.getLong(1)) }
      .sortBy(_.partition)
    val m = Manifest(snapId, iteration, stats.map(_.rows).sum, metrics, stats)
    Files.write(dir.resolve(s"manifest-$snapId.json"), renderManifest(m).getBytes(StandardCharsets.UTF_8))
    val tmp = dir.resolve("LATEST.tmp")
    Files.write(tmp, snapId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve("LATEST"), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    m
  }

  def latestSnapshotId(root: String): Option[Long] = {
    val p = Paths.get(root, "LATEST")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong) else None
  }

  def readLatest(spark: SparkSession, root: String): Option[(Manifest, DataFrame)] =
    latestSnapshotId(root).map { id =>
      val m = readManifest(Paths.get(root, s"manifest-$id.json").toString)
      (m, spark.read.parquet(Paths.get(root, "data", s"snap-$id").toString))
    }

  /** All committed manifests, oldest first — the lineage listing. */
  def lineage(root: String): Seq[Manifest] = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) return Seq.empty
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("manifest-"))
      .map(p => readManifest(p.toString))
      .toSeq
      .sortBy(_.snapshotId)
  }

  // --- tiny hand-rolled JSON (no extra deps; schema is fixed and flat) ---

  private def renderManifest(m: Manifest): String = {
    val metrics = m.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val parts = m.partitions
      .map(p => s"""{"partition":${p.partition},"rows":${p.rows},"checksum":${p.checksum}}""")
      .mkString("[", ",", "]")
    s"""{"snapshotId":${m.snapshotId},"iteration":${m.iteration},"rows":${m.rows},"metrics":$metrics,"partitions":$parts}"""
  }

  private[table] def readManifest(path: String): Manifest = {
    val s = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    def longField(name: String): Long =
      s"""\"$name\":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
    val metrics = """"metrics":\{([^}]*)\}""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val metricMap = metrics.split(",").filter(_.contains(":")).map { kv =>
      val Array(k, v) = kv.split(":", 2)
      k.replaceAll("\"", "") -> v.toDouble
    }.toMap
    val partRe = """\{"partition":(-?\d+),"rows":(-?\d+),"checksum":(-?\d+)\}""".r
    val parts = partRe.findAllMatchIn(s)
      .map(m0 => PartitionStat(m0.group(1).toInt, m0.group(2).toLong, m0.group(3).toLong)).toSeq
    Manifest(longField("snapshotId"), longField("iteration").toInt, longField("rows"), metricMap, parts)
  }
}
