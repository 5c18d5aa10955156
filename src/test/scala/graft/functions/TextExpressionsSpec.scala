package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkTestBase

class TextExpressionsSpec extends AnyFunSuite with SparkTestBase {

  private val N = 8

  /** The per-column HOF twin the expression must match bitwise:
    * mh_i = array_min(transform(toks, t => xxhash64(lit(i), t))). */
  private def hofCols(toks: org.apache.spark.sql.Column) =
    (0 until N).map(i => array_min(transform(toks, t => xxhash64(lit(i), t))).as(s"hof$i"))

  test("native signature is bitwise-identical to the per-column xxhash64 HOF formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = Seq.fill(48)(Seq.fill(1 + rnd.nextInt(30))(
      rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)) :+
      Seq("", "héllo wörld", "日本語テキスト", "a\tb\nc", "😀emoji")
    val df = docs.toDF("toks")
    val sig = TextFunctions.minHashSignature(col("toks"), N).as("sig")
    val rows = df.select((sig +: hofCols(col("toks"))): _*).collect()
    rows.foreach { r =>
      val native = r.getSeq[Long](0)
      (0 until N).foreach { i =>
        assert(native(i) == r.getLong(1 + i), s"slot $i of ${r.getSeq[Long](0)}")
      }
    }
  }

  test("NULL token element contributes the salt-only hash, exactly as in the twin") {
    val r = spark.sql(
      s"""SELECT graft_minhash(array('x', cast(null AS string)), $N) AS sig,
         |       ${(0 until N).map(i =>
               s"least(xxhash64($i, 'x'), xxhash64($i)) AS hof$i").mkString(", ")}
         |""".stripMargin).head()
    val native = r.getSeq[Long](0)
    (0 until N).foreach(i => assert(native(i) == r.getLong(1 + i), s"slot $i"))
  }

  test("NULL on empty or NULL token array (the twin's array_min(empty) is NULL per slot)") {
    val r = spark.sql(
      s"""SELECT graft_minhash(cast(array() AS array<string>), $N) AS empty,
         |       graft_minhash(cast(null AS array<string>), $N)   AS nul,
         |       graft_minhash(array('a'), $N)[0]                 AS ok
         |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && !r.isNullAt(2))
  }

  test("interpreted eval path agrees with codegen") {
    val toks = Literal.create(
      new GenericArrayData(Array[Any](UTF8String.fromString("alpha"), UTF8String.fromString("beta"))),
      ArrayType(StringType))
    val interp = MinHashSignature(toks, Literal(N)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    import spark.implicits._
    val viaPlan = Seq(Seq("alpha", "beta")).toDF("toks")
      .select(TextFunctions.minHashSignature(col("toks"), N)).head().getSeq[Long](0)
    (0 until N).foreach(i => assert(interp(i) == viaPlan(i), s"slot $i"))
  }

  test("the signature build runs inside WholeStageCodegen (the HOF twin cannot)") {
    val df = spark.range(64)
      .select(split(concat(lit("tok"), col("id"), lit(" tok"), col("id") * 7), " ").as("toks"))
      .select(TextFunctions.minHashSignature(col("toks"), N).as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(df.where(size(col("sig")) === N).count() == 64)
  }

  test("Dedup's native path evaluates the signature ONCE per row, not once per slot") {
    // the pipeline splits sig-build and slot-extraction into two
    // projections; CollapseProject must NOT merge them (that would inline
    // the non-cheap expression into every getItem) — assert exactly one
    // graft_minhash in the optimized plan. spark.range (not a local Seq) so
    // the optimizer can't constant-fold the whole query to a LocalRelation.
    val docs = spark.range(16).select(col("id").as("doc_id"),
      concat(lit("tok"), col("id"), lit(" tok"), col("id") * 3).as("text"))
    val df = graft.dedup.Dedup.minHashSignatures(docs, "doc_id", "text", 8, graft.dedup.XxHashing)
    val optimized = df.queryExecution.optimizedPlan.toString
    val occurrences = "graft_minhash".r.findAllIn(optimized).size
    assert(occurrences == 1, s"expected 1 graft_minhash, got $occurrences in:\n$optimized")
  }

  // ---- SimHash ----

  /** The retired explode/groupBy md5 formulation of Dedup.simHash (pre
    * native expression) — the twin the md5 mode must match bitwise: explode
    * to |tokens| rows, 2*bits vote columns, shuffle + groupBy back to one
    * row per document. Expects doc_id/text columns. */
  private def simHashExplodeTwin(docs: org.apache.spark.sql.DataFrame, bits: Int) = {
    val tok = docs.select(col("doc_id").cast("long").as("key"),
      explode(array_distinct(graft.text.TextOps.tokens(col("text")))).as("tok"))
    val voteCols = (0 until bits).map { j =>
      val c = ascii(substring(md5(col("tok")), 1 + j / 4, 1))
      val nibble = when(c <= 57, c - 48).otherwise(c - 87)
      val bit = shiftright(nibble.cast("int"), j % 4).bitwiseAND(lit(1))
      (bit * 2 - 1).cast("long").as(s"v$j")
    }
    val votes = tok.select(col("key") +: voteCols: _*).groupBy("key")
      .agg((0 until bits).map(j => sum(col(s"v$j")).as(s"s$j")).head,
        (0 until bits).map(j => sum(col(s"v$j")).as(s"s$j")).tail: _*)
    val hash = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("key"), hash.cast("long").as("simhash"))
  }

  private def randomDocs(seed: Int, n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    ((1 to n).map(i => (i.toLong,
      Seq.fill(rnd.nextInt(25))(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" "))) :+
      (99L, "héllo wörld 日本語 emoji😀 a a a") :+ (100L, "") :+ (101L, "   ")).toDF("doc_id", "text")
  }

  test("native md5 SimHash equals the retired explode/groupBy formulation bitwise (incl. empty docs absent)") {
    val docs = randomDocs(7, 40)
    val native = graft.dedup.Dedup.simHash(docs, "doc_id", "text", bits = 16)
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val twin = simHashExplodeTwin(docs, bits = 16)
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(native == twin)
    // the all-whitespace and empty docs tokenize to nothing -> absent in BOTH
    assert(!native.exists(p => p._1 == 100L || p._1 == 101L))
  }

  test("xx64 SimHash votes read bits of xxhash64(token): matches an explode twin on Spark's own hash") {
    val bits = 64
    val docs = randomDocs(13, 30)
    val native = graft.dedup.Dedup.simHash(docs, "doc_id", "text", bits,
        hashing = graft.dedup.XxHashing)
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val tok = docs.select(col("doc_id").cast("long").as("key"),
      explode(array_distinct(graft.text.TextOps.tokens(col("text")))).as("tok"))
    val voteCols = (0 until bits).map { j =>
      (shiftright(xxhash64(col("tok")), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j")
    }
    val votes = tok.select(col("key") +: voteCols: _*).groupBy("key")
      .agg((0 until bits).map(j => sum(col(s"v$j")).as(s"s$j")).head,
        (0 until bits).map(j => sum(col(s"v$j")).as(s"s$j")).tail: _*)
    val hash = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val twin = votes.select(col("key"), hash.cast("long").as("simhash"))
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(native == twin)
  }

  test("SimHash NULL semantics: empty/NULL array NULL; all-NULL elements vote nothing (0)") {
    val r = spark.sql(
      """SELECT graft_simhash(cast(array() AS array<string>), 16, 'md5') AS empty,
        |       graft_simhash(cast(null AS array<string>), 16, 'md5')    AS nul,
        |       graft_simhash(array(cast(null AS string)), 16, 'md5')    AS allnull,
        |       graft_simhash(array('x'), 16, 'md5')                     AS ok
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getLong(2) == 0L) // non-empty array, zero votes -> all bits 0
    assert(!r.isNullAt(3))
  }

  test("Dedup.simHash is shuffle-free (no Exchange) and inside WholeStageCodegen") {
    val docs = spark.range(64).select(col("id").as("doc_id"),
      concat(lit("tok"), col("id"), lit(" tok"), col("id") * 3).as("text"))
    val df = graft.dedup.Dedup.simHash(docs, "doc_id", "text", bits = 16)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"), physical)
    assert(physical.contains("*(1)"), physical)
    assert(df.count() == 64)
  }

  test("SimHash rejects bad mode and out-of-range bits per mode") {
    val badMode = intercept[Exception] {
      spark.sql("SELECT graft_simhash(array('a'), 16, 'sha1')").collect()
    }
    assert(badMode.getMessage.contains("graft_simhash"), badMode.getMessage)
    val md5Over = intercept[Exception] {
      spark.sql("SELECT graft_simhash(array('a'), 33, 'md5')").collect()
    }
    assert(md5Over.getMessage.contains("graft_simhash"), md5Over.getMessage)
    // 33..64 is legal in xx64 mode
    assert(!spark.sql("SELECT graft_simhash(array('a'), 64, 'xx64') AS h").head().isNullAt(0))
  }

  test("rejects non-foldable or non-positive numHashes and wrong input types") {
    import spark.implicits._
    val df = Seq(Seq("a")).toDF("toks")
    val bad = intercept[Exception] {
      df.select(TextFunctions.minHashSignature(col("toks"), 0)).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("positive"), bad.getMessage)
    val wrongType = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(1, 2), 4)").collect()
    }
    assert(wrongType.getMessage.contains("graft_minhash"), wrongType.getMessage)
  }
}
