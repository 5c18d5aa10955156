package graft.dedup

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.text.TextOps

/** Pluggable hashing for the dedup pipeline: the pipeline SHAPE (shingle ->
  * minhash -> band -> capped bucket join) is identical under either mode;
  * only the hash primitive changes.
  *
  *  - [[Md5Hashing]] (default): md5-as-string, so every step is
  *    reproducible in portable SQL — the DuckDB oracle mode.
  *  - [[XxHashing]]: 64-bit xxhash64 longs — the production fast path
  *    (no hex-string materialization, codegen'd long compares in the
  *    joins/aggregations).
  */
sealed trait DedupHashing {
  /** Per-token salted hash; minhash uses its ORDERING (any total order
    * works, the two modes just pick different permutations). */
  def tokenHash(c: Column, salt: Int): Column
  /** Hash of one band's minhash columns into a bucket key. */
  def bandHash(cols: Seq[Column]): Column
  /** Join key for a raw shingle string ([[Dedup.ngramJaccard]]'s inverted
    * index): identity in oracle mode, a 64-bit hash in production (the
    * index joins longs instead of long strings; 64-bit collisions merge
    * distinct shingles with probability ~n²/2⁶⁴ — negligible against the
    * approximation already accepted in the df cap). */
  def shingleKey(c: Column): Column
}

/** Oracle mode: portable md5 strings (DuckDB-reproducible). */
case object Md5Hashing extends DedupHashing {
  def tokenHash(c: Column, salt: Int): Column = md5(concat(lit(s"$salt:"), c))
  def bandHash(cols: Seq[Column]): Column = md5(concat_ws("|", cols: _*))
  def shingleKey(c: Column): Column = c
}

/** Production mode: xxhash64 longs (same pipeline, ~no string cost). */
case object XxHashing extends DedupHashing {
  def tokenHash(c: Column, salt: Int): Column = xxhash64(lit(salt), c)
  def bandHash(cols: Seq[Column]): Column = xxhash64(cols: _*)
  def shingleKey(c: Column): Column = xxhash64(c)
}

/** Deduplication operators for training-data pipelines, each in its
  * scalable Spark form:
  *
  *  - exact: content-hash groupBy (one shuffle on the hash).
  *  - MinHash + LSH: shingle -> per-permutation min-hash -> band -> bucket
  *    join; candidate pairs only ever meet inside a band bucket, so the
  *    quadratic blowup is confined to near-duplicate clusters.
  *  - SimHash: bit-vote fingerprint, hamming-adjacent buckets.
  *  - n-gram Jaccard: exact verification on LSH/shared-shingle candidates.
  *
  * Hashing is pluggable ([[DedupHashing]]): md5 strings by default so every
  * step has an engine-portable SQL oracle; pass [[XxHashing]] at production
  * scale — same shape, no hex-string materialization. */
object Dedup {

  /** Spread a compute-heavy scan across the session's parallelism when the
    * source yields fewer splits than cores (guide §2.5 input skew: a single
    * small parquet file is ONE scan partition, so the tokenize + per-token
    * hashing that precedes the first exchange would run on one core).
    * Conditional, so at production scale — where the corpus scan already
    * has thousands of splits — no extra shuffle of the raw text is paid. */
  private[graft] def fanOut(docs: DataFrame, keyCol: String): DataFrame = {
    val p = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (docs.rdd.getNumPartitions * 2 <= p) docs.repartition(p, col(keyCol)) else docs
  }

  /** Exact dedup: canonical representative (min key) per identical text.
    *
    * The content hash is deliberately NOT the 64-bit xxhash64 the
    * candidate-generation ops use in production mode: exact dedup asserts
    * EQUALITY, so a collision silently merges distinct documents, and at
    * web scale a single 64-bit hash has non-negligible birthday mass
    * (~1e-4 at 64M docs, ~0.3 at 10^10). md5's 128 bits keep that
    * probability negligible AND reproduce in the SQL oracle. For
    * production without md5's per-byte cost, [[exactXx]] groups on a
    * 128-bit pair of independently seeded xxhash64s — same plan shape,
    * same collision class. */
  def exact(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    exactOn(docs, keyCol, md5(col(textCol)).as("content_hash"))

  /** [[exact]] with a 128-bit xxhash64-pair content hash — the production
    * fast path (no 32-hex-char string materialization; two codegen'd
    * 64-bit hashes). One shuffle on the packed hash struct, identical
    * result set to [[exact]] short of a 2^-128-class collision.
    *
    * NULL-text rows are filtered explicitly: [[exact]] drops them as a
    * side effect of the NULL content hash never matching in the join,
    * but Spark's `xxhash64` passes its seed through unchanged on NULL
    * input, so without the filter every NULL-text doc would share one
    * (non-NULL) hash pair and be merged into a single bogus group. */
  def exactXx(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    exactOn(docs.where(col(textCol).isNotNull), keyCol,
      struct(xxhash64(lit(0), col(textCol)), xxhash64(lit(1), col(textCol))).as("content_hash"))

  private def exactOn(docs: DataFrame, keyCol: String, contentHash: Column): DataFrame = {
    val h = docs.select(col(keyCol).cast("long").as("key"), contentHash)
    val rep = h.groupBy("content_hash").agg(min("key").as("canonical"), count(lit(1)).as("group_size"))
    h.join(rep, "content_hash")
      .select(col("key").as(keyCol), col("canonical"), col("group_size"))
  }

  /** Per-document MinHash signature over distinct tokens: one column per
    * permutation, minhash_i = min over tokens of tokenHash(i, token).
    *
    * Under [[XxHashing]] the signature is built by the native one-pass
    * [[graft.functions.MinHashSignature]] expression — bitwise-equal per
    * slot to the per-column HOF formulation (ScalaTest-asserted) but with
    * ONE codegen'd scan of the token array instead of `numHashes`
    * interpreted `transform` passes; the signature build is the only step
    * of the pipeline that is linear in the full corpus, so this is the
    * production scan loop. The two projections are deliberate: Catalyst's
    * CollapseProject keeps the non-cheap signature expression in its own
    * projection, so it is evaluated once per row, not once per slot. */
  def minHashSignatures(docs: DataFrame, keyCol: String, textCol: String, numHashes: Int,
      hashing: DedupHashing = Md5Hashing): DataFrame = {
    val toks = array_distinct(TextOps.tokens(col(textCol)))
    hashing match {
      case XxHashing =>
        docs.select(col(keyCol).cast("long").as("key"),
            graft.functions.TextFunctions.minHashSignature(toks, numHashes).as("_sig"))
          .select((col("key") +:
            (0 until numHashes).map(i => col("_sig").getItem(i).as(s"mh$i"))): _*)
      case _ =>
        val sigs = (0 until numHashes).map { i =>
          array_min(transform(toks, t => hashing.tokenHash(t, i))).as(s"mh$i")
        }
        docs.select((col(keyCol).cast("long").as("key") +: sigs): _*)
    }
  }

  /** LSH candidate pairs: docs sharing at least one band (band = hash of
    * `rowsPerBand` consecutive minhashes). Returns (a, b, n_shared_bands).
    *
    * A band bucket of f documents inherently emits f²/2 candidates (true
    * duplicate clusters ARE quadratic in their own size), but a degenerate
    * key — e.g. every empty document collapsing to one signature — must not
    * be allowed to quietly explode the join: buckets larger than
    * `maxBucketSize` are DROPPED before the self-join (the same groupBy +
    * filter discipline as [[ngramJaccard]]'s `maxShingleDf`), making the
    * worst-case candidate volume an explicit `numBands * n/maxBucketSize *
    * maxBucketSize²` bound.
    *
    * The cap is NOT silent (round-4 ADVICE): the plan carries a
    * `CollectMetrics` node counting the buckets the cap dropped, and a
    * session-registered listener logs a warning with that count whenever an
    * action over this frame observes a non-zero drop (the count also lands
    * in `QueryExecution.observedMetrics` for programmatic consumers). Audit
    * WHICH buckets were dropped with [[oversizedLshBuckets]] — same inputs,
    * returns the dropped buckets themselves. */
  def lshCandidates(docs: DataFrame, keyCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, maxBucketSize: Long = 100000L,
      hashing: DedupHashing = Md5Hashing): DataFrame = {
    // The band rows feed FOUR plan branches (bucket sizes + the semi join +
    // both sides of the self-join); with the bucket filter broadcast there
    // is no exchange to reuse, so without the persist the whole signature
    // build (the corpus-linear scan) ran once per branch (measured: 4
    // parquet scans + 4 Generate/minhash subtrees in the round-5 plan).
    // The persisted frame is metadata-only — (key, band, bh) — never the
    // text (guide §8: decide on small rows).
    val exploded = lshBandRows(fanOut(docs, keyCol), keyCol, textCol, numHashes, rowsPerBand, hashing)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = observeDropped(docs.sparkSession,
      exploded.groupBy("band", "bh").agg(count(lit(1)).as("bn")), maxBucketSize)
    val small = sizes.where(col("bn") <= maxBucketSize).select("band", "bh")
    val kept = exploded.join(small, Seq("band", "bh"), "left_semi")
    val l = kept.as("l")
    val r = kept.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col("l.key") < col("r.key"))
      .groupBy(col("l.key").as("a"), col("r.key").as("b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The band buckets [[lshCandidates]]'s cap would drop at `maxBucketSize`:
    * (band, bh, bn) with bn > cap — the explicit audit surface for the
    * silent-cap rule (run it when a capped result needs accounting). */
  def oversizedLshBuckets(docs: DataFrame, keyCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, maxBucketSize: Long,
      hashing: DedupHashing = Md5Hashing): DataFrame =
    lshBandRows(fanOut(docs, keyCol), keyCol, textCol, numHashes, rowsPerBand, hashing)
      .groupBy("band", "bh").agg(count(lit(1)).as("bn"))
      .where(col("bn") > maxBucketSize)

  /** (key, band, bh) rows — the shared banding of [[lshCandidates]] and
    * [[oversizedLshBuckets]]. */
  private def lshBandRows(docs: DataFrame, keyCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, hashing: DedupHashing): DataFrame = {
    val sig = minHashSignatures(docs, keyCol, textCol, numHashes, hashing)
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), hashing.bandHash(cols).as("bh"))
    }
    sig.select(col("key"), explode(array(bands: _*)).as("bb"))
      .select(col("key"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Token-k-shingle Jaccard for every pair sharing >= 1 surviving shingle.
    * The shingle self-join IS the candidate generation (inverted index), so
    * shingles whose document frequency exceeds `maxShingleDf` are dropped
    * BEFORE the join — one stop-word shingle shared by f documents would
    * otherwise produce an f² bucket (the round-1/2 scale-killer). Jaccard is
    * then computed over the surviving shingle sets (both `common` and the
    * per-doc sizes), i.e. the standard df-capped n-gram Jaccard of web
    * dedup pipelines — self-consistent and oracle-reproducible. Under
    * [[XxHashing]] the inverted index keys 64-bit shingle hashes instead of
    * raw shingle strings (the production fast path). */
  def ngramJaccard(docs: DataFrame, keyCol: String, textCol: String, k: Int,
      maxShingleDf: Long = 10000L, hashing: DedupHashing = Md5Hashing): DataFrame = {
    // Persist discipline mirrors [[lshCandidates]]: the shingle explosion
    // (the corpus-linear scan) feeds the df-cap aggregate AND the semi
    // join, and the surviving inverted index feeds three branches (sizes +
    // both sides of the self-join) — without the persists each branch
    // recomputed the tokenize + shingle + hash pipeline from the scan.
    // Both frames carry (key, shingle-key) only, never the text.
    val sh0 = fanOut(docs, keyCol).select(col(keyCol).cast("long").as("key"),
        explode(array_distinct(TextOps.shingles(col(textCol), k))).as("sh_raw"))
      .select(col("key"), hashing.shingleKey(col("sh_raw")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // document-frequency cap: one extra groupBy on the shingle hash
    val rare = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxShingleDf)
      .select("sh")
    val sh = sh0.join(rare, Seq("sh"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy("key").agg(count(lit(1)).as("n"))
    val pairs = sh.as("l").join(sh.as("r"),
        col("l.sh") === col("r.sh") && col("l.key") < col("r.key"))
      .groupBy(col("l.key").as("a"), col("r.key").as("b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("key").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("key").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jaccard"))
  }

  /** SimHash fingerprint, computed SHUFFLE-FREE as one per-row pass by the
    * native [[graft.functions.SimHash]] expression (the operator is a pure
    * function of one document, so the historical explode-to-|tokens|-rows +
    * groupBy formulation paid a full-corpus row inflation and shuffle for
    * nothing — see `TextExpressionsSpec`'s twin-equality tests for the
    * retired shape). Semantics per mode:
    *
    *  - [[Md5Hashing]] (default, `bits` <= 32): md5-nibble votes so the SQL
    *    oracle reproduces it bit-for-bit — token bit j = nibble j/4 of
    *    md5(token), shifted j%4; sign of the +/-1 vote sum sets the
    *    fingerprint bit.
    *  - [[XxHashing]] (`bits` <= 64): vote j reads bit j of
    *    `xxhash64(token)` — no hex-string materialization, 64-bit
    *    fingerprints for hamming bucketing at production.
    *
    * Documents with no tokens (NULL/empty text) are absent from the result,
    * exactly as under the explode formulation. */
  def simHash(docs: DataFrame, keyCol: String, textCol: String, bits: Int,
      hashing: DedupHashing = Md5Hashing): DataFrame = {
    val mode = hashing match {
      case XxHashing =>
        require(bits <= 64, s"xx64 SimHash reads bits of a 64-bit hash: bits=$bits > 64")
        "xx64"
      case _ =>
        require(bits <= 32,
          s"md5-mode SimHash (the SQL-oracle formulation) caps at 32 bits: bits=$bits; pass hashing = XxHashing for up to 64")
        "md5"
    }
    docs.select(col(keyCol).cast("long").as("key"),
        graft.functions.TextFunctions.simHash(
          array_distinct(TextOps.tokens(col(textCol))), bits, mode).as("simhash"))
      .where(col("simhash").isNotNull)
  }

  // ---- no-silent-caps plumbing (round-4 ADVICE) ----

  /** Metric-name prefix for dropped-bucket observations (suffix-counted so
    * two capped frames can meet in one query without a CollectMetrics name
    * collision). */
  private[graft] val DroppedMetricPrefix = "graft_lsh_dropped"
  private val metricSeq = new AtomicLong
  /** Total warnings the audit listener has emitted (test-visible). */
  private[graft] val droppedBucketWarnings = new AtomicLong
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Attach a CollectMetrics node counting over-cap buckets to the
    * bucket-size frame, and lazily register (once per session) the listener
    * that turns a non-zero observation into a log warning. */
  private[graft] def observeDropped(spark: SparkSession, sizes: DataFrame,
      maxBucketSize: Long): DataFrame = {
    ensureAuditListener(spark)
    sizes.observe(s"${DroppedMetricPrefix}_${metricSeq.incrementAndGet()}",
      sum(when(col("bn") > maxBucketSize, 1L).otherwise(0L)).as("dropped_buckets"),
      coalesce(max(when(col("bn") > maxBucketSize, col("bn"))), lit(0L)).as("largest_dropped"),
      lit(maxBucketSize).as("max_bucket_size"))
  }

  private def ensureAuditListener(spark: SparkSession): Unit = synchronized {
    val flag = "spark.graft.lshAuditListener"
    if (!spark.conf.getOption(flag).contains("1")) {
      spark.conf.set(flag, "1")
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(DroppedMetricPrefix) && row.getAs[Long]("dropped_buckets") > 0) {
              droppedBucketWarnings.incrementAndGet()
              log.warn(s"graft LSH bucket cap dropped ${row.getAs[Long]("dropped_buckets")} " +
                s"band bucket(s) larger than ${row.getAs[Long]("max_bucket_size")} " +
                s"(largest ${row.getAs[Long]("largest_dropped")} rows); candidate pairs inside " +
                "them were NOT generated — audit with Dedup.oversizedLshBuckets / " +
                "Similarity.oversizedBandBuckets")
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      })
    }
  }
}
