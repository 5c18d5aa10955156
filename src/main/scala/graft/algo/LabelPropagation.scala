package graft.algo

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps
import graft.run.Iterate

/** Label propagation, two modes (SURVEY.md §2.8.2):
  *
  *  1. WL-hash refinement — the reference's iterative relabeling is one
  *     Weisfeiler-Lehman round: new label = id of (own label, sorted neighbor
  *     labels) (reference `weisfeilerLehman.c:19-75`; the `wl` executable
  *     applies exactly one iteration, reference
  *     `executables/weisfeilerLehmanMain.c:101-106`). Distributed form: the
  *     signature string is built with `concat_ws(sort_array(collect_list))`
  *     and compressed with `xxhash64` instead of the reference's sequential
  *     trie dictionary (`searchTree.c:15-35`) — same partition refinement,
  *     different (stable) id space; tests compare partitions.
  *
  *  2. Majority-vote LP for community detection at web scale: synchronous
  *     updates, new label = most frequent neighbor label, deterministic
  *     tie-break by minimum label id.
  *
  * Scale design: both modes are one shuffle per round — scatter labels
  * across edges, `groupBy(dst)` aggregate — and run their rounds in
  * [[graft.run.Iterate]], each round's labels one checkpoint action.
  * `collect_list` of neighbor labels is bounded by max degree; for WL on
  * power-law graphs the signature of a hub is large, so the hash-combine
  * variant ([[wlRefineHashed]]) folds neighbor hashes with a commutative
  * (sum, bit_xor, count) triple instead of materializing the sorted list,
  * keeping partial aggregation map-side.
  */
object LabelPropagation {

  /** [[GraphOps.symmetrize]] hash-partitioned by `dst` (the key every round
    * joins labels on) with ONE exchange: the hash partitioning on `dst`
    * already satisfies the distinct's clustering, as in CC's `dedupe`, where
    * `symmetrize` followed by a repartition would shuffle on (src, dst) and
    * then again on `dst`. */
  private def symmetricEdges(edges: DataFrame, p: Int): DataFrame =
    GraphOps.bothDirections(edges).repartition(p, col("dst")).distinct()

  /** One WL refinement round over string labels: returns (vid, signature)
    * with the exact signature string `ownLabel:nbr1,nbr2,...` (sorted),
    * mirroring reference `getWLLabel` (`weisfeilerLehman.c:19-56`, qsort at
    * `:33`). SQL-oracle-friendly (no engine-specific hash). */
  def wlSignatures(spark: SparkSession, edges: DataFrame, labels: DataFrame): DataFrame =
    signaturesOver(GraphOps.symmetrize(edges), labels)

  /** [[wlSignatures]] over `sym`, which already holds both half-edges of
    * every edge once (symmetrizing it again would cost a distinct's
    * exchange per call). */
  private def signaturesOver(sym: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col(labels.columns(0)).cast("long").as("vid"), col(labels.columns(1)).cast("string").as("label"))
    val nbrLabels = sym
      .join(l.withColumnRenamed("vid", "dst"), "dst")
      .groupBy(col("src").as("vid"))
      .agg(concat_ws(",", sort_array(collect_list(col("label")))).as("nbrSig"))
    l.join(nbrLabels, Seq("vid"), "left")
      .select(col("vid"), concat(col("label"), lit(":"), coalesce(col("nbrSig"), lit(""))).as("signature"))
  }

  /** k WL rounds with hashed label compression; returns (vid, label LONG).
    * Matches the reference's refinement as a partition of the vertex set
    * (ids differ from the trie's insertion-order ids by a bijection). */
  def wlRefine(spark: SparkSession, edges: DataFrame, initialLabels: DataFrame, rounds: Int): DataFrame =
    wlRounds(spark, edges, initialLabels, rounds) { (sym, labels) =>
      signaturesOver(sym, labels).select(col("vid"), xxhash64(col("signature")).as("label"))
    }

  /** k WL rounds with COMMUTATIVE hash combination — the web-scale variant:
    * a hub's refinement state is a constant-size (sum, bit_xor, count) fold
    * of its neighbors' label hashes rather than an O(degree) sorted list, so
    * map-side partial aggregation stays effective under power-law skew and no
    * per-vertex array is ever materialized. Equivalence to [[wlRefine]] is
    * ONE-SIDED: multiset-equal neighbor labels always give identical
    * (sum, xor, count) triples, but distinct multisets can collide on all
    * three aggregates simultaneously (beyond ordinary 64-bit label-hash
    * collisions), merging WL classes that [[wlRefine]] keeps distinct —
    * callers needing exact refinement must use [[wlRefine]]. Tests compare
    * partitions on fixtures. */
  def wlRefineHashed(spark: SparkSession, edges: DataFrame, initialLabels: DataFrame, rounds: Int): DataFrame =
    wlRounds(spark, edges, initialLabels, rounds) { (sym, labels) =>
      val folded = sym
        .join(labels.withColumnRenamed("vid", "dst"), "dst")
        .select(col("src").as("vid"), xxhash64(col("label")).as("h"))
        // sum folds hashes reduced to 32 bits so the ANSI-checked long sum
        // cannot overflow below 2^31 neighbors (far above any real degree)
        .groupBy("vid")
        .agg(sum(pmod(col("h"), lit(1L << 32))).as("hsum"),
          expr("bit_xor(h)").as("hxor"), count(lit(1)).as("hcnt"))
      labels
        .join(folded, Seq("vid"), "left")
        .select(col("vid"), xxhash64(col("label"),
          coalesce(col("hsum"), lit(0L)), coalesce(col("hxor"), lit(0L)),
          coalesce(col("hcnt"), lit(0L))).as("label"))
    }

  /** The WL rounds of [[wlRefine]] and [[wlRefineHashed]]: hashed start
    * labels over the cached symmetric edges, then `rounds` times
    * `step(sym, labels)`. */
  private def wlRounds(spark: SparkSession, edges: DataFrame, initialLabels: DataFrame, rounds: Int)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val p = GraphOps.defaultParallelism(spark)
    val sym = symmetricEdges(edges, p).persist(StorageLevel.MEMORY_AND_DISK)
    val start = initialLabels
      .select(col(initialLabels.columns(0)).cast("long").as("vid"),
        xxhash64(col(initialLabels.columns(1)).cast("string")).as("label"))
      .repartition(p, col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    propagate(start, rounds, p, Seq(sym, start))(step(sym, _))
  }

  /** Majority-vote label propagation. Initial label = own vid unless given.
    * Synchronous; `rounds` fixed (community LP has no natural fixpoint).
    * Tie-break: (max count, then min label) via a single max(struct) — one
    * shuffle per round, skew-safe (partial agg on (dst,label) then on dst). */
  def majority(
      spark: SparkSession,
      edges: DataFrame,
      rounds: Int,
      initialLabels: Option[DataFrame] = None): DataFrame = {
    val p = GraphOps.defaultParallelism(spark)
    // The edge cache and the eager label materialization exist for
    // iteration REUSE; a single-round call (the oracle query) would pay the
    // persists and their materializing count without ever re-reading them,
    // so they are gated on rounds > 1 (round-6; the 5-round north-rule
    // bench path is unchanged).
    val iterate = rounds > 1
    def cached(df: DataFrame): DataFrame =
      if (iterate) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    val sym = cached(symmetricEdges(edges, p))
    val verts = cached(GraphOps.vertices(sym))
    val start = cached(initialLabels
      .map(df => df.select(col(df.columns(0)).cast("long").as("vid"), col(df.columns(1)).cast("long").as("label")))
      .getOrElse(verts.select(col("vid"), col("vid").as("label")))
      .repartition(p, col("vid")))
    propagate(start, rounds, p, if (iterate) Seq(sym, verts, start) else Nil) { labels =>
      val votes = sym
        .join(labels.withColumnRenamed("vid", "dst"), "dst")
        .groupBy(col("src").as("vid"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val winner = votes
        .groupBy("vid")
        .agg(max(struct(col("votes"), (-col("label")).as("negLabel"))).as("best"))
        .select(col("vid"), (-col("best.negLabel")).as("newLabel"))
      labels
        .join(winner, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("newLabel"), col("label")).as("label"))
    }
  }

  /** `rounds` rounds of `step` from the (vid, label) `start`, each round's
    * labels repartitioned by `vid` and checkpointed. `start` is counted
    * first if it is one of the `cached` frames, which are unpersisted when
    * this returns or throws. */
  private def propagate(start: DataFrame, rounds: Int, p: Int, cached: Seq[DataFrame])(
      step: DataFrame => DataFrame): DataFrame =
    try {
      if (cached.contains(start)) start.count()
      Iterate(start, 0, rounds) { labels =>
        (step(labels).repartition(p, col("vid")).localCheckpoint(true), Row.empty)
      }.state
    } finally cached.foreach(_.unpersist(false))
}
