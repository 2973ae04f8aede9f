package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.KmvMinKAgg

/** Cross-corpus cardinality algebra over KMV (theta-style) distinct
  * sketches: "how many of crawl B's documents are already in crawl A /
  * how many are new / how big is the union" WITHOUT a join between the
  * corpora — at 100 TB the corpora never meet in an exchange; each is
  * reduced to k longs (map-side, via [[KmvMinKAgg]]) and the set
  * algebra runs on the sketches. This is the capability HLL
  * fundamentally lacks (HLL union is sound but intersection via
  * inclusion–exclusion amplifies error); KMV supports ∩/∖ natively by
  * thresholding both sketches at a COMMON theta (Beyer et al. 2007).
  *
  * Everything is deterministic and exactly SQL-replayable (the full
  * hash-oracle standard, q220): the hash is the first 15 hex chars of
  * md5 read as a 60-bit integer — identical in Spark (`conv`) and
  * DuckDB (hex-digit positional sum, the q205 md5-bits pattern) — and
  * every estimate is integer compares plus one IEEE double division.
  *
  * Estimator law (k-th smallest of n uniform draws on [0, 2⁶⁰)):
  *  - distinct:   n̂ = ⌊(k−1)·2⁶⁰ / θ⌋ with θ = the sketch's k-th value
  *                (EXACT `n̂ = |sketch|` while the group holds < k
  *                distinct keys — "exact mode").
  *  - set ops:    threshold both sketches at θ = min(θ_A, θ_B); every
  *                retained hash is a uniform sample of the union at
  *                rate θ/2⁶⁰, so ∩/∪ counts below θ scale by 2⁶⁰/θ.
  *  - |B ∖ A| = union − A; Jaccard = common/unionBelow (sample-exact).
  */
object CorpusOverlap {

  /** 2⁶⁰ — the hash space size; exactly representable as a Double
    * AND as a Long (sentinel theta for exact-mode sketches). */
  val HashSpace: Long = 1L << 60

  /** 60-bit uniform hash of a key: first 15 hex chars of md5, read
    * base-16. Engine-internal seeds would break oracle replay (the
    * q44 MinHash lesson); md5 renders identically everywhere. */
  def kmvHash(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")

  /** Per-corpus mergeable sketch unit: (corpus, n_rows, kmv).
    * Null keys are dropped here (primitive-long UDAF input reads null
    * as 0 — KmvMinKAgg scaladoc). */
  def kmvSketches(df: DataFrame, corpusCol: String, key: Column,
      k: Int): DataFrame =
    df.filter(key.isNotNull)
      .groupBy(col(corpusCol))
      .agg(count(lit(1)).as("n_rows"),
        KmvMinKAgg.kmv_sketch(k)(kmvHash(key)).as("kmv"))

  /** Exclusive theta of one sketch: its k-th (largest retained) value,
    * or the 2⁶⁰ sentinel while in exact mode. Long, so membership
    * compares stay in integers. */
  def kmvTheta(kmv: Column, k: Int): Column =
    when(size(kmv) < k, lit(HashSpace)).otherwise(element_at(kmv, k))

  /** Distinct-count estimate of one sketch (exact below k). */
  def kmvEstimate(kmv: Column, k: Int): Column =
    when(size(kmv) < k, size(kmv).cast("long"))
      .otherwise(floor(lit((k - 1).toDouble) * lit(HashSpace.toDouble)
        / element_at(kmv, k).cast("double")).cast("long"))

  /** Scale a below-theta sample count back to the full hash space:
    * ⌊c·2⁶⁰/θ⌋ (the identity c when θ is the exact-mode sentinel). */
  def scaleByTheta(c: Column, theta: Column): Column =
    floor(c.cast("double") * lit(HashSpace.toDouble)
      / theta.cast("double")).cast("long")

  /** Pair two named corpora out of a sketch frame ([[kmvSketches]]'
    * shape) and append the overlap card: the one-row (akmv, bkmv)
    * cross of the two sketch rows fed to [[overlapColumns]]. A label
    * matching no corpus yields an empty relation (filter semantics). */
  def overlapPair(sketches: DataFrame, corpusCol: String,
      a: String, b: String, k: Int): DataFrame = {
    val ab = sketches.filter(col(corpusCol) === a).select(col("kmv").as("akmv"))
      .crossJoin(sketches.filter(col(corpusCol) === b).select(col("kmv").as("bkmv")))
    overlapColumns(ab, col("akmv"), col("bkmv"), k)
  }

  /** Pairwise overlap card for two sketch ROWS (columns `akmv`/`bkmv`
    * already joined side by side): appends theta, common/union sample
    * counts, and the ∩/∪/∖/Jaccard estimates. k-sized array work only. */
  def overlapColumns(df: DataFrame, akmv: Column, bkmv: Column,
      k: Int): DataFrame = {
    val theta = least(kmvTheta(akmv, k), kmvTheta(bkmv, k))
    df.withColumn("theta", theta)
      .withColumn("common_below",
        size(filter(array_intersect(akmv, bkmv), h => h < col("theta"))).cast("long"))
      .withColumn("union_below",
        size(filter(array_union(akmv, bkmv), h => h < col("theta"))).cast("long"))
      .withColumn("est_a", kmvEstimate(akmv, k))
      .withColumn("est_b", kmvEstimate(bkmv, k))
      .withColumn("est_inter", scaleByTheta(col("common_below"), col("theta")))
      .withColumn("est_union", scaleByTheta(col("union_below"), col("theta")))
      .withColumn("est_b_new", greatest(lit(0L), col("est_union") - col("est_a")))
      .withColumn("jaccard_e6",
        when(col("union_below") > 0,
          floor(col("common_below").cast("double") * lit(1e6)
            / col("union_below").cast("double")).cast("long"))
          .otherwise(lit(0L)))
  }
}
