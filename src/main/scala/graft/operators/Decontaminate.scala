package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter benchmark decontamination — the 100 TB formulation of
  * the eval-overlap check (reference commits to QA/dedup stages:
  * /root/reference/docs/system-plan.md:23-27; the exact-join form is
  * catalog query q68).
  *
  * Why a Bloom filter: the exact formulation ships the benchmark
  * shingle SET to every executor (broadcast hash join). A large eval
  * suite is millions of distinct shingles — gigabytes as a hash
  * relation. The Bloom filter compresses membership to ~1.2 bytes per
  * item at 1% false-positive rate (one to two orders of magnitude
  * smaller), and `might_contain` is a codegen'd per-row predicate with
  * NO join: the corpus's exploded shingle stream is filtered at scan
  * speed, and only the ~contaminated sliver (true hits + fpp-bounded
  * noise) reaches the exact verification join. False negatives are
  * impossible by Bloom construction, so prefilter + exact verify is
  * EXACTLY the semantics of the exact join — which is what makes the
  * operator DuckDB-oracle-checkable (q77) despite the probabilistic
  * middle stage.
  *
  * Built on Spark's own runtime-filter machinery
  * (`BloomFilterAggregate` / `BloomFilterMightContain`, the expressions
  * `InjectRuntimeFilter` plants for shuffle pruning), not a custom
  * sketch: both sides hash with the same `xxhash64`, the aggregate
  * merges per-partition sketches (map-side combine), and the predicate
  * participates in whole-stage codegen.
  */
object Decontaminate {

  /** Serialized Bloom filter over one string column, built
    * distributed (per-partition sketches merged by the aggregate) and
    * collected as a single binary value. `expectedItems` sizes the
    * filter for the target false-positive rate: numBits =
    * ceil(-n·ln(fpp)/ln²2), the standard optimum. Spark caps numBits
    * at `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default
    * 8 MB ≈ 7 M items at 1%); raise that conf for larger eval suites.
    *
    * Returns None on an empty input (the aggregate yields NULL): no
    * shingles → nothing can be contaminated.
    */
  def buildBloom(values: DataFrame, valueCol: String,
      expectedItems: Long, fpp: Double = 0.01): Option[Array[Byte]] = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val hashed = new XxHash64(Seq(GraftColumnBridge.expression(col(valueCol))))
    val agg = GraftColumnBridge.column(
      new BloomFilterAggregate(hashed, Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())
    values.agg(agg.as("bloom")).head().get(0) match {
      case b: Array[Byte] => Some(b)
      case _              => None
    }
  }

  /** `might_contain(bloom, xxhash64(c))` as a Column — the codegen'd
    * membership predicate over a driver-collected Bloom filter. The
    * filter bytes ride as a plan literal, deserialized once per task.
    */
  def mightContain(bloom: Array[Byte], c: Column): Column =
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      new XxHash64(Seq(GraftColumnBridge.expression(c)))))

  /** The distinct non-degenerate token-`shingleSize`-gram set of a
    * corpus as a one-column `shingle` frame — the shared shape of both
    * decontamination sides.
    */
  def shingleSet(df: DataFrame, textCol: String = "text",
      shingleSize: Int = 4): DataFrame =
    df.select(
      explode(array_distinct(Dedup.shingles(col(textCol), shingleSize)))
        .as("shingle"))
      .filter(col("shingle") =!= "")
      .distinct()

  /** Documents sharing at least one token `shingleSize`-gram with the
    * benchmark corpus, with the distinct-overlap count — identical
    * output to the exact broadcast-join formulation, computed as Bloom
    * prefilter → exact verify. Returns (idCol, n_overlap), unsorted.
    *
    * `expectedItems` pre-sizes the filter; pass the (approximate)
    * distinct shingle count of the benchmark if known — otherwise it
    * is counted exactly (one aggregate job over the eval side, which
    * is small by definition), so the filter is sized tight rather
    * than from a loose token-count bound. Construction runs the eval
    * side twice up front (sizing count + sketch build) and once more
    * as the verify join's broadcast; at corpus scale all three are
    * noise against the corpus scan the Bloom stage protects.
    */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 4, fpp: Double = 0.01,
      expectedItems: Option[Long] = None): DataFrame = {
    val evalShingles = shingleSet(benchmark, textCol, shingleSize)
    val items = expectedItems.getOrElse(math.max(1L, evalShingles.count()))
    val corpusShingles = corpus
      .select(col(idCol),
        explode(array_distinct(Dedup.shingles(col(textCol), shingleSize)))
          .as("shingle"))
      .filter(col("shingle") =!= "")
    buildBloom(evalShingles, "shingle", items, fpp) match {
      case None => // empty benchmark: no contamination, empty result
        corpusShingles.select(col(idCol), lit(0L).as("n_overlap")).limit(0)
      case Some(bloom) =>
        corpusShingles
          .filter(mightContain(bloom, col("shingle")))
          // dedup AFTER the prefilter: array_distinct is per ROW, so a
          // corpus with duplicate ids (re-crawled revisions) would
          // inflate the overlap count without it — and placed here the
          // exchange only covers the fpp-bounded sliver, not the corpus
          .dropDuplicates(idCol, "shingle")
          // exact verify: the join input is the deduped sliver, so the
          // broadcast side only has to beat the SLIVER's size now;
          // count(1) suffices — pairs are unique post-dedup
          .join(broadcast(evalShingles), "shingle")
          .groupBy(idCol)
          .agg(count(lit(1)).as("n_overlap"))
    }
  }
}
