package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level data-quality profiling — the "ANALYZE"-style QA pass
  * a pipeline runs on every new table drop before admitting it (the
  * reference's QA/metrics stage, `docs/system-plan.md:26`, recast at
  * column granularity: row/null/distinct counts and value ranges).
  *
  * One aggregation over one scan produces every per-column statistic;
  * an inline-posexplode of per-column structs then unpivots the single
  * result row to one row per column. Numeric ranges are floor-scaled
  * to e2 integers so the output is hash-stable across engines.
  *
  * Internal aggregate aliases are INDEX-based (`__c0__nnull`), and the
  * user-facing column name only ever enters the plan as a `lit(...)`
  * value — no caller identifier is ever spliced into a SQL string, so
  * names containing quotes, backticks, or dots cannot break the
  * expression or inject SQL (the r7 ADVICE hazard of the old
  * `expr("stack(... '$c' ...)")` form).
  *
  * Scale shape: a single pass — the N exact `count(DISTINCT)`s share
  * one scan via Expand (N+1 tagged copies of the projected columns
  * into one shuffle). Exact distincts are the audit-grade form;
  * at 100 TB swap in `approx_count_distinct` (q61's ε-bounded HLL
  * contract) for the routine runs — same operator shape, no Expand.
  */
object Profiling {

  // ---- mergeable-sketch cardinality maintenance (q133) ---------------

  /** Per-group Datasketches-HLL sketch + row count of one ingest wave:
    * the MERGEABLE unit an incremental pipeline persists so "how many
    * unique documents per language" never needs a corpus rescan — each
    * new wave contributes one tiny (group, n, sketch-binary) table and
    * [[mergeSketches]] folds it in. HLL union is register-wise max
    * on promoted registers, but ESTIMATES are not split-invariant
    * around the coupon/dense promotion boundary (measured at ~700
    * keys: union-of-%3, union-of-%2, and the raw sketch gave
    * 702/703/707 for 702 exact keys — each path promotes at a
    * different point). q133 therefore pins the DURABLE contracts:
    * the folded estimate stays within a 2 % representation-noise
    * band of the whole-corpus sketch (`merge_consistent`) and within
    * the lgK=12 ±5 % accuracy band of the exact count (`est_ok`,
    * the q61/q107 ε-bound pattern).
    */
  def groupSketches(df: DataFrame, groupCol: String, key: Column,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), hll_sketch_agg(key, lit(lgK)).as("hll"))

  /** Fold wave sketch tables into one: counts add, sketches union.
    * Group cardinality bounds every frame — this is a sketch-store
    * maintenance op, never corpus-sized. */
  def mergeSketches(groupCol: String, waves: Seq[DataFrame]): DataFrame = {
    require(waves.nonEmpty, "need at least one wave")
    waves.reduce(_ unionByName _)
      .groupBy(col(groupCol))
      .agg(sum("n_docs").as("n_docs"), hll_union_agg(col("hll")).as("hll"))
  }

  // ---- mergeable quantile-histogram maintenance (q142) ---------------

  /** Integer-exact log-scale histogram bin of a positive integer value
    * (cents): `bin = msb·16 + sub` where `msb = floor(log2(v))` and
    * `sub` is the next 4 bits below the leading bit. Values < 16 bin
    * exactly; larger values land in bins of relative width ≤ 1/16, so
    * a quantile read back as its bin's LOWER bound is within 1/16
    * relative error of the true order statistic — the HDR-histogram
    * binning law, in pure integer/exactly-replayable arithmetic.
    *
    * `floor(log2(v))` on a double is exact for v ≤ ~2⁴⁰ (integers in
    * that range are exactly representable and no log2 result rounds
    * across an integer boundary for non-powers-of-two); the e2-scaled
    * money domain this profiles sits far below that. DuckDB evaluates
    * the identical IEEE expression, which is what makes q142 a full
    * hash oracle rather than a contract oracle.
    */
  def logBin(v: Column): Column = {
    // column-valued shifts via exact power-of-two division (IEEE
    // division by 2^s is exponent arithmetic — exact), because the
    // shiftright() builtin only takes a literal shift amount
    val d = v.cast("double")
    val msb = floor(log2(d)).cast("long")
    val shift = greatest(msb - 4, lit(0L)).cast("double")
    val shifted = floor(d / pow(lit(2.0), shift)).cast("long")
    msb * 16 + shifted.bitwiseAND(15)
  }

  /** Lower bound (same unit as the binned value) of a [[logBin]] bin —
    * the deterministic quantile-estimate read-out. */
  def binLowerBound(bin: Column): Column = {
    val msb = floor(bin / 16.0).cast("long")
    val sub = bin % 16
    when(msb < 4, sub)
      .otherwise((sub + 16) * pow(lit(2.0), (msb - 4).cast("double")).cast("long"))
  }

  /** One ingest wave's mergeable quantile sketch: (bin, cnt). Counts
    * add under union, so merge(waves) EQUALS the whole-corpus sketch
    * exactly — the quantile counterpart of [[groupSketches]]'s HLL
    * unit. A wave sketch is ≤ |bin space| rows (a few hundred for any
    * money-like domain) regardless of wave size.
    */
  def histSketch(df: DataFrame, valueCents: Column): DataFrame =
    df.select(logBin(valueCents).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))

  /** Fold wave sketches: counts add per bin, so the fold EQUALS the
    * sketch of the union. q142 builds each wave's [[histSketch]] from
    * its own scan and folds the four inline: on local[N] the wave
    * scans run concurrently on idle cores, which measured faster (r15,
    * r16) than one fused (wave, bin) pass behind a checkpoint barrier.
    * Sketch-store maintenance, never corpus-sized. */
  def mergeHists(waves: Seq[DataFrame]): DataFrame = {
    require(waves.nonEmpty, "need at least one wave")
    waves.reduce(_ unionByName _)
      .groupBy("bin").agg(sum("cnt").as("cnt"))
  }

  /** Quantile estimates from a merged histogram: for each q (percent),
    * rank `r = ceil(q·N/100)` (the 1-based discrete quantile), the
    * smallest bin whose cumulative count reaches r, read out as the
    * bin's lower bound. The cumulative window runs over the BIN SPACE
    * (bounded by construction — |bins| ≈ 16·log2(max), not corpus- or
    * distinct-value-sized), so the unpartitioned window is safe at any
    * corpus scale.
    */
  def histQuantiles(hist: DataFrame, qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100), "qs in 1..100")
    val n = hist.agg(sum("cnt").as("n"))
    val cum = hist.withColumn("cm",
      sum("cnt").over(org.apache.spark.sql.expressions.Window
        .orderBy("bin").rowsBetween(Long.MinValue, 0)))
    val ranks = n.select(explode(lit(qs.toArray)).as("q"), col("n"))
      .select(col("q").cast("long").as("q"),
        expr("(q * n + 99) div 100").as("rk"), col("n"))
    ranks.join(cum, col("cm") >= col("rk"))
      .groupBy("q", "rk", "n").agg(min("bin").as("bin"))
      .select(col("q"), col("n").as("n_total"),
        binLowerBound(col("bin")).cast("long").as("est_cents"))
  }

  // ---- declarative data-quality expectations (q153) ------------------

  /** One data-quality expectation over a column. Kinds:
    *  - `complete`: metric = null count, passes at 0;
    *  - `unique`: metric = rows minus distinct values (duplicate
    *    surplus, nulls counting as one value), passes at 0;
    *  - `between`: metric = count of non-null values outside
    *    [lo, hi] (inclusive, compared on the value cast to long),
    *    passes at 0.
    */
  final case class Expectation(rule: String, column: String,
    lo: Long = Long.MinValue, hi: Long = Long.MaxValue)

  /** Evaluate a declarative expectation suite in ONE aggregate pass
    * over ONE scan (the Deequ-style admission gate, reduced to exact
    * counts): every rule compiles to a conditional aggregate, the
    * single result row unpivots to one row per rule — the
    * numericProfile shape. Returns (rule, column, metric, pass)
    * ordered by (rule, column). `unique` rules use exact
    * count(DISTINCT) (audit grade; they share the scan via Expand —
    * swap to approx for routine runs, the q104/q107 trade).
    *
    * Internal aliases are index-based and the user-facing names only
    * enter as `lit(...)` values — the q104 injection-hazard rule.
    */
  def expectations(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "need at least one expectation")
    require(rules.forall(r => Seq("complete", "unique", "between").contains(r.rule)),
      "rule kinds: complete | unique | between")
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      val c = col(r.column)
      (r.rule match {
        case "complete" => sum(when(c.isNull, 1L).otherwise(0L))
        // rows minus distinct-with-nulls-as-one-value: count_distinct
        // skips nulls, so add back exactly one slot iff any null exists
        // (NOT the null count — with 1 null that over-credits and an
        // otherwise-unique column would falsely fail; with ≥3 it
        // understates the duplicate surplus).
        case "unique"   => count(lit(1)) - count_distinct(c) -
          max(when(c.isNull, 1L).otherwise(0L))
        case "between"  => sum(when(c.isNotNull &&
          (c.cast("long") < r.lo || c.cast("long") > r.hi), 1L).otherwise(0L))
      }).as(s"__m$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.rule).as("rule"), lit(r.column).as("column"),
        coalesce(col(s"__m$i"), lit(0L)).as("metric"))
    }
    row.select(explode(array(structs: _*)).as("__e"))
      .select(col("__e.rule").as("rule"), col("__e.column").as("column"),
        col("__e.metric").as("metric"), (col("__e.metric") === 0).as("pass"))
      // metric joins the sort so two rules of the same kind on the same
      // column (different bounds) still order deterministically; if
      // their metrics tie, the rows are identical and order is moot
      .orderBy("rule", "column", "metric")
  }

  // ---- two-sample distribution drift (q149) --------------------------

  /** Exact two-sample Kolmogorov–Smirnov drift per group: for each
    * `groupCol` value, the KS statistic between the `valueCol`
    * distributions of snapshot A (`snapCol` = 0) and snapshot B
    * (`snapCol` = 1), computed in EXACT integers — the ECDF gap at an
    * observed value v is |cumA(v)·nB − cumB(v)·nA| / (nA·nB), so the
    * max numerator `d_num` is integer and `drifted` compares
    * d_num · 10 > nA · nB, i.e. D > 0.1, with no floating point
    * anywhere. This is the ingest-gate form of drift detection: flag
    * a source whose new wave's quality/length/score distribution
    * moved, BEFORE admitting it (the distributional upgrade of q105's
    * count-level corpus diff and q92's point calibration).
    *
    * Scale shape: one conditional-count hash aggregate per
    * (group, value) — map-side combined, corpus never reshuffled
    * beyond it; the ECDF windows partition by group and their size is
    * the group's DISTINCT-VALUE count (a score/length domain, not the
    * corpus). Output is |groups| rows.
    */
  def ksDrift(df: DataFrame, groupCol: String, snapCol: String,
      valueCol: String, driftTenths: Int = 1): DataFrame = {
    require(driftTenths >= 1 && driftTenths <= 9, "driftTenths in 1..9")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Long.MinValue, 0)
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(sum(when(col(snapCol) === 0, 1L).otherwise(0L)).as("__c1"),
        sum(when(col(snapCol) === 1, 1L).otherwise(0L)).as("__c2"))
      .withColumn("__cum1", sum("__c1").over(w))
      .withColumn("__cum2", sum("__c2").over(w))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum("__c1").as("n_a"), sum("__c2").as("n_b"))
    counts.join(totals, Seq(groupCol))
      .groupBy(col(groupCol), col("n_a"), col("n_b"))
      .agg(max(abs(col("__cum1") * col("n_b") - col("__cum2") * col("n_a")))
        .as("d_num"))
      .select(col(groupCol), col("n_a"), col("n_b"), col("d_num"),
        (col("d_num") * 10 > col("n_a") * col("n_b") * driftTenths).as("drifted"))
  }

  /** Unpivot the single agg row: one struct per column, exploded to
    * rows. `explode(array(struct...))` stays inside whole-stage
    * codegen and adds no shuffle (the input is one row).
    */
  private def unpivot(row: DataFrame, cols: Seq[String],
      distinctAlias: String): DataFrame = {
    val entries: Seq[Column] = cols.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c).as("col_name"),
        col("__n_rows").as("n_rows"),
        col(s"__c${i}__nnull").as("n_null"),
        col(s"__c${i}__ndist").as(distinctAlias),
        col(s"__c${i}__min").as("min_e2"),
        col(s"__c${i}__max").as("max_e2"))
    }
    row.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
  }

  private def profileWith(df: DataFrame, cols: Seq[String],
      distinctAgg: Column => Column, distinctAlias: String): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val aggs = count(lit(1)).as("__n_rows") +: cols.zipWithIndex.flatMap {
      case (c, i) =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__c${i}__nnull"),
          distinctAgg(col(c)).as(s"__c${i}__ndist"),
          floor(min(col(c)) * 100).cast("long").as(s"__c${i}__min"),
          floor(max(col(c)) * 100).cast("long").as(s"__c${i}__max"))
    }
    unpivot(df.agg(aggs.head, aggs.tail: _*), cols, distinctAlias)
  }

  /** Profile `cols` (numeric) of `df`: one output row per column with
    * (col_name, n_rows, n_null, n_distinct, min_e2, max_e2).
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // r15: one grouped pass PER COLUMN instead of a single agg with N
    // countDistinct's — the latter plans an Expand that replicates
    // every row N+1 times into a hash aggregate keyed by ALL N
    // (normalized-double) columns plus gid, so the exchange carries
    // the multiplied rows under wide null-padded keys. Per column,
    // groupBy(value).count is a narrow codegen'd aggregate whose
    // exchange carries only that column's distinct values; the
    // profile row then folds the (value, count) histogram exactly:
    // n_rows = Σcnt, n_null = Σcnt over the null group, n_distinct =
    // non-null groups, min/max over distinct ≡ min/max over rows. The
    // per-column frames union into ONE action (stages run
    // concurrently), and each scan prunes to its single column — at
    // 100 TB the N column-pruned parquet scans read the same bytes
    // the one N-column scan did, without the N× Expand multiplication
    // through the shuffle.
    require(cols.nonEmpty, "no columns to profile")
    cols.map { c =>
      df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__cnt"))
        .agg(
          coalesce(sum("__cnt"), lit(0L)).as("n_rows"),
          sum(when(col("__v").isNull, col("__cnt")).otherwise(0L)).as("n_null"),
          count(col("__v")).as("n_distinct"),
          floor(min(col("__v")) * 100).cast("long").as("min_e2"),
          floor(max(col("__v")) * 100).cast("long").as("max_e2"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_e2"), col("max_e2"))
    }.reduce(_ unionByName _)
  }

  /** The routine-run profile: identical shape to [[numericProfile]]
    * but distincts are HLL++ `approx_count_distinct(c, rsd)` — ONE
    * aggregation pass with NO Expand (plan-asserted in DeltaOpsSpec):
    * the scan is not replicated per column, and the shuffle carries
    * one sketch per column instead of per-partition distinct values.
    * This is the form a 100 TB drop gate runs daily; the exact
    * profile is the audit-grade escalation. Estimates carry the q61
    * ε-bound contract (q107 asserts |approx − exact| ≤ 3·rsd·exact).
    */
  def numericProfileApprox(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.05): DataFrame =
    profileWith(df, cols, approx_count_distinct(_, rsd), "n_distinct_approx")

  /** Ordered admission waterfall — the ingest dashboard that says WHY
    * documents were rejected, not just how many: every doc is
    * attributed to the FIRST gate whose predicate it fails (gates
    * evaluated in the given order — the order IS the policy, since a
    * spammy too-short doc counts against the gate that ran first), and
    * the output is one row per gate plus the final `admitted` row,
    * zero-filled so a gate that rejected nothing still reports (a
    * silently vanishing gate row is how a disabled filter goes
    * unnoticed for a quarter).
    *
    * Gate predicates are ordinary boolean Columns over `docs` —
    * per-row gates (length, quality, repetition) come straight from
    * TextFunctions; corpus-relative gates (dup-keeper, novelty) are
    * precomputed columns the caller attaches first. One projection +
    * one |gates|-sized aggregate: the corpus is scanned once however
    * many gates run.
    */
  def admissionWaterfall(docs: DataFrame,
      gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty, "need at least one gate")
    require(gates.map(_._1).distinct.size == gates.size &&
      !gates.exists(_._1 == "admitted"), "gate names must be unique, not 'admitted'")
    val verdict = gates.tail.foldLeft(
      when(!gates.head._2, lit(gates.head._1))) {
        case (acc, (n, p)) => acc.when(!p, lit(n))
      }.otherwise(lit("admitted"))
    val counts = docs.select(verdict.as("gate"))
      .groupBy("gate").agg(count(lit(1)).as("__n"))
    val spark = docs.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val order = (gates.map(_._1) :+ "admitted").zipWithIndex.map {
      case (g, i) => org.apache.spark.sql.Row((i + 1).toLong, g)
    }
    val frame = spark.createDataFrame(java.util.Arrays.asList(order: _*),
      StructType(Seq(StructField("stage", LongType, nullable = false),
        StructField("gate", StringType, nullable = false))))
    frame.join(counts, Seq("gate"), "left")
      .select(col("stage"), col("gate"),
        coalesce(col("__n"), lit(0L)).as("n_docs"))
      .orderBy("stage")
  }

  /** Key-skew audit — the pre-flight check for any join or aggregation
    * key at 100 TB: the heaviest `topK` keys with their exact row
    * shares and the running share (in e6), next to the key-space
    * totals. A key whose share dwarfs 1/shuffle-partitions is the one
    * that hot-spots a task; this table is what decides between
    * salting, AQE skew-join, or a broadcast redesign BEFORE the job
    * ships, instead of from its straggler graph after.
    *
    * Scale shape: one map-side-combined count per key, a
    * TakeOrderedAndProject top-k (never a global sort), one 3-number
    * rollup broadcast back. The ranking window runs AFTER the limit —
    * over k rows, not the key space (the q116 banded-ranking concern
    * does not arise because the heavy tail is cut first).
    */
  def skewAudit(df: DataFrame, keyCol: String, topK: Int = 16): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val counts = df.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total_rows"),
      count(lit(1)).as("n_keys"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("__k"))
    val cum = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("__k"))
      .rowsBetween(Long.MinValue, 0)
    counts.orderBy(col("cnt").desc, col("__k")).limit(topK)
      .crossJoin(broadcast(tot))
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .select(row_number().over(w).cast("long").as("rank"),
        col("__k").cast("string").as("key"), col("cnt"),
        expr("(cnt * 1000000) div total_rows").as("share_e6"),
        expr("(__cum * 1000000) div total_rows").as("cum_share_e6"),
        col("total_rows"), col("n_keys"))
  }

  /** k-anonymity / l-diversity audit over quasi-identifier columns —
    * the privacy-risk gate a pipeline runs before releasing a table
    * whose rows describe people: a record is re-identifiable when its
    * quasi-identifier combination (the columns an attacker can link
    * from outside — region, segment, zip...) is shared by fewer than
    * `k` rows (Sweeney 2002), and a k-anonymous class still leaks its
    * sensitive attribute when all members share one value — `l`
    * distinct sensitive values per class (Machanavajjhala 2006).
    *
    * One row per equivalence class: size, distinct sensitive values,
    * and both flags. Rows-at-risk / minima are one aggregate over
    * this output (see the q187 spec's summary fold).
    *
    * Scale shape: a single hash aggregate keyed by the QI tuple —
    * map-side combined, no window, no join. The exact
    * `count(DISTINCT)` adds an Expand pass (audit-grade, like
    * [[numericProfile]]); swap `approx_count_distinct` for routine
    * runs at 100 TB — class-size k-anonymity is unaffected.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String],
      sensitive: Column, k: Int, l: Int): DataFrame = {
    require(qiCols.nonEmpty && k >= 2 && l >= 2,
      "need quasi-identifier columns, k >= 2, l >= 2")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        count_distinct(sensitive).as("n_sensitive"))
      .withColumn("k_anonymous", col("class_size") >= k)
      .withColumn("l_diverse", col("n_sensitive") >= l)
  }

  /** One-row risk rollup of a [[kAnonymityAudit]] result: how many
    * classes/rows sit below the k and l bars, plus the table's actual
    * k (min class size) and l (min sensitive diversity). */
  def kAnonymitySummary(audit: DataFrame): DataFrame =
    audit.agg(count(lit(1)).as("n_classes"),
      sum(when(!col("k_anonymous"), 1L).otherwise(0L)).as("classes_below_k"),
      sum(when(!col("k_anonymous"), col("class_size")).otherwise(0L))
        .as("rows_at_risk"),
      sum(when(!col("l_diverse"), 1L).otherwise(0L)).as("classes_below_l"),
      min("class_size").as("min_class_size"),
      min("n_sensitive").as("min_l"))

  /** Corpus RELEASE DATA CARD — the one-table summary a dataset ships
    * with (the "datasheets for datasets" practice): per language AND a
    * rolled-up total, the document count, token count, exact-distinct
    * text count, duplicate-row rate (e6), short-doc count, and integer
    * mean tokens. Everything integer-exact; the total row comes from
    * ROLLUP, so the whole card is ONE aggregate pass (Expand tags the
    * per-lang and total groups into the same shuffle — no second scan
    * for the footer row). The total row is scoped `__all__` via
    * `grouping()` — NOT by null-detection, which would conflate it
    * with a genuine null-language group (scoped `__null__`).
    *
    * Scale shape: one hash aggregate over (lang) rollup groups; the
    * exact distinct adds the audit-grade Expand (swap
    * `approx_count_distinct` for routine 100 TB runs, the
    * [[kAnonymityAudit]] convention). Digests, not text, enter the
    * distinct.
    */
  def dataCard(docs: DataFrame, textCol: String, langCol: String,
      shortTokens: Int = 32): DataFrame = {
    val agg = docs
      .select(col(langCol).as("__lang"),
        size(graft.functions.TextFunctions.tokens(col(textCol)))
          .cast("long").as("__n"),
        md5(col(textCol)).as("__dg"))
      .rollup("__lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("__n").as("n_tokens"),
        count_distinct(col("__dg")).as("n_distinct"),
        sum(when(col("__n") < shortTokens, 1L).otherwise(0L)).as("short_docs"),
        // the ROLLUP total row and a GENUINE null-language group both
        // surface __lang as null — grouping() is the only
        // disambiguator, so the total is tagged here, not inferred
        // from the null
        grouping(col("__lang")).as("__total"))
    // resolve the grouping column through the aggregate frame itself:
    // a self-joined input otherwise leaves two __lang lineage
    // candidates and the analyzer refuses the bare name
    agg.select(when(col("__total") === 1, lit("__all__"))
        .otherwise(coalesce(agg("__lang"), lit("__null__"))).as("scope"),
      col("n_docs"), col("n_tokens"), col("n_distinct"),
      expr("((n_docs - n_distinct) * 1000000) div n_docs").as("dup_e6"),
      col("short_docs"),
      expr("n_tokens div n_docs").as("mean_tokens"))
  }

  /** DIFFERENTIALLY-PRIVATE release of the [[dataCard]]'s count
    * columns — the two-sided GEOMETRIC mechanism (Ghosh, Roughgarden
    * & Sundararajan, "Universally Utility-Maximizing Privacy
    * Mechanisms", STOC 2009: the discrete, integer-valued optimal
    * mechanism for counts), at α = 1/2, i.e. ε = ln 2 PER RELEASED
    * COUNT: P(Z = z) = (1/3)·2^(−|z|).
    *
    * The noise draw is SEEDED AND EXACT, fitting the engine's oracle
    * discipline where a float Laplace could not: the uniform source
    * is the first 12 hex chars of md5(seed:scope:column) — a 48-bit
    * integer v — and the inverse CDF is walked with INTEGER
    * thresholds (3·M·F(z) = 2^(49+z) for z < 0, 3·2^48 − 2^(48−z)
    * for z ≥ 0, both exact in Long), so DuckDB replays the identical
    * draw digit for digit. |z| is truncated at 40 (residual mass
    * (1/3)·2^(−40) ≈ 3e−13 — the deterministic-tail trade, stated
    * rather than hidden).
    *
    * THE GUARANTEE IS CONDITIONAL ON THE SEED: the noise is fully
    * deterministic from (seed, scope, column), so the ε above holds
    * only when `seed` is secret, drawn uniformly at random, and used
    * for ONE release — an adversary who knows the seed recomputes and
    * subtracts the noise exactly (effective ε = ∞), and reusing a
    * seed across releases of overlapping data correlates the draws.
    * A fixed or published seed (as in the q205 oracle, seed = 7) is a
    * TESTING/REPLAY device that demonstrates the mechanism, not a
    * privacy release. Production use: draw the seed from a CSPRNG,
    * release the noised card, discard the seed.
    *
    * Released: n_docs, n_distinct, short_docs (each Δ = 1: one
    * document moves each count by at most 1), clamped at 0, plus
    * dup_e6 RECOMPUTED from the noised counts (post-processing —
    * no extra ε). NOT released: n_tokens and mean_tokens, whose
    * per-document sensitivity is unbounded (a single document can
    * carry any token count) — a Δ-unbounded column under a Δ=1
    * mechanism would be a privacy hole, not a release.
    *
    * ε accounting: one document contributes to its own language row
    * AND the `__all__` rollup row, so the release costs
    * 2 rows × 3 counts × ln 2 = 6·ln 2 ≈ 4.16 total (sequential
    * composition; languages partition the corpus, so per-language
    * rows compose in parallel).
    *
    * Scale shape: the mechanism runs on the AGGREGATED card (≤
    * |languages|+1 rows), so the per-row 81-step threshold walk — a
    * zip_with over literal arrays — is driver-negligible; the heavy
    * lifting stays [[dataCard]]'s single ROLLUP pass.
    */
  def dpDataCard(docs: DataFrame, textCol: String, langCol: String,
      shortTokens: Int = 32, seed: Long = 0L): DataFrame = {
    val card = dataCard(docs, textCol, langCol, shortTokens)
    val thresholds = typedlit((-40 to 40).map(z =>
      if (z < 0) 1L << (49 + z) else 3L * (1L << 48) - (1L << (48 - z))))
    val zvals = typedlit((-40 to 40).map(_.toLong))
    def dp(colName: String): Column = {
      val v = conv(substring(md5(concat_ws(":",
        lit(seed.toString), col("scope"), lit(colName))), 1, 12), 16, 10)
        .cast("long")
      val z = coalesce(
        array_min(zip_with(thresholds, zvals,
          (t, zz) => when(v * 3 < t, zz))),
        lit(40L))
      greatest(lit(0L), col(colName) + z)
    }
    card.select(col("scope"),
      dp("n_docs").as("n_docs_dp"),
      dp("n_distinct").as("n_distinct_dp"),
      dp("short_docs").as("short_docs_dp"))
      .withColumn("dup_e6_dp",
        when(col("n_docs_dp") > 0,
          expr("(greatest(0L, n_docs_dp - n_distinct_dp) * 1000000) div n_docs_dp"))
          .otherwise(0L))
  }

  /** t-CLOSENESS audit (Li, Li & Venkatasubramanian, "t-Closeness:
    * Privacy Beyond k-Anonymity and l-Diversity", ICDE 2007) — the
    * third leg of the privacy trio: a k-anonymous, l-diverse class
    * still leaks when its SENSITIVE DISTRIBUTION skews far from the
    * table's (everyone in the class is rich). For an ORDERED sensitive
    * attribute the class-vs-table distance is the Earth Mover's
    * Distance = (1/(m−1))·Σᵢ |Σ_{j≤i} (pⱼ − qⱼ)| over the m ordered
    * values, held integer-exact here by cross-multiplying the
    * proportions: diffᵥ = cᵥ·N − gᵥ·n (class count c of n rows vs
    * global count g of N), so
    * `emd_num` = Σᵢ |cum diff| = EMD·(m−1)·n·N, and the flag compares
    * `emd_num`·1000 ≤ t‰·(m−1)·n·N — no floats, DuckDB-replayable.
    * Products ride DECIMAL(38,0) (the q180 overflow lesson: n·N
    * exceeds long at petabyte row counts).
    *
    * Scale shape: three hash aggregates (per-class, per-value,
    * per-class-value) over one scan shape, a classes×m GRID (classes
    * missing a value need their cᵥ = 0 term for the cumulative to be
    * right), and a window over the m-row value axis PARTITIONED BY
    * CLASS — bounded by construction, the q25 convention. Sensitive
    * values are assumed non-null (filter first; a null has no
    * position on the ordered axis).
    */
  def tClosenessAudit(df: DataFrame, qiCols: Seq[String], sensitive: Column,
      tPermille: Long): DataFrame = {
    require(qiCols.nonEmpty && tPermille >= 0,
      "need quasi-identifier columns and a non-negative t budget")
    val base = df.select(qiCols.map(col) :+ sensitive.as("__s"): _*)
    val tot = base.agg(count(lit(1)).as("__N"), count_distinct(col("__s")).as("__m"))
    val g = base.groupBy("__s").agg(count(lit(1)).as("__g"))
    val cl = base.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("class_size"))
    val cv = base.groupBy(qiCols.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__c"))
    val grid = cl.crossJoin(broadcast(g))
      .join(cv, qiCols :+ "__s", "left")
      .na.fill(0L, Seq("__c"))
      .crossJoin(broadcast(tot))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qiCols.map(col): _*).orderBy(col("__s"))
      .rowsBetween(Long.MinValue, 0)
    grid
      .withColumn("__diff", expr(
        "CAST(__c AS DECIMAL(38,0)) * __N - CAST(__g AS DECIMAL(38,0)) * class_size"))
      .withColumn("__cum", sum(col("__diff")).over(w))
      .groupBy(qiCols.map(col) :+ col("class_size") :+ col("__N") :+ col("__m"): _*)
      .agg(sum(abs(col("__cum"))).as("emd_num"))
      .withColumn("t_close", expr(
        s"emd_num * 1000 <= $tPermille * (__m - 1) * class_size * __N"))
      .drop("__N", "__m")
  }

  /** k-anonymity / l-diversity ENFORCEMENT — the action the
    * [[kAnonymityAudit]] gate calls for (the audit→transform pattern
    * the drift-retrain loop established): produce a RELEASE of `df`
    * that passes the audit, by global-recoding generalization
    * (Samarati 2001's full-domain model) plus record suppression.
    *
    * Each ladder is `(outputName, levels)` — level 0 the finest
    * (string-typed) quasi-identifier form, each later level strictly
    * coarser (zip → zip3 → '*', value → band → '*'). One GLOBAL level
    * `g` applies to every ladder (clamped to each ladder's depth):
    * the minimal g whose residual risk — rows in classes failing
    * size ≥ k or diversity ≥ l — is within `maxSuppressPerMille` of
    * the table is chosen, those residual rows are SUPPRESSED, and the
    * release is k-anonymous and l-diverse by construction. If no
    * level fits the budget the coarsest is taken (suppression still
    * guarantees the audit, just over budget — the caller sees the
    * level in `gen_level` and the loss by row count).
    *
    * Output: `df`'s columns pass through EXCEPT the ladder output
    * names AND every source column a ladder level references — a
    * release that carries the raw quasi-identifier next to its
    * generalized form is not k-anonymous at all, so the fine-grained
    * QI cannot ride along by default. Each ladder contributes its
    * generalized column under its own name, plus the chosen
    * `gen_level`. Rows whose class still violates are dropped; rows
    * whose generalized quasi-identifier AT THE CHOSEN LEVEL is NULL
    * are conservatively suppressed (a null-keyed class is a linkage
    * risk, not an equivalence class), and null-keyed classes count
    * against the suppression budget during level selection — once a
    * coarser level maps the row to a non-null value (a `'*'` top), it
    * re-enters the release like any other row.
    *
    * Scale shape: level selection is ONE pass — the row's QI tuple is
    * materialized at every level (L small) and exploded into a single
    * (level, class) hash aggregate, whose L-row rollup is the only
    * driver collect. The release is one projection + one QI-keyed
    * aggregate joined back on the class key (both sides hash-partition
    * on the same key; no window, no sort). Audit-exact
    * `count(DISTINCT)` — swap approx for routine 100 TB runs as in
    * [[kAnonymityAudit]].
    */
  def kAnonymize(df: DataFrame, ladders: Seq[(String, Seq[Column])],
      sensitiveCol: String, k: Int, l: Int,
      maxSuppressPerMille: Long = 10L): DataFrame = {
    require(ladders.nonEmpty && ladders.forall(_._2.nonEmpty),
      "need at least one ladder with at least one level")
    require(k >= 2 && l >= 1 && maxSuppressPerMille >= 0,
      "need k >= 2, l >= 1, non-negative suppression budget")
    val nLevels = ladders.map(_._2.length).max
    def qiAt(g: Int): Seq[Column] =
      ladders.map { case (_, lv) => lv(math.min(g, lv.length - 1)) }
    // one pass over df scores every level. The class key is the
    // string-cast value ARRAY itself (grouping treats null elements as
    // equal, matching the release-side <=> join) — NOT a
    // sentinel-delimited concat: a genuine QI value containing the
    // sentinel byte would be conflated with null (mis-scored against
    // the suppression budget), and a value containing the delimiter
    // would shift segments and merge unrelated classes. Arrays have
    // neither failure mode.
    val lvlKey = array((0 until nLevels).map { g =>
      struct(lit(g).as("g"),
        array(qiAt(g).map(_.cast("string")): _*).as("key"))
    }: _*)
    val risk = df
      .select(explode(lvlKey).as("lk"), col(sensitiveCol).as("__s"))
      .groupBy(col("lk.g").as("g"), col("lk.key").as("key"))
      .agg(count(lit(1)).as("sz"), count_distinct(col("__s")).as("ns"))
      .groupBy("g")
      // a null-keyed class (null element in the key) is at risk by
      // fiat: those rows are suppressed at this level, not released
      .agg(sum(when(col("sz") < k || col("ns") < l ||
          exists(col("key"), _.isNull), col("sz")).otherwise(0L))
        .as("at_risk"), sum("sz").as("total"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val chosen = (0 until nLevels).find { g =>
      val (atRisk, total) = risk(g)
      atRisk * 1000L <= maxSuppressPerMille * total
    }.getOrElse(nLevels - 1)
    val qiNames = ladders.map(_._1)
    // every source column a ladder level references is excluded from
    // passthrough — the raw QI must not ride along with its
    // generalized form (that release would not be k-anonymous at all).
    // Resolving the levels against df (analysis only, no job) catches
    // col(), expr("..."), and computed forms alike.
    val ladderSources: Set[String] = df.select(ladders.flatMap(_._2): _*)
      .queryExecution.analyzed.expressions
      .flatMap(_.references.map(_.name)).toSet
    // the sensitive column is never excluded — the release must carry
    // it for l-diversity to mean anything (a ladder that generalizes
    // the sensitive attribute itself still releases the raw value,
    // which is the point: sensitive ≠ quasi-identifier)
    val passthrough = df.columns.filterNot(qiNames.contains)
      .filterNot(c => ladderSources.contains(c) && c != sensitiveCol)
      .map(col).toSeq
    val gen = df.select(passthrough ++ ladders.map { case (n, lv) =>
        lv(math.min(chosen, lv.length - 1)).cast("string").as(n) }: _*)
      // null-suppression at the chosen level (mirrors the sentinel
      // flagging in the risk score): a null generalized QI is dropped
      .filter(qiNames.map(col(_).isNotNull).reduce(_ && _))
    val ok = gen
      .groupBy(qiNames.map(col): _*)
      .agg(count(lit(1)).as("__sz"), count_distinct(col(sensitiveCol)).as("__ns"))
      .filter(col("__sz") >= k && col("__ns") >= l)
      .select(qiNames.map(n => col(n).as(s"__ok_$n")): _*)
    // null-safe equality so a null-keyed class behaves exactly as the
    // groupBy formed it (nulls equal) — release and audit agree
    gen.join(ok, qiNames.map(n => gen(n) <=> ok(s"__ok_$n")).reduce(_ && _))
      .select(gen.columns.map(gen(_)): _*)
      .withColumn("gen_level", lit(chosen.toLong))
  }
}
