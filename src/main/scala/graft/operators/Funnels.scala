package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics: ordered funnels, cohort retention, and
  * touch attribution — the product-analytics tier of the engine
  * surface (q30–q32 cover windows/sessions/as-of; these are the
  * composed forms every event warehouse ships as first-class ops).
  * All three are exact-integer/timestamp procedures with full SQL
  * replays.
  */
object Funnels {

  /** Ordered funnel completion times: for each entity, stage k's time
    * is the EARLIEST event of stage k's type STRICTLY AFTER the
    * entity's stage-(k−1) time — the strict-sequence funnel (a click
    * before the first view does not count). Returns one row per entity
    * that completed at least stage 1: (entity, t1 … tn, depth) where
    * depth is the number of completed stages and t_k is NULL beyond
    * it.
    *
    * Scale shape: one aggregate per stage over the stage-FILTERED
    * event stream (the type filter pushes into the scan), each joined
    * to the previous stage's per-entity time — entity-sized tables
    * after stage 1, so every join after the first is delta-shaped.
    * K is the funnel length, a small constant.
    */
  def funnel(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val e = events.select(col(entityCol).as("__e"), col(typeCol).as("__ty"),
      col(tsCol).as("__ts"))
    var acc = e.filter(col("__ty") === stages.head)
      .groupBy("__e").agg(min("__ts").as("t1"))
    for ((st, i) <- stages.zipWithIndex.drop(1)) {
      val prev = s"t$i"
      val cur = s"t${i + 1}"
      val next = e.filter(col("__ty") === st)
        .join(acc.select(col("__e"), col(prev).as("__prev")), Seq("__e"))
        .filter(col("__ts") > col("__prev"))
        .groupBy("__e").agg(min("__ts").as(cur))
      acc = acc.join(next, Seq("__e"), "left")
    }
    val depth = stages.indices.map(i => when(col(s"t${i + 1}").isNotNull, 1L)
      .otherwise(0L)).reduce(_ + _)
    acc.select(col("__e").as(entityCol) +:
      stages.indices.map(i => col(s"t${i + 1}")) :+ depth.as("depth"): _*)
  }

  /** Cohort retention matrix: entities cohort by their FIRST activity
    * epoch-week (`floor(epoch_seconds / 604800)` — no calendar-week
    * engine quirks), and each (cohort, weeks-since) cell counts
    * DISTINCT active entities. Returns (cohort_w, week_n, n_active).
    *
    * Scale shape: first-activity is one hash agg; the matrix is a
    * second agg over events joined to it by entity — both map-side
    * combined, output |cohorts × horizon|-sized.
    */
  def cohortRetention(events: DataFrame, entityCol: String,
      tsCol: String): DataFrame = {
    val e = events.select(col(entityCol).as("__e"),
      unix_timestamp(col(tsCol)).as("__s"))
    val first = e.groupBy("__e").agg(min("__s").as("__f"))
    e.join(first, "__e")
      .select(col("__e"), expr("__f div 604800").as("cohort_w"),
        expr("(__s - __f) div 604800").as("week_n"))
      .groupBy("cohort_w", "week_n")
      .agg(count_distinct(col("__e")).as("n_active"))
  }

  /** Top event-type paths: sessionize (gap rule, deterministic tie
    * order), order each session's event types, slide a `pathLen`
    * window over them, and rank the corpus-wide path counts — the
    * "what do users actually do" path-mining staple next to the
    * funnel's "did they do THIS".
    *
    * Scale shape: one session window (the q31 shape), one per-session
    * ordered collect (session-bounded arrays), a stateless slide, one
    * hash agg over the path space, TakeOrderedAndProject top-k.
    * Deterministic end to end: ties in time order break on `tieCol`,
    * ties in count break on the path string.
    */
  def topSessionPaths(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, tieCol: String, gapSeconds: Long,
      pathLen: Int = 3, k: Int = 16): DataFrame = {
    require(pathLen >= 2 && k >= 1, "need pathLen >= 2 and k >= 1")
    val sess = TextOps.sessionize(events, entityCol, tsCol, gapSeconds,
      tiebreak = Seq(tieCol))
    sess.groupBy(col(entityCol), col("session_id"))
      .agg(array_sort(collect_list(struct(col(tsCol).as("t"),
        col(tieCol).as("tb"), col(typeCol).as("ty")))).as("__evs"))
      .select(expr("transform(__evs, e -> e.ty)").as("__types"))
      .filter(size(col("__types")) >= pathLen)
      .select(explode(expr(
        s"transform(sequence(1, size(__types) - ${pathLen - 1}), " +
          s"i -> concat_ws('>', slice(__types, i, $pathLen)))")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path"))
      .limit(k)
  }

  /** First-/last-touch attribution: each conversion event credits the
    * first (and separately the last) PRECEDING touch event of the
    * entity's stream. Returns one row per conversion:
    * (entity, ts, first_touch, last_touch) — NULL touches mean the
    * conversion had no preceding touch. Deterministic under same-
    * timestamp events via the `tieCol` secondary order.
    *
    * Scale shape: one window partitioned by entity (the session/as-of
    * convention, q31/q32) — running first/last with ignoreNulls over
    * the touch-typed events; no joins at all.
    */
  def touchAttribution(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, tieCol: String, touchTypes: Seq[String],
      conversionType: String): DataFrame = {
    require(touchTypes.nonEmpty, "need touch types")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isin(touchTypes: _*), col(typeCol))
    events
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .select(col(entityCol), col(tsCol), col("first_touch"), col("last_touch"))
  }

  /** A/B exposure-conversion lift, exact integers end to end: entities
    * are derandomized into arms by an md5 bit of the entity key (the
    * q69/q115 assignment convention — no RNG, stable under reruns and
    * corpus growth), an entity is EXPOSED when it has an
    * `exposureType` event, and CONVERTED when a `conversionType` event
    * falls strictly after its first exposure (the strict-order funnel
    * rule, q154 — a purchase before ever seeing the treatment is not
    * attributable). One row out:
    *
    *   (n_a, conv_a, rate_a_e6, n_b, conv_b, rate_b_e6, b_lifts)
    *
    * with `b_lifts ⇔ conv_b·n_a > conv_a·n_b` — the rate comparison
    * cross-multiplied so no division or float touches the verdict
    * (the q149/q158 drift-gate arithmetic applied to experimentation).
    *
    * Scale shape: one entity-keyed aggregate over the events scan
    * (min exposure ts and the conversion flag in the SAME pass via
    * conditional aggregates re-checked against each other in a second
    * map-side-combined pass — no window, no join), then a 2-row
    * rollup. Statistical significance is the caller's layer; this is
    * the exact counting machine under it.
    */
  def abLift(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, exposureType: String, conversionType: String): DataFrame = {
    val perEntity = events
      .groupBy(col(entityCol).as("__e"))
      .agg(
        min(when(col(typeCol) === exposureType, col(tsCol))).as("__first_exp"),
        max(when(col(typeCol) === conversionType, col(tsCol))).as("__last_conv"))
      .filter(col("__first_exp").isNotNull)
      .select(
        (substring(md5(col("__e").cast("string")), 1, 1) < "8").as("__a"),
        (col("__last_conv").isNotNull &&
          col("__last_conv") > col("__first_exp")).as("__c"))
    perEntity.agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a") && col("__c"), 1L).otherwise(0L)).as("conv_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__a") && col("__c"), 1L).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("conv_a"),
        when(col("n_a") > 0, expr("(conv_a * 1000000) div n_a")).as("rate_a_e6"),
        col("n_b"), col("conv_b"),
        when(col("n_b") > 0, expr("(conv_b * 1000000) div n_b")).as("rate_b_e6"),
        (col("conv_b") * col("n_a") > col("conv_a") * col("n_b")).as("b_lifts"))
  }
}
