package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.JobManifest
import graft.pipeline.PipelineConfig.{PipelineSpec, StageSpec}
import graft.report.RunLog

/** Executor for [[PipelineConfig]] pipelines — the reference's planned
  * DAG executor (`/root/reference/docs/system-plan.md:18-21`: stage
  * types map/reduce/filter, checkpointed stage progress, `pipeline
  * run` / `pipeline resume`) on Spark's execution model.
  *
  * Design: stages do NOT execute one-by-one. Each stage compiles to a
  * lazy DataFrame referencing its inputs' DataFrames, so consecutive
  * map/filter/reduce/join stages collapse into ONE Catalyst plan and
  * the optimizer fuses them (filter pushdown through maps, column
  * pruning into the scan, join strategy by size) — the "dynamic
  * batching to process billions" of system-plan.md:18 is Spark's own
  * pipelined whole-stage-codegen execution, not a hand-rolled executor.
  * Work happens only at materialization points: `materialize: true`
  * stages and sinks.
  *
  * Resume contract (system-plan.md:19-21): a materialized stage
  * persists its result as parquet under
  * `{checkpoint_dir}/stages/{name}` and commits a [[JobManifest]]
  * completion marker (atomic rename). `resume = true` re-reads a
  * completed stage's parquet instead of recomputing its subtree, and
  * skips completed sinks entirely; `run` ignores and overwrites any
  * prior state. Downstream stages always read the materialized copy,
  * so resume and fresh runs see byte-identical inputs and lineage is
  * truncated at each barrier (no recompute storms past a checkpoint).
  *
  * `maxActions` is a test seam (crash simulation): execution stops
  * after that many materialize/sink actions, exactly like a killed
  * driver — completed barriers stay committed, nothing else exists.
  */
object PipelineRunner {

  /** What happened to one stage in one run. `action` is one of
    * `declared` (lazy, fused into downstream plans), `materialized`,
    * `resumed` (read back from a completed checkpoint), `written`
    * (sink executed), `skipped` (completed sink under resume), or
    * `not_reached` (past the crash seam).
    */
  final case class StageRun(name: String, kind: String, action: String)

  final case class RunResult(
      stages: Seq[StageRun],
      private val frames: Map[String, () => DataFrame]) {
    def frame(name: String): DataFrame = frames.getOrElse(name,
      throw new IllegalArgumentException(s"no frame for stage '$name' (sink or not reached?)"))()
    def completed: Boolean = !stages.exists(_.action == "not_reached")
  }

  def run(spark: SparkSession, p: PipelineSpec,
      resume: Boolean = false,
      vars: Map[String, String] = Map.empty,
      maxActions: Int = Int.MaxValue,
      log: Option[RunLog] = None): RunResult = {

    val ckRoot = p.checkpointDir.map(subst(_, vars))
    val manifestRoot = ckRoot.map(r => s"$r/pipeline/${p.name}")
    val hconf = spark.sparkContext.hadoopConfiguration
    def stagePath(name: String): String =
      s"${ckRoot.get}/pipeline/${p.name}-stages/$name"

    log.foreach(_.log("pipeline_start", "pipeline" -> p.name,
      "n_stages" -> p.stages.size, "resume" -> resume))

    var actions = 0
    // Frames are memoized THUNKS, not eager DataFrames: a resumed
    // stage reads its checkpoint and must not even ANALYZE its
    // upstream subtree (the original scan may be gone — resuming past
    // an expired source is exactly what the checkpoint buys), so a
    // stage's plan is constructed only when something executed
    // actually consumes it.
    val frames = scala.collection.mutable.Map[String, () => DataFrame]()
    def memo(f: => DataFrame): () => DataFrame = { lazy val v = f; () => v }
    val resolve: String => DataFrame = name => frames(name)()
    val runs = Seq.newBuilder[StageRun]
    var halted = false

    p.stages.foreach { s =>
      if (halted) {
        runs += StageRun(s.name, s.kind, "not_reached")
      } else if (s.kind == "sink") {
        if (resume && manifestRoot.exists(JobManifest.isCompleted(_, s.name, hconf))) {
          runs += StageRun(s.name, s.kind, "skipped")
          log.foreach(_.log("stage_skipped", "pipeline" -> p.name, "stage" -> s.name))
        } else if (actions >= maxActions) { halted = true; runs += StageRun(s.name, s.kind, "not_reached") }
        else {
          writeSink(resolve(s.inputs.head), s, vars)
          actions += 1
          manifestRoot.foreach(JobManifest.markCompleted(_, s.name, 0, hconf))
          runs += StageRun(s.name, s.kind, "written")
          log.foreach(_.log("stage_complete", "pipeline" -> p.name,
            "stage" -> s.name, "kind" -> s.kind))
        }
      } else if (s.materialize) {
        val path = stagePath(s.name)
        if (resume && JobManifest.isCompleted(manifestRoot.get, s.name, hconf)) {
          frames(s.name) = memo(spark.read.parquet(path))
          runs += StageRun(s.name, s.kind, "resumed")
          log.foreach(_.log("stage_resumed", "pipeline" -> p.name, "stage" -> s.name))
        } else if (actions >= maxActions) { halted = true; runs += StageRun(s.name, s.kind, "not_reached") }
        else {
          build(spark, s, resolve, vars).write.mode("overwrite").parquet(path)
          actions += 1
          manifestRoot.foreach(JobManifest.markCompleted(_, s.name, 0, hconf))
          frames(s.name) = memo(spark.read.parquet(path))
          runs += StageRun(s.name, s.kind, "materialized")
          log.foreach(_.log("stage_complete", "pipeline" -> p.name,
            "stage" -> s.name, "kind" -> s.kind, "materialized" -> true))
        }
      } else {
        frames(s.name) = memo(build(spark, s, resolve, vars))
        runs += StageRun(s.name, s.kind, "declared")
      }
    }
    val result = RunResult(runs.result(), frames.toMap)
    log.foreach(_.log("pipeline_complete", "pipeline" -> p.name,
      "completed" -> result.completed))
    result
  }

  /** `${VAR}` substitution in paths; unknown variables fail loudly. */
  private[pipeline] def subst(s: String, vars: Map[String, String]): String =
    raw"\$$\{([A-Za-z_][A-Za-z0-9_]*)\}".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(vars.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"undefined pipeline variable '$${${m.group(1)}}'"))))

  /** Compile one non-sink stage to its (lazy) DataFrame. */
  private def build(spark: SparkSession, s: StageSpec,
      frames: String => DataFrame,
      vars: Map[String, String]): DataFrame = s.kind match {
    case "scan" =>
      val reader = spark.read.options(readerOptions(s))
      reader.format(s.options("format")).load(subst(s.options("path"), vars))
    case "filter" =>
      frames(s.inputs.head).filter(expr(s.options("condition")))
    case "map" =>
      val withCols = s.columns.foldLeft(frames(s.inputs.head)) {
        case (df, (name, e)) => df.withColumn(name, expr(e))
      }
      val selected =
        if (s.select.nonEmpty) withCols.select(s.select.map(col): _*) else withCols
      if (s.drop.nonEmpty) selected.drop(s.drop: _*) else selected
    case "reduce" =>
      val aggs = s.aggs.map { case (name, e) => expr(e).as(name) }
      val grouped = frames(s.inputs.head).groupBy(s.groupBy.map(col): _*)
      grouped.agg(aggs.head, aggs.tail: _*)
    case "join" =>
      val (l, r) = (frames(s.inputs(0)), frames(s.inputs(1)))
      val how = s.options.getOrElse("how", "inner")
      s.options.get("on") match {
        case Some(on) => l.join(r, on.split(",").toSeq.map(_.trim), how)
        case None => l.join(r, expr(s.options("condition")), how)
      }
    case "union" =>
      s.inputs.map(frames).reduce(_.unionByName(_))
    case other =>
      throw new IllegalStateException(s"unbuildable stage kind '$other'")
  }

  private def writeSink(df: DataFrame, s: StageSpec, vars: Map[String, String]): Unit = {
    var w = df.write
      .mode(s.options.getOrElse("mode", "overwrite"))
      .options(readerOptions(s))
    s.options.get("partition_by").foreach(p =>
      w = w.partitionBy(p.split(",").toSeq.map(_.trim): _*))
    w.format(s.options("format")).save(subst(s.options("path"), vars))
  }

  /** Pass-through format options (everything not consumed structurally). */
  private def readerOptions(s: StageSpec): Map[String, String] =
    s.options -- Seq("format", "path", "condition", "how", "mode", "on", "partition_by")
}
