package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** Declarative pipeline configuration: the reference's committed-but-
  * unimplemented `PipelineConfig`/`StageConfig` YAML contract
  * (/root/reference/docs/system-plan.md:16-21 — "YAML schema describing
  * stages, dependencies, ... output sinks", "DAG executor supporting
  * stage types (map, reduce, filter)", `smiles pipeline run` /
  * `pipeline resume`), realized Spark-first: every stage compiles to a
  * DataFrame transformation, so the whole declared DAG becomes ONE
  * Catalyst logical plan between materialization points and the
  * optimizer — not the config author — decides pushdown, join strategy
  * and stage fusion. The reference's planned multiprocessing executor
  * is exactly what Spark already is; only the declarative surface and
  * stage-level resume needed building.
  *
  * Stage types:
  *  - `scan`   — read a source: `format` (parquet/csv/json/orc), `path`
  *               (supports `${VAR}` substitution), plus reader `options`.
  *  - `map`    — per-row projection: ordered `columns: {name: SQL expr}`
  *               added via withColumn; optional `select`/`drop` lists.
  *  - `filter` — `condition`: a SQL boolean expression.
  *  - `reduce` — `group_by: [cols]` (may be empty = global) +
  *               ordered `aggs: {name: SQL agg expr}`.
  *  - `join`   — exactly two `inputs`, `on: [cols]` or `condition`,
  *               optional `how` (default inner).
  *  - `union`  — 2+ `inputs`, unioned by name.
  *  - `sink`   — write the single input: `format`, `path`, optional
  *               `mode` (default overwrite), `partition_by`, options.
  *
  * Dependencies are by stage NAME (`input:` / `inputs:`), and a stage
  * may only reference stages defined ABOVE it — the DAG is acyclic by
  * construction and the file order is a valid topological order, so
  * execution is deterministic with no scheduler in the loop.
  *
  * Any stage may set `materialize: true` to become a checkpointed
  * barrier: its result is persisted under the pipeline's
  * `checkpoint_dir` and `pipeline resume` skips it (and every completed
  * sink) — the stage-progress store of system-plan.md:19 on Spark's
  * own parquet + atomic-rename manifest machinery.
  */
object PipelineConfig {

  final case class StageSpec(
      name: String,
      kind: String,
      inputs: Seq[String],
      options: Map[String, String],
      columns: Seq[(String, String)],
      select: Seq[String],
      drop: Seq[String],
      groupBy: Seq[String],
      aggs: Seq[(String, String)],
      materialize: Boolean)

  final case class PipelineSpec(
      name: String,
      checkpointDir: Option[String],
      stages: Seq[StageSpec])

  val KnownKinds: Set[String] =
    Set("scan", "map", "filter", "reduce", "join", "union", "sink")

  def load(path: String): PipelineSpec =
    parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))

  def parse(yaml: String): PipelineSpec = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = mapper.readTree(yaml)
    val p = Option(root.get("pipeline")).getOrElse(
      throw new IllegalArgumentException("config missing top-level 'pipeline' key"))

    def strOpt(n: JsonNode, k: String): Option[String] =
      Option(n.get(k)).map(_.asText()).filter(_.nonEmpty)
    def str(n: JsonNode, k: String, ctx: String): String =
      strOpt(n, k).getOrElse(
        throw new IllegalArgumentException(s"$ctx missing '$k'"))
    def strSeq(n: JsonNode, k: String): Seq[String] =
      Option(n.get(k)).map { arr =>
        if (arr.isTextual) Seq(arr.asText())
        else (0 until arr.size()).map(arr.get(_).asText())
      }.getOrElse(Nil)
    // Jackson's ObjectNode preserves YAML document order, so ordered
    // column/agg definitions survive into the plan (a later map column
    // may reference an earlier one).
    def pairs(n: JsonNode, k: String): Seq[(String, String)] =
      Option(n.get(k)).map { o =>
        val it = o.properties().iterator()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }.getOrElse(Nil)
    def strMap(n: JsonNode, k: String): Map[String, String] =
      pairs(n, k).toMap

    val name = str(p, "name", "pipeline")
    val stagesNode = Option(p.get("stages")).getOrElse(
      throw new IllegalArgumentException("pipeline missing 'stages'"))

    val stages = (0 until stagesNode.size()).map { i =>
      val s = stagesNode.get(i)
      val sName = str(s, "name", s"stage #$i")
      val ctx = s"stage '$sName'"
      val kind = str(s, "type", ctx)
      if (!KnownKinds(kind))
        throw new IllegalArgumentException(
          s"$ctx: unknown type '$kind' (known: ${KnownKinds.toSeq.sorted.mkString(", ")})")
      val inputs = strOpt(s, "input").map(Seq(_)).getOrElse(strSeq(s, "inputs"))
      val opts = strMap(s, "options") ++
        Seq("format", "path", "condition", "how", "mode")
          .flatMap(k => strOpt(s, k).map(k -> _)) ++
        (if (strSeq(s, "on").nonEmpty) Seq("on" -> strSeq(s, "on").mkString(",")) else Nil) ++
        (if (strSeq(s, "partition_by").nonEmpty)
           Seq("partition_by" -> strSeq(s, "partition_by").mkString(",")) else Nil)
      StageSpec(
        name = sName,
        kind = kind,
        inputs = inputs,
        options = opts,
        columns = pairs(s, "columns"),
        select = strSeq(s, "select"),
        drop = strSeq(s, "drop"),
        groupBy = strSeq(s, "group_by"),
        aggs = pairs(s, "aggs"),
        materialize = Option(s.get("materialize")).exists(_.asBoolean()))
    }

    validate(PipelineSpec(name, strOpt(p, "checkpoint_dir"), stages))
  }

  /** Structural validation with precise messages (the pydantic-validator
    * role of the reference's planned `PipelineConfig`): every error is
    * caught at parse time, before any Spark job starts.
    */
  private def validate(p: PipelineSpec): PipelineSpec = {
    val dup = p.stages.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dup.isEmpty, s"duplicate stage names: ${dup.mkString(", ")}")
    require(p.stages.nonEmpty, "pipeline has no stages")
    val seen = scala.collection.mutable.Set[String]()
    p.stages.foreach { s =>
      val ctx = s"stage '${s.name}'"
      s.inputs.foreach { in =>
        require(seen(in),
          s"$ctx references input '$in' which is not defined above it " +
            "(stages may only depend on earlier stages)")
      }
      s.kind match {
        case "scan" =>
          require(s.inputs.isEmpty, s"$ctx: scan takes no inputs")
          require(s.options.contains("format") && s.options.contains("path"),
            s"$ctx: scan needs 'format' and 'path'")
        case "map" =>
          require(s.inputs.size == 1, s"$ctx: map needs exactly one input")
          require(s.columns.nonEmpty || s.select.nonEmpty || s.drop.nonEmpty,
            s"$ctx: map needs 'columns', 'select' or 'drop'")
        case "filter" =>
          require(s.inputs.size == 1, s"$ctx: filter needs exactly one input")
          require(s.options.contains("condition"), s"$ctx: filter needs 'condition'")
        case "reduce" =>
          require(s.inputs.size == 1, s"$ctx: reduce needs exactly one input")
          require(s.aggs.nonEmpty, s"$ctx: reduce needs 'aggs'")
        case "join" =>
          require(s.inputs.size == 2, s"$ctx: join needs exactly two inputs")
          require(s.options.contains("on") || s.options.contains("condition"),
            s"$ctx: join needs 'on' or 'condition'")
        case "union" =>
          require(s.inputs.size >= 2, s"$ctx: union needs at least two inputs")
        case "sink" =>
          require(s.inputs.size == 1, s"$ctx: sink needs exactly one input")
          require(s.options.contains("format") && s.options.contains("path"),
            s"$ctx: sink needs 'format' and 'path'")
      }
      seen += s.name
    }
    require(p.checkpointDir.nonEmpty || p.stages.forall(!_.materialize),
      "pipeline with materialized stages needs 'checkpoint_dir'")
    p
  }
}
