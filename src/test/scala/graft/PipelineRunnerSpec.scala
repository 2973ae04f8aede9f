package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{PipelineConfig, PipelineRunner}

/** Declarative YAML pipeline runner (reference contract:
  * /root/reference/docs/system-plan.md:17-21 — PipelineConfig/
  * StageConfig YAML, map/reduce/filter stage types, `pipeline run` /
  * `pipeline resume`): config validation, end-to-end execution,
  * crash + resume with completed-stage skip, and the fused-plan
  * property (declared stages collapse into one Catalyst plan with
  * pushdown into the scan).
  */
class PipelineRunnerSpec extends SparkSpec {

  private def writeInput(dir: String): Unit = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "en" else "de", s"doc text number $i"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
  }

  private def yaml(materializeTokens: Boolean = true): String =
    s"""pipeline:
       |  name: p1
       |  checkpoint_dir: $${CKPT}
       |  stages:
       |    - name: docs
       |      type: scan
       |      format: parquet
       |      path: $${DIR}/docs.parquet
       |    - name: scored
       |      type: map
       |      input: docs
       |      materialize: $materializeTokens
       |      columns:
       |        n_chars: cast(length(text) as bigint)
       |    - name: kept
       |      type: filter
       |      input: scored
       |      condition: doc_id <= 60
       |    - name: rollup
       |      type: reduce
       |      input: kept
       |      group_by: [lang]
       |      aggs:
       |        n_docs: count(*)
       |        total_chars: cast(sum(n_chars) as bigint)
       |    - name: out
       |      type: sink
       |      input: rollup
       |      format: parquet
       |      path: $${CKPT}/out
       |""".stripMargin

  test("config validation rejects structural errors with precise messages") {
    def bad(y: String): String =
      intercept[IllegalArgumentException](PipelineConfig.parse(y)).getMessage
    assert(bad("job: {}").contains("pipeline"))
    assert(bad(
      """pipeline:
        |  name: p
        |  stages:
        |    - {name: a, type: teleport}
        |""".stripMargin).contains("unknown type 'teleport'"))
    assert(bad(
      """pipeline:
        |  name: p
        |  stages:
        |    - {name: f, type: filter, input: missing, condition: "1=1"}
        |""".stripMargin).contains("not defined above it"))
    // forward references are rejected even if the stage exists later:
    // file order must be a valid topological order
    assert(bad(
      """pipeline:
        |  name: p
        |  stages:
        |    - {name: f, type: filter, input: s, condition: "1=1"}
        |    - {name: s, type: scan, format: parquet, path: /x}
        |""".stripMargin).contains("not defined above it"))
    assert(bad(
      """pipeline:
        |  name: p
        |  stages:
        |    - {name: s, type: scan, format: parquet, path: /x}
        |    - {name: s, type: filter, input: s, condition: "1=1"}
        |""".stripMargin).contains("duplicate stage names"))
    assert(bad(
      """pipeline:
        |  name: p
        |  stages:
        |    - {name: s, type: scan, format: parquet, path: /x}
        |    - {name: j, type: join, inputs: [s], on: [k]}
        |""".stripMargin).contains("exactly two inputs"))
  }

  test("pipeline run executes the DAG end-to-end and the sink matches the by-hand plan") {
    val dir = tmpDir("pipe_run")
    val ckpt = tmpDir("pipe_run_ck")
    writeInput(dir)
    val spec = PipelineConfig.parse(yaml())
    val res = PipelineRunner.run(spark, spec,
      vars = Map("DIR" -> dir, "CKPT" -> ckpt))
    assert(res.completed)
    assert(res.stages.map(s => s.name -> s.action) === Seq(
      "docs" -> "declared", "scored" -> "materialized", "kept" -> "declared",
      "rollup" -> "declared", "out" -> "written"))

    val got = spark.read.parquet(s"$ckpt/out").orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = spark.read.parquet(s"$dir/docs.parquet")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .filter(col("doc_id") <= 60)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got === want)
  }

  test("crash mid-run, then resume: completed stages are skipped, not recomputed") {
    val dir = tmpDir("pipe_resume")
    val ckpt = tmpDir("pipe_resume_ck")
    writeInput(dir)
    val spec = PipelineConfig.parse(yaml())
    val vars = Map("DIR" -> dir, "CKPT" -> ckpt)

    // crash after the first materialization (the sink never runs)
    val crashed = PipelineRunner.run(spark, spec, vars = vars, maxActions = 1)
    assert(!crashed.completed)
    assert(crashed.stages.map(s => s.name -> s.action) === Seq(
      "docs" -> "declared", "scored" -> "materialized", "kept" -> "declared",
      "rollup" -> "declared", "out" -> "not_reached"))
    assert(!new java.io.File(s"$ckpt/out").exists())

    // poison-pill the INPUT: if resume recomputed the materialized
    // stage, its subtree would re-read the (now corrupted) source and
    // fail — skipping is observable, not just reported
    val docsDir = new java.io.File(s"$dir/docs.parquet")
    docsDir.listFiles().foreach(_.delete())
    docsDir.delete()

    val resumed = PipelineRunner.run(spark, spec, resume = true, vars = vars)
    assert(resumed.completed)
    assert(resumed.stages.map(s => s.name -> s.action) === Seq(
      "docs" -> "declared", "scored" -> "resumed", "kept" -> "declared",
      "rollup" -> "declared", "out" -> "written"))
    assert(spark.read.parquet(s"$ckpt/out").count() === 2)

    // a second resume also skips the completed sink
    val again = PipelineRunner.run(spark, spec, resume = true, vars = vars)
    assert(again.stages.map(_.action) ===
      Seq("declared", "resumed", "declared", "declared", "skipped"))
  }

  test("plain `run` ignores prior checkpoints (fresh execution overwrites)") {
    val dir = tmpDir("pipe_fresh")
    val ckpt = tmpDir("pipe_fresh_ck")
    writeInput(dir)
    val spec = PipelineConfig.parse(yaml())
    val vars = Map("DIR" -> dir, "CKPT" -> ckpt)
    PipelineRunner.run(spark, spec, vars = vars)
    // change the input; a non-resume run must reflect it
    import spark.implicits._
    (1 to 10).map(i => (i.toLong, "fr", "petit texte"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val res = PipelineRunner.run(spark, spec, vars = vars)
    assert(res.stages.count(_.action == "materialized") === 1)
    val out = spark.read.parquet(s"$ckpt/out").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("fr"))
  }

  test("declared (non-materialized) stages fuse into one plan with scan pushdown") {
    val dir = tmpDir("pipe_fused")
    writeInput(dir)
    val spec = PipelineConfig.parse(
      s"""pipeline:
         |  name: fused
         |  stages:
         |    - {name: docs, type: scan, format: parquet, path: $dir/docs.parquet}
         |    - {name: f, type: filter, input: docs, condition: doc_id <= 10}
         |    - name: m
         |      type: map
         |      input: f
         |      columns:
         |        n_chars: cast(length(text) as bigint)
         |      select: [doc_id, n_chars]
         |""".stripMargin)
    val df = PipelineRunner.run(spark, spec).frame("m")
    val plan = df.queryExecution.executedPlan.toString
    // the filter stage's predicate reaches the parquet scan...
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThanOrEqual(doc_id,10)]"),
      s"filter must push into the scan:\n$plan")
    // ...and the scan reads only the referenced columns (lang pruned)
    assert(plan.contains("ReadSchema") && !plan.contains("lang"),
      s"unused column must be pruned from the scan:\n$plan")
    assert(df.count() === 10)
  }

  test("join and union stage types compose") {
    val dir = tmpDir("pipe_join")
    import spark.implicits._
    (1 to 20).map(i => (i.toLong, s"n$i")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/a.parquet")
    (1 to 20).filter(_ % 2 == 0).map(i => (i.toLong, i * 10L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/b.parquet")
    val spec = PipelineConfig.parse(
      s"""pipeline:
         |  name: joined
         |  stages:
         |    - {name: a, type: scan, format: parquet, path: $dir/a.parquet}
         |    - {name: b, type: scan, format: parquet, path: $dir/b.parquet}
         |    - {name: j, type: join, inputs: [a, b], on: [k], how: inner}
         |    - {name: u, type: union, inputs: [j, j]}
         |    - name: r
         |      type: reduce
         |      input: u
         |      aggs:
         |        n: count(*)
         |        total_v: cast(sum(v) as bigint)
         |""".stripMargin)
    val row = PipelineRunner.run(spark, spec).frame("r").collect().head
    assert(row.getLong(0) === 20L) // 10 matched keys, unioned twice
    assert(row.getLong(1) === 2L * (2 to 20 by 2).map(_ * 10).sum)
  }

  test("`pipeline run` registers the engine functions a map stage calls") {
    import spark.implicits._
    val dir = tmpDir("pipe_chem")
    Seq(("m1", "CCO"), ("m2", "OCC.[Na+]"), ("m3", "C[C@H](N)O"), ("m4", "CC("))
      .toDF("identifier", "smiles")
      .write.mode("overwrite").json(s"$dir/mols")
    val yamlPath = java.nio.file.Paths.get(dir, "pipeline.yaml")
    java.nio.file.Files.writeString(yamlPath,
      s"""pipeline:
         |  name: curate
         |  stages:
         |    - {name: mols, type: scan, format: json, path: $dir/mols}
         |    - name: curated
         |      type: map
         |      input: mols
         |      columns:
         |        valid: is_valid_smiles(smiles)
         |        norm: normalize_smiles(smiles)
         |    - {name: kept, type: filter, input: curated, condition: valid}
         |    - name: groups
         |      type: reduce
         |      input: kept
         |      group_by: [norm]
         |      aggs:
         |        n_members: count(*)
         |        keeper: min(identifier)
         |    - {name: out, type: sink, input: groups, format: json, path: $dir/out}
         |""".stripMargin)
    // a new session's function registry holds only the built-ins, as in
    // a fresh `graft.cli.Main pipeline run` process
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("is_valid_smiles"))
    val res = graft.cli.Main.runPipeline(fresh, yamlPath.toString, resume = false,
      vars = Map.empty)
    assert(res.completed)
    val got = fresh.read.json(s"$dir/out").select("norm", "n_members", "keeper")
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(("CCO", 1L, "m1"), ("C[CH](N)O", 1L, "m3"), ("OCC", 1L, "m2")))
  }

  test("undefined ${VAR} in a path fails loudly") {
    val spec = PipelineConfig.parse(
      """pipeline:
        |  name: v
        |  stages:
        |    - {name: s, type: scan, format: parquet, path: "${NOPE}/x"}
        |""".stripMargin)
    val e = intercept[IllegalArgumentException](
      PipelineRunner.run(spark, spec).frame("s"))
    assert(e.getMessage.contains("NOPE"))
  }
}
