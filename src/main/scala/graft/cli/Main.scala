package graft.cli

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.checkpoint.JobManifest
import graft.config.JobConfig
import graft.config.JobConfig.{JobSpec, SourceSpec}
import graft.report.Report
import graft.report.Report.SourceSummary
import graft.sinks.NdjsonSink
import graft.sources.{Aria2Mirror, DelimitedReader, HttpJsonSource, HttpPaginatedSource, RetryingHttp, SdfReader}

/** CLI entry points mirroring the reference's `smiles download` /
  * `smiles ingest` commands (/root/reference/src/open_molecule_data_
  * pipeline/ingestion/cli.py) on Spark execution.
  *
  * `ingest` runs each configured source through its registered reader,
  * writes reference-parity numbered NDJSON batches, marks the source
  * checkpoint completed (file-level idempotence — a re-run skips
  * completed sources, S21), and renders the Markdown report.
  * `concurrency` maps to parallel Spark actions on the driver; Spark
  * parallelizes *within* a source regardless, which the reference's
  * one-thread-per-source model could not.
  */
object Main {

  /** Source registry (S31): type → reader. Plain function table. */
  def readers: Map[String, (SparkSession, SourceSpec) => DataFrame] = Map(
    "sdf" -> ((spark, spec) => SdfReader.read(
      spark, spec.options("paths"), spec.name,
      identifierTag = spec.options.getOrElse("identifier_tag", "ID"),
      smilesTag = spec.options.getOrElse("smiles_tag", "SMILES"),
      metadataTags = spec.options.get("metadata_tags").map(_.split(",").toSeq))),
    "pubchem" -> ((spark, spec) => SdfReader.read(
      spark, spec.options("paths"), spec.name,
      identifierTag = spec.options.getOrElse("identifier_tag", "PUBCHEM_COMPOUND_CID"),
      smilesTag = spec.options.getOrElse("smiles_tag", "PUBCHEM_OPENEYE_ISO_SMILES"),
      metadataTags = spec.options.get("metadata_tags").map(_.split(",").toSeq))),
    "chembl" -> ((spark, spec) => SdfReader.read(
      spark, spec.options("paths"), spec.name,
      identifierTag = spec.options.getOrElse("identifier_tag", "ChEMBL_ID"),
      smilesTag = spec.options.getOrElse("smiles_tag", "CANONICAL_SMILES"),
      metadataTags = spec.options.get("metadata_tags").map(_.split(",").toSeq))),
    "zinc" -> ((spark, spec) => DelimitedReader.read(
      spark, spec.options("paths"), spec.name,
      delimiter = spec.options.get("delimiter").filter(_ != "whitespace").orElse(
        if (spec.options.get("delimiter").contains("whitespace")) None else Some("\t")),
      smilesColumn = spec.options.getOrElse("smiles_column", "0").toInt,
      identifierColumn = spec.options.getOrElse("identifier_column", "1").toInt)),
    "delimited" -> ((spark, spec) => DelimitedReader.read(
      spark, spec.options("paths"), spec.name,
      delimiter = spec.options.get("delimiter"),
      smilesColumn = spec.options.getOrElse("smiles_column", "0").toInt,
      identifierColumn = spec.options.getOrElse("identifier_column", "1").toInt)))

  /** Download phase (S10–S13): mirror each source's manifest into its
    * download_dir via the aria2 seam, with per-source checkpoint
    * completion and a Markdown report. The process runner is injectable
    * (tests use a fake; the CLI wires a real subprocess).
    */
  def runDownload(job: JobSpec,
      runner: Seq[String] => Int = Aria2Mirror.realRunner,
      log: Option[graft.report.RunLog] = None): Seq[SourceSummary] = {
    val rl = log.getOrElse(new graft.report.RunLog(s"${job.outputDir}/run-log.jsonl"))
    rl.log("job_start", "phase" -> "download", "n_sources" -> job.sources.size)
    val checkpointRoot = s"${job.checkpointDir}/ingestion-download"
    val summaries = job.sources.map { spec =>
      if (JobManifest.isCompleted(checkpointRoot, spec.name)) {
        rl.log("source_skipped", "phase" -> "download",
          "source" -> spec.name, "type" -> spec.sourceType)
        SourceSummary(spec.name, spec.sourceType, completed = true, 0, 0, 0, None,
          spec.options.get("download_dir").map(d => Report.summarizeDirectory(d)))
      } else {
        val linkFile = spec.options.getOrElse("link_file",
          throw new IllegalArgumentException(s"source '${spec.name}' missing link_file"))
        val entries = spec.sourceType match {
          case "pubchem" => graft.sources.Manifests.parsePubChem(linkFile)
          case "zinc" => graft.sources.Manifests.parseZinc(linkFile)
          case _ => graft.sources.Manifests.parseChembl(linkFile)
        }
        val dir = spec.options.getOrElse("download_dir", s"${job.outputDir}/raw/${spec.name}")
        rl.log("source_start", "phase" -> "download",
          "source" -> spec.name, "type" -> spec.sourceType, "n_archives" -> entries.size)
        val got = Aria2Mirror.mirrorAll(entries, dir, runner)
        JobManifest.markCompleted(checkpointRoot, spec.name, got.size)
        rl.log("source_complete", "phase" -> "download",
          "source" -> spec.name, "type" -> spec.sourceType, "n_mirrored" -> got.size)
        SourceSummary(spec.name, spec.sourceType, completed = true,
          got.size, got.size, 0, None, Some(Report.summarizeDirectory(dir)))
      }
    }
    rl.log("job_complete", "phase" -> "download", "n_sources" -> summaries.size)
    Files.createDirectories(Paths.get(job.outputDir))
    Files.writeString(Paths.get(job.outputDir, "raw-data-report.md"),
      Report.render(summaries, configHash = Some(job.configHash).filter(_.nonEmpty)))
    summaries
  }

  /** Paginated-HTTP source types (S31 registry, reference runner.py:
    * 45-50 `CONNECTOR_REGISTRY`): these don't fit the DataFrame reader
    * table — they run the checkpointed fetch loop with per-page resume.
    */
  private val HttpSourceTypes = Set("http", "chemspider")

  private def runHttpSource(spark: SparkSession, job: JobSpec, spec: SourceSpec,
      checkpointRoot: String, transport: RetryingHttp.Transport): SourceSummary = {
    val config = HttpJsonSource.fromOptions(spec.name, spec.sourceType,
      spec.options, job.batchSize)
    val res = HttpPaginatedSource.run(spark, spec.name,
      HttpJsonSource.fetcher(config, transport),
      config.startCursor, job.outputDir, checkpointRoot,
      compress = job.compressOutput)
    SourceSummary(spec.name, spec.sourceType, completed = res.completed,
      res.pagesFetched, res.pagesFetched, res.recordsWritten,
      Some(Report.summarizeDirectory(s"${job.outputDir}/${spec.name}",
        Seq(".jsonl", ".jsonl.gz"), spark.sparkContext.hadoopConfiguration)), None)
  }

  /** Expand comma-separated path patterns to concrete files (sorted for
    * a stable resume order). Patterns that match nothing (or point at
    * directories Spark can read directly) pass through unchanged.
    */
  private[graft] def expandPaths(paths: String,
      hconf: org.apache.hadoop.conf.Configuration): Seq[String] =
    graft.sources.PathPatterns.split(paths).flatMap { pat =>
      val p = new org.apache.hadoop.fs.Path(pat)
      Option(p.getFileSystem(hconf).globStatus(p))
        .filter(_.nonEmpty)
        .map(_.toSeq.map(_.getPath.toString))
        .getOrElse(Seq(pat))
    }.sorted

  /** MD5 fingerprint of an ordered file listing (resume-drift check). */
  private def prefixMd5(files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach(f => md.update((f + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** File-source ingest with mid-source resume (S19 upgrade, reference
    * pubchem.py:253-269 file_index resume): input files are processed
    * in waves of `resume_wave_files`, the per-source checkpoint records
    * `{files_done, batch_index}` after every wave, and a re-run drops
    * the completed files — a crash 99 % through a 353-file corpus
    * redoes one wave, not everything. Each wave is still a fully
    * distributed Spark write; wave size trades resume granularity
    * against per-wave job overhead. `maxWaves` is a test seam
    * (simulated crash).
    */
  private[graft] def ingestFilesResumable(spark: SparkSession, job: JobSpec,
      spec: SourceSpec, checkpointRoot: String,
      reader: (SparkSession, SourceSpec) => DataFrame,
      maxWaves: Int = Int.MaxValue,
      ingestedAt: String = java.time.Instant.now().toString): (Long, Long) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val waveSize = spec.options.getOrElse("resume_wave_files", "64").toInt
    val files = expandPaths(spec.options("paths"), hconf)
    val prior = JobManifest.load(checkpointRoot, spec.name, hconf)
    var done = prior.flatMap(_.cursor.get("files_done")).map(_.toInt).getOrElse(0)
    // the resume index is positional over a re-globbed, re-sorted list;
    // if files appeared or vanished between the crash and the re-run the
    // index would silently skip or re-ingest the wrong files — verify a
    // fingerprint of the WHOLE completed prefix (a last-file-only check
    // misses balanced add+remove drift earlier in the listing) and fail
    // loudly on drift (the operator must reconcile, not us guess)
    prior.flatMap(_.cursor.get("prefix_md5")).foreach { want =>
      val got = prefixMd5(files.take(done))
      if (got != want)
        throw new IllegalStateException(
          s"resume drift for source '${spec.name}': the first $done files of the " +
            "current listing differ from the checkpointed completed prefix — the " +
            "input set changed since the checkpoint; clear the checkpoint or " +
            "restore the files")
    }
    // secondary (and legacy-checkpoint) check on the last completed file
    prior.flatMap(_.cursor.get("last_file")).foreach { last =>
      val at = if (done > 0 && done <= files.size) files(done - 1) else ""
      if (at != last)
        throw new IllegalStateException(
          s"resume drift for source '${spec.name}': checkpoint says file #$done " +
            s"was '$last' but the current listing has '$at' there — the input " +
            "set changed since the checkpoint; clear the checkpoint or restore the files")
    }
    var batchIdx = prior.map(_.batchIndex).getOrElse(0)
    var records = 0L
    var waves = 0
    val it = files.drop(done).grouped(math.max(1, waveSize))
    while (it.hasNext && waves < maxWaves) {
      val wave = it.next()
      // provenance stamp (system-plan.md:32): source, config hash, and
      // job-start instant ride the metadata map of every record written
      val df = graft.operators.Provenance.stamp(
        reader(spark, spec.copy(options = spec.options + ("paths" -> wave.mkString(",")))),
        spec.name, job.configHash, ingestedAt)
      val res = NdjsonSink.writeNumberedBatches(df, job.outputDir, spec.name,
        job.batchSize, compress = job.compressOutput, startBatch = batchIdx)
      batchIdx += res.batches.toInt
      records += res.records
      done += wave.size
      waves += 1
      JobManifest.store(checkpointRoot, spec.name,
        JobManifest.Checkpoint(
          Map("files_done" -> done.toString, "last_file" -> wave.last,
            "prefix_md5" -> prefixMd5(files.take(done))),
          batchIdx, completed = false), hconf)
    }
    if (!it.hasNext)
      JobManifest.markCompleted(checkpointRoot, spec.name, batchIdx, hconf)
    (batchIdx.toLong, records)
  }

  def runIngestion(spark: SparkSession, job: JobSpec,
      transport: RetryingHttp.Transport = RetryingHttp.realTransport,
      log: Option[graft.report.RunLog] = None,
      now: java.time.Instant = java.time.Instant.now()): Seq[SourceSummary] = {
    val rl = log.getOrElse(new graft.report.RunLog(s"${job.outputDir}/run-log.jsonl"))
    val checkpointRoot = s"${job.checkpointDir}/ingestion-parse"
    val hconf = spark.sparkContext.hadoopConfiguration
    // one job-start instant stamps every source's records (audit wants
    // "which run", not "which wave"); injectable for golden specs
    val ingestedAt = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(now.atOffset(java.time.ZoneOffset.UTC))
    // pool must be shut down or the non-daemon workers keep the JVM alive
    val pool = java.util.concurrent.Executors.newFixedThreadPool(job.concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

    rl.log("job_start", "phase" -> "ingest",
      "n_sources" -> job.sources.size, "concurrency" -> job.concurrency,
      "config_hash" -> job.configHash)
    try {
    val futures = job.sources.map { spec =>
      Future {
        // fair-scheduler pool per source: one slow source cannot starve
        // the others' task slots (S23 on Spark's scheduler)
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", spec.name)
        val t0 = System.nanoTime()
        def done(s: SourceSummary): SourceSummary = {
          rl.log("source_complete", "phase" -> "ingest",
            "source" -> spec.name, "type" -> spec.sourceType,
            "records" -> s.recordsWritten, "batches" -> s.batchesWritten,
            "completed" -> s.completed,
            "duration_ms" -> (System.nanoTime() - t0) / 1000000L)
          s
        }
        try {
          if (HttpSourceTypes(spec.sourceType)) {
            // per-page checkpointed fetch loop; handles its own
            // skip-completed short-circuit and mid-source cursor resume
            rl.log("source_start", "phase" -> "ingest",
              "source" -> spec.name, "type" -> spec.sourceType)
            done(runHttpSource(spark, job, spec, checkpointRoot, transport))
          } else if (JobManifest.isCompleted(checkpointRoot, spec.name, hconf)) {
            val cp = JobManifest.load(checkpointRoot, spec.name, hconf).get
            rl.log("source_skipped", "phase" -> "ingest",
              "source" -> spec.name, "type" -> spec.sourceType)
            SourceSummary(spec.name, spec.sourceType, completed = true,
              cp.batchIndex, 0, 0,
              Some(Report.summarizeDirectory(s"${job.outputDir}/${spec.name}",
                Seq(".jsonl", ".jsonl.gz"), hconf)), None)
          } else {
            val reader = readers.getOrElse(spec.sourceType,
              throw new IllegalArgumentException(s"no reader for '${spec.sourceType}'"))
            rl.log("source_start", "phase" -> "ingest",
              "source" -> spec.name, "type" -> spec.sourceType)
            val (batches, records) = ingestFilesResumable(spark, job, spec,
              checkpointRoot, reader, ingestedAt = ingestedAt)
            done(SourceSummary(spec.name, spec.sourceType, completed = true,
              batches, batches, records,
              Some(Report.summarizeDirectory(s"${job.outputDir}/${spec.name}",
                Seq(".jsonl", ".jsonl.gz"), hconf)), None))
          }
        } catch {
          case e: Throwable =>
            rl.log("source_failed", "phase" -> "ingest",
              "source" -> spec.name, "type" -> spec.sourceType,
              "error" -> String.valueOf(e.getMessage))
            throw e
        }
      }
    }
    // settle EVERY source before concluding (dead-letter semantics,
    // mirroring the bulk mirror's skip-and-continue): fail-fast
    // Future.sequence would abandon the await on the first failure
    // while sibling sources keep running and logging — losing their
    // completed work from the report and leaving the run log's tail
    // racy. Instead each future is settled to a Try, the job completes
    // deterministically (every source has logged source_complete or
    // source_failed before job_complete), successful sources keep
    // their report, and the first failure still fails the job.
    val settled = Await.result(
      Future.sequence(futures.map(_.transform(scala.util.Success(_)))),
      Duration.Inf)
    val failures = settled.collect { case scala.util.Failure(e) => e }
    val summaries = settled.collect { case scala.util.Success(s) => s }
    rl.log("job_complete", "phase" -> "ingest",
      "n_sources" -> job.sources.size, "n_failed" -> failures.size,
      "total_records" -> summaries.map(_.recordsWritten).sum)
    // a report render/write failure must never MASK a source failure
    // (the actual root cause): capture it and rethrow it only when no
    // source failed, otherwise attach it as suppressed
    val reportError =
      try {
        val report = Report.render(summaries,
          configHash = Some(job.configHash).filter(_.nonEmpty))
        Files.createDirectories(Paths.get(job.outputDir))
        Files.writeString(Paths.get(job.outputDir, "raw-data-report.md"), report)
        None
      } catch { case scala.util.control.NonFatal(e) => Some(e) }
    failures.headOption match {
      case Some(first) =>
        failures.drop(1).foreach(first.addSuppressed)
        reportError.foreach(first.addSuppressed)
        throw first
      case None =>
        reportError.foreach(e => throw e)
    }
    summaries
    } finally pool.shutdown()
  }

  /** `pipeline run|resume`: registers the engine's SQL functions (the
    * same registry `query` uses, so a `map` stage can call
    * `is_valid_smiles`) and runs the declared stage DAG.
    */
  def runPipeline(spark: SparkSession, configPath: String, resume: Boolean,
      vars: Map[String, String]): graft.pipeline.PipelineRunner.RunResult = {
    QueryCommand.registerFunctions(spark)
    graft.pipeline.PipelineRunner.run(spark,
      graft.pipeline.PipelineConfig.load(configPath), resume = resume, vars = vars)
  }

  /** The CLI entry point. Builds a session with the CLI's settings and
    * stops it at the end, unless a usable session (active or default)
    * already existed: then `getOrCreate` returns that caller's session,
    * which is used and left running. A reused session keeps the
    * CLI's runtime SQL settings (32 shuffle partitions, UTC session time
    * zone) and the WARN log level after the call.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.cli.Main <download|ingest> <config.yaml> | " +
        "pipeline <run|resume> <pipeline.yaml> | " +
        "query <sql|@file> [--data dir] [--table name=path]... [--out dir]")
    val callerSession = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args(0) match {
        case "ingest" =>
          val summaries = runIngestion(spark, JobConfig.load(args(1)))
          summaries.sortBy(_.name).foreach(s =>
            println(s"${s.name}: ${s.recordsWritten} records in ${s.batchesWritten} batches"))
        case "download" =>
          val summaries = runDownload(JobConfig.load(args(1)))
          summaries.sortBy(_.name).foreach(s =>
            println(s"${s.name}: ${s.batchesWritten} archives mirrored"))
        // `pipeline run` executes the declared stage DAG from scratch;
        // `pipeline resume` skips completed materialized stages and
        // sinks (reference contract: system-plan.md:21). `${VAR}` in
        // stage paths resolves from the process environment.
        case "pipeline" =>
          require(args.length >= 3,
            "usage: graft.cli.Main pipeline <run|resume> <pipeline.yaml>")
          val resume = args(1) match {
            case "run" => false
            case "resume" => true
            case o => throw new IllegalArgumentException(s"unknown pipeline command '$o'")
          }
          val res = runPipeline(spark, args(2), resume, sys.env.toMap)
          res.stages.foreach(s => println(s"${s.name} [${s.kind}]: ${s.action}"))
          if (!res.completed) throw new IllegalStateException(
            "pipeline halted before all stages completed")
        // ad-hoc SQL against the warehouse (SURVEY.md §7.1 `query`):
        // registers the standard tables under --data plus any
        // --table name=path parquet dirs and the full graft function
        // registry, then prints (or --out lands) the result
        case "query" =>
          QueryCommand.execute(spark, args.toSeq.tail)
          ()
        case other =>
          throw new IllegalArgumentException(s"unknown command '$other'")
      }
    } finally if (callerSession.isEmpty) spark.stop()
  }
}
