package perfbench

import java.nio.file.{FileSystems, Files, Paths, StandardWatchEventKinds}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, map_entries, struct, xxhash64}
import org.apache.spark.sql.types.MapType

import graft.checkpoint.JobManifest
import graft.cli.{Main, QueryCommand}
import graft.config.JobConfig
import graft.operators.{Dedup, Provenance, Similarity, TextOps}
import graft.report.Report
import graft.sinks.NdjsonSink
import graft.sources.{DelimitedReader, SdfReader}

/** The traced run's layer probes. Each probe times calls into one layer's
  * public functions inside a span. A Spark call only builds a plan, so a
  * layer is timed by fully evaluating cumulative prefixes with the
  * `bit_xor(xxhash64(struct(*)))` action of `graft.Bench`: the difference
  * between two prefixes is the later step's cost. Every probe runs once
  * untimed (except `Main.runIngestion`, which the timed passes have just
  * warmed), then [[Reps]] times; a probe's figure is the median.
  */
object Layers {
  val Reps = 2

  def eval(df: DataFrame): Long = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => map_entries(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(struct(cols.toSeq: _*)).as("__h")).agg(bit_xor(col("__h"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Median seconds of `reps` spans named `name` around `body`. */
  def timed(name: String, reps: Int = Reps, before: () => Unit = () => (),
      warm: Boolean = true)(body: => Any): Double = {
    if (warm) { before(); body }
    val secs = (1 to reps).map { _ =>
      before()
      Trace.span(name)(body)
      Trace.last(name).seconds
    }
    Bench.median(secs)
  }

  /** Cumulative prefixes, each timed in its own span, interleaved rep by
    * rep so that drift during the probe falls on every prefix alike.
    * Returns per prefix the median of its own time minus the time of the
    * prefix before it in the same rep (the first prefix: its own time).
    */
  def prefixes(steps: (String, () => Any)*): Seq[Double] = {
    steps.foreach(_._2())
    val reps = (1 to Reps).map { _ =>
      steps.map { case (name, body) => Trace.span(name)(body()); Trace.last(name).seconds }
    }
    steps.indices.map { i =>
      Bench.median(reps.map(r => if (i == 0) r(0) else r(i) - r(i - 1)))
    }
  }

  /** Spark totals of the spans named `name`, averaged per span. */
  def perSpan(name: String)(f: Acc => Double): Double = {
    Probe.drain()
    val xs = Trace.all(name).map(s => f(Probe.forSpan(s.id)))
    xs.sum / xs.size
  }

  /** The probes of the layers `workload` itself calls, over that
    * workload's inputs. A layer the workload does not call is absent from
    * the result (the run reports it as 0 s).
    */
  def probe(workload: String, inputs: String, dir: String, textThreshold: Double,
      vecThreshold: Double): Map[String, Double] = {
    Probe.on = true
    val spark = Session.start()
    try workload match {
      case "ingest" => ingest(spark, inputs, dir)
      case "curate" => curate(spark, inputs, dir)
      case "near_dup" => nearDup(spark, inputs, textThreshold, vecThreshold)
    } finally spark.stop()
  }

  private val mb = 1048576.0

  /** Sources, plans, provenance, sink, checkpoint, report and the CLI's
    * ingest entry point.
    */
  def ingest(spark: SparkSession, inputs: String, dir: String): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val hconf = spark.sparkContext.hadoopConfiguration
    val job = JobConfig.load(s"$dir/job.yaml")

    val sdf = s"$inputs/ingest/pubchem/*.sdf.gz"
    val zinc = s"$inputs/ingest/zinc/*.txt.gz"
    val hash = Provenance.configHash(Fs.read(s"$dir/job.yaml"))
    val at = "2026-01-01T00:00:00Z"
    def sdfRead() = SdfReader.read(spark, sdf, "pubchem",
      "PUBCHEM_COMPOUND_CID", "PUBCHEM_OPENEYE_ISO_SMILES")
    def zincRead() = DelimitedReader.read(spark, zinc, "zinc")
    val Seq(split, props, stamped) = prefixes(
      "sources.sdf_split" -> (() => eval(SdfReader.readRecords(spark, sdf))),
      "plans.sdf_props" -> (() => eval(sdfRead())),
      "operators.provenance" -> (() => eval(Provenance.stamp(sdfRead(), "pubchem", hash, at))))
    m("sources.sdf_split_s") = split
    m("plans.sdf_props_s") = props
    m("operators.provenance_s") = stamped
    val zincFiles = Fs.files(s"$inputs/ingest/zinc")
    m("sources.input_mb") =
      (Fs.files(s"$inputs/ingest/pubchem") ++ zincFiles).map(_.length).sum / mb

    // the sink: the stamped ZINC frame evaluated, then written
    val sinkDir = s"$dir/sink"
    val Seq(zincTime, _, write) = prefixes(
      "sources.zinc_read" -> (() => eval(zincRead())),
      "sinks.input" -> (() => eval(Provenance.stamp(zincRead(), "zinc", hash, at))),
      "sinks.ndjson_write" -> { () =>
        Fs.rm(sinkDir)
        NdjsonSink.writeNumberedBatches(Provenance.stamp(zincRead(), "zinc", hash, at),
          sinkDir, "zinc", job.batchSize)
      })
    m("sources.zinc_read_s") = zincTime
    m("sinks.ndjson_write_s") = write
    m("sinks.jobs_per_write") = perSpan("sinks.ndjson_write")(_.jobs.toDouble)
    m("sinks.shuffle_write_mb") = perSpan("sinks.ndjson_write")(_.shuffleWriteBytes / mb)
    m("sinks.input_reads_per_write") =
      perSpan("sinks.ndjson_write")(_.inputBytes.toDouble) / zincFiles.map(_.length).sum
    m("sinks.output_mb") = Fs.files(sinkDir).filter(_.getName.endsWith(".gz")).map(_.length).sum / mb

    // the CLI's ingest entry point, with checkpoint commits counted as they land
    val cpRoot = Paths.get(s"${job.checkpointDir}/ingestion-parse")
    val sourceFiles = job.sources.map(s => s"${s.name}.json").toSet
    val commits = mutable.ArrayBuffer.empty[Int]
    var summaries: Seq[Report.SourceSummary] = Nil
    val watcher = FileSystems.getDefault.newWatchService()
    def resetIngest(): Unit = {
      Fs.rm(job.outputDir)
      Fs.rm(job.checkpointDir)
      Files.createDirectories(cpRoot)
      cpRoot.register(watcher, StandardWatchEventKinds.ENTRY_CREATE)
    }
    def landed(): Int = {
      var n = 0
      var key = watcher.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
      while (key != null) {
        n += key.pollEvents().asScala.count(e => sourceFiles(String.valueOf(e.context())))
        key.reset()
        key = watcher.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      n
    }
    m("cli.ingest_s") = timed("cli.ingest", reps = 1, before = () => { landed(); resetIngest() },
        warm = false) {
      summaries = Main.runIngestion(spark, job)
      commits += landed()
    }
    watcher.close()
    m("checkpoint.commits") = commits.last.toDouble
    val cp = JobManifest.Checkpoint(Map("files_done" -> "2", "last_file" -> "x.sdf.gz",
      "prefix_md5" -> "0" * 32), 3, completed = false)
    m("checkpoint.commit_s") = commits.last *
      timed("checkpoint.commit", reps = 20)(JobManifest.store(s"$dir/commit", "probe", cp, hconf))
    m("report.render_s") = timed("report.render") {
      Report.render(summaries.map(s => s.copy(output = Some(Report.summarizeDirectory(
        s"${job.outputDir}/${s.name}", Seq(".jsonl", ".jsonl.gz"), hconf)))),
        configHash = Some(job.configHash))
    }
    m.toMap
  }

  /** The query CLI's planning and execution, and each chemistry UDF alone. */
  def curate(spark: SparkSession, inputs: String, dir: String): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    // the query CLI: registration, parse, analysis and physical plan, then execution
    val sql = Fs.read(s"$dir/curate.sql")
    var df: DataFrame = null
    m("cli.query_plan_s") = timed("cli.query_plan") {
      df = QueryCommand.run(spark, sql)
      df.queryExecution.executedPlan
    }
    m("cli.query_exec_s") = timed("cli.query_exec", before = () => Fs.rm(s"$dir/query-out")) {
      df.write.mode("overwrite").format("json").save(s"$dir/query-out")
    }

    // each chemistry UDF alone over the curate molecules
    val mols = spark.read.schema("source string, identifier string, smiles string")
      .json(s"$inputs/curate/input").select("smiles").cache()
    mols.count()
    Seq("is_valid_smiles" -> "functions.is_valid", "normalize_smiles" -> "functions.normalize",
      "molecular_weight" -> "functions.molecular_weight", "morgan_fp" -> "functions.morgan_fp")
      .foreach { case (f, name) =>
        m(s"${name}_s") = timed(name)(eval(mols.selectExpr(s"$f(smiles) AS r")))
      }
    mols.unpersist()
    m.toMap
  }

  /** The pair operators over the cached corpora, and the LSH yield. */
  def nearDup(spark: SparkSession, inputs: String, textThreshold: Double,
      vecThreshold: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val (docs, vecs) = NearDup.load(spark, inputs)
    m("operators.minhash_candidates_s") = timed("operators.minhash_candidates")(
      eval(Dedup.minHashCandidates(docs, "doc_id", "text", 8, 4)))
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text", 8, 4).count()
    val verified = Dedup.verifiedPairs(docs, "doc_id", "text", textThreshold).count()
    m("operators.candidate_pairs") = cands.toDouble
    m("operators.verified_pairs") = verified.toDouble
    m("operators.verify_yield") = if (cands == 0) 0.0 else verified.toDouble / cands
    m("operators.ann_banded_s") = timed("operators.ann_banded")(
      eval(Similarity.nearDupesAnnBanded(vecs, vecThreshold)))
    m("operators.source_overlap_s") = timed("operators.source_overlap")(
      eval(TextOps.sourceOverlap(docs, "source", "text")))
    m.toMap
  }
}
