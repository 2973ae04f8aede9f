package graft

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, lit, map}

import graft.checkpoint.JobManifest
import graft.cli.Main
import graft.config.JobConfig
import graft.config.JobConfig.JobSpec
import graft.sinks.NdjsonSink
import graft.sources.DelimitedReader

/** The numbered-batch sink's contract: one read of the input in one
  * Spark job with no shuffle, batches of at most `batchSize` records
  * that keep input order, and exactly-once resume from a crash at
  * every staging/rename/checkpoint boundary of a wave.
  */
class NdjsonSinkSpec extends SparkSpec {

  private val BatchName = "zinc-batch-(\\d{6})\\.jsonl(?:\\.gz)?".r
  private val IdField = "\"identifier\":\"([^\"]+)\"".r

  private def lines(p: Path): Seq[String] = {
    val in = Files.newInputStream(p)
    val src = scala.io.Source.fromInputStream(
      if (p.toString.endsWith(".gz")) new java.util.zip.GZIPInputStream(in) else in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  /** The batch files of `out/zinc` as (number, identifiers), by number. */
  private def batches(out: String): Seq[(Int, Seq[String])] =
    Files.list(Paths.get(s"$out/zinc")).iterator().asScala.toSeq
      .flatMap(p => p.getFileName.toString match {
        case BatchName(n) => Some(n.toInt -> lines(p).map(l => IdField.findFirstMatchIn(l).get.group(1)))
        case _ => None
      }).sortBy(_._1)

  private def writeGz(path: String, content: String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), "UTF-8"))
    try w.write(content) finally w.close()
  }

  test("one write reads its gzip input once, in one job, with no shuffle; batches keep input order") {
    val dir = tmpDir("sink_once")
    val files = (1 to 2).map { f =>
      val path = s"$dir/z$f.txt.gz"
      writeGz(path, (1 to 23).map(i => f"${"C" * (i % 5 + 1)}\tZ${f}_$i%03d\n").mkString)
      path
    }
    val df = DelimitedReader.read(spark, s"$dir/*.txt.gz", "zinc")
    val jobs = new AtomicLong
    val shuffle = new AtomicLong
    val input = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    }
    org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val res = try {
      val r = NdjsonSink.writeNumberedBatches(df, s"$dir/out", "zinc", 5)
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 1, "one Spark job per write")
    assert(shuffle.get === 0, "no shuffle")
    assert(input.get === files.map(f => Files.size(Paths.get(f))).sum, "the input is read once")

    val got = batches(s"$dir/out")
    assert(res.records === 46 && res.batches === got.size)
    assert(got.map(_._1) === (1 to got.size), "batches numbered 1..n")
    assert(got.forall(_._2.size <= 5), "at most batchSize records per batch")
    // concatenated in batch order, each file's records come in input
    // order and as one contiguous run
    val all = got.flatMap(_._2)
    val byFile = all.groupBy(_.takeWhile(_ != '_'))
    assert(byFile.keySet === Set("Z1", "Z2"))
    byFile.values.foreach(ids => assert(ids === ids.sorted && ids.distinct.size === 23))
    assert(all.map(_.takeWhile(_ != '_')).sliding(2).count(p => p.head != p.last) === 1)
    assert(!Files.exists(Paths.get(s"$dir/out/_staging-zinc")), "no staging left behind")
  }

  test("a gzip wave's batches do not depend on Spark's file-packing settings; batch 1 starts the first file") {
    val dir = tmpDir("sink_layout")
    // the last file is the largest, so an order by size would start with it
    val files = (0 until 4).map { f =>
      val path = s"$dir/tranche_00$f.txt.gz"
      writeGz(path, (1 to 30 + 10 * f).map(i => f"C\tT${f}_$i%03d\n").mkString)
      path
    }
    def write(settings: (String, String)*): Map[String, Seq[Byte]] = {
      val before = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      val out = tmpDir("sink_layout_out")
      try NdjsonSink.writeNumberedBatches(
        DelimitedReader.read(spark, files.mkString(","), "zinc"), out, "zinc", 25)
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Files.list(Paths.get(s"$out/zinc")).iterator().asScala.toSeq
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    }
    val packed = write()
    val split = write("spark.sql.files.maxPartitionBytes" -> "64",
      "spark.sql.files.openCostInBytes" -> "0")
    assert(packed.keySet === split.keySet)
    packed.foreach { case (name, bytes) => assert(bytes === split(name), name) }
    assert(packed.size === 9, "each file ends with its own partial batch")
    val batch1 = scala.io.Source.fromInputStream(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(packed("zinc-batch-000001.jsonl.gz").toArray)), "UTF-8")
    val ids = try batch1.getLines().map(l => IdField.findFirstMatchIn(l).get.group(1)).toList
      finally batch1.close()
    assert(ids === (1 to 25).map(i => f"T0_$i%03d"), "batch 1 holds the first listed file's records")
  }

  test("a failed write removes its staging directory and renames no batch") {
    val dir = tmpDir("sink_fail")
    Files.createDirectories(Paths.get(s"$dir/out/x"))
    val old = Paths.get(s"$dir/out/x/x-batch-000001.jsonl")
    Files.writeString(old, "{\"id\":\"old\"}\n")
    val boom = org.apache.spark.sql.functions.udf((i: Long) =>
      if (i == 7) throw new IllegalStateException("planted failure") else i.toString)
    val df = spark.range(0, 20, 1, 1).select(boom(col("id")).as("id"))
    val e = intercept[org.apache.spark.SparkException](
      NdjsonSink.writeNumberedBatches(df, s"$dir/out", "x", 2, compress = false))
    assert(e.getMessage.contains("planted failure"))
    assert(!Files.exists(Paths.get(s"$dir/out/_staging-x")), "no staging left behind")
    assert(Files.list(Paths.get(s"$dir/out/x")).iterator().asScala.toSeq === Seq(old))
    assert(Files.readString(old) === "{\"id\":\"old\"}\n", "no batch renamed")
  }

  // --- encoding: to_json over the internal rows --------------------

  private val json = new com.fasterxml.jackson.databind.ObjectMapper

  /** The lines of every batch of `out/source`, in batch order. */
  private def batchLines(out: String, source: String): Seq[String] =
    Files.list(Paths.get(s"$out/$source")).iterator().asScala.toSeq.map(_.toString)
      .filter(_.endsWith(".jsonl")).sorted.flatMap(p => lines(Paths.get(p)))

  test("each record is toJSON's line; maps of 5+ entries keep insertion order") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val df = spark.sql(
      """SELECT id, name, d,
        |  named_struct('a', id, 'b', name, 'c', array(1.5D, CAST(NULL AS DOUBLE))) AS s,
        |  array(name, NULL, 'x') AS arr,
        |  TIMESTAMP'2026-01-02 03:04:05.123456' + make_interval(0, 0, 0, id) AS ts,
        |  IF(id = 2, NULL, map('k1', name, 'k2', 'v', 'k3', 'w', 'k4', '')) AS m
        |FROM VALUES (1, 'a', 1.0D), (2, NULL, -0.0D), (3, 'q"\\', 1e300D),
        |  (4, 'tab\tcré😀', CAST('NaN' AS DOUBLE)),
        |  (5, NULL, CAST('-Infinity' AS DOUBLE)), (6, '', 0.1D) AS t(id, name, d)
        |""".stripMargin)
      .withColumnRenamed("name", "a.b").withColumnRenamed("d", "x`y")
    val dir = tmpDir("sink_json")
    NdjsonSink.writeNumberedBatches(df, s"$dir/out", "j", 4, compress = false)
    val got = batchLines(s"$dir/out", "j")
    assert(got === df.toJSON.collect().toSeq, "byte-identical to toJSON")
    assert(got.exists(_.contains("\"a.b\":\"a\"")) && got.forall(_.contains("\"x`y\":")),
      "names with a dot or a backtick round-trip")
    assert(!got(1).contains("\"m\"") && !got(1).contains("\"a.b\""), "null fields omitted")

    val keys = (1 to 7).map(i => s"k$i")
    val big = df.select(col("id"), map(keys.flatMap(k => Seq(lit(k), col("`a.b`"))): _*).as("m"))
    NdjsonSink.writeNumberedBatches(big, s"$dir/out", "big", 4, compress = false)
    val bigGot = batchLines(s"$dir/out", "big")
    val bigWant = big.toJSON.collect().toSeq
    assert(bigGot.size === bigWant.size)
    bigGot.zip(bigWant).foreach { case (g, w) =>
      assert(json.readTree(g) === json.readTree(w), "the same JSON value")
      assert(json.readTree(g).get("m").fieldNames().asScala.toSeq === keys, "insertion order")
    }
  }

  test("a stamped ZINC record's metadata keys come out in the order they were built") {
    val dir = tmpDir("sink_order")
    Files.writeString(Paths.get(s"$dir/z.txt"), "C\tZ1\t180.2\t1.5\n")
    val df = graft.operators.Provenance.stamp(DelimitedReader.read(spark, s"$dir/z.txt", "zinc"),
      "zinc", "0" * 32, "2026-01-01T00:00:00Z")
    NdjsonSink.writeNumberedBatches(df, s"$dir/out", "zinc", 10, compress = false)
    val Seq(line) = batchLines(s"$dir/out", "zinc")
    assert(json.readTree(line).get("metadata").fieldNames().asScala.toSeq === Seq(
      "source_file", "column_2", "column_3", "_prov_source", "_prov_config_hash",
      "_prov_ingested_at"))
  }

  // --- exactly-once resume: a crash of the second wave, planted as the
  // leftovers it would leave, then a full CLI rerun -------------------

  /** Four TSV files of four records; waves of two files, batches of 3. */
  private def job(dir: String): JobSpec = {
    (1 to 4).map(f => Paths.get(s"$dir/part$f.tsv")).filterNot(Files.exists(_))
      .foreach { p =>
        val f = p.getFileName.toString.stripPrefix("part").stripSuffix(".tsv")
        Files.writeString(p, (1 to 4).map(i => s"${"C" * i}\tZ${f}_$i\n").mkString)
      }
    JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  batch_size: 3
         |  compress_output: false
         |  sources:
         |    - type: delimited
         |      name: zinc
         |      options: {paths: "$dir/part*.tsv", delimiter: "\\t", resume_wave_files: "2"}
         |""".stripMargin)
  }

  private def withSplitBytes[T](bytes: Option[Long])(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    bytes.foreach(b => spark.conf.set(key, b))
    try body finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs wave 1, then plants what a crash in wave 2 leaves: its batches
    * as the sink writes them, the first `renamed` of them (all when
    * `renamed` is None) already under their numbers and the rest still
    * in staging, with the checkpoint still at the end of wave 1. Returns
    * the number of batches the crashed attempt wrote.
    */
  private def crashInWave2(dir: String, renamed: Option[Int],
      splitBytes: Option[Long] = None): Int = {
    val j = job(dir)
    val cpRoot = s"${j.checkpointDir}/ingestion-parse"
    Main.ingestFilesResumable(spark, j, j.sources.head, cpRoot,
      Main.readers("delimited"), maxWaves = 1)
    val start = JobManifest.load(cpRoot, "zinc").get.batchIndex
    val attempt = s"$dir/attempt"
    withSplitBytes(splitBytes) {
      NdjsonSink.writeNumberedBatches(
        DelimitedReader.read(spark, s"$dir/part3.tsv,$dir/part4.tsv", "zinc"),
        attempt, "zinc", 3, compress = false, startBatch = start)
    }
    val written = Files.list(Paths.get(s"$attempt/zinc")).iterator().asScala.toSeq
      .filter(p => BatchName.matches(p.getFileName.toString)).sortBy(_.toString)
    val staging = Files.createDirectories(Paths.get(s"$dir/out/_staging-zinc"))
    written.zipWithIndex.foreach { case (p, i) =>
      val dst = if (i < renamed.getOrElse(written.size)) Paths.get(s"$dir/out/zinc", p.getFileName.toString)
        else staging.resolve(f"part-00000-0-$i%06d")
      Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    assert(JobManifest.load(cpRoot, "zinc").get.batchIndex === start, "checkpoint not advanced")
    written.size
  }

  /** Rerun the whole job; every record exactly once in batches 1..n. */
  private def rerunExactlyOnce(dir: String, splitBytes: Option[Long] = None): Int = {
    val j = job(dir)
    withSplitBytes(splitBytes)(Main.runIngestion(spark, j))
    val got = batches(s"$dir/out")
    assert(got.map(_._1) === (1 to got.size), "batches numbered 1..n")
    assert(got.forall(_._2.size <= 3), "at most batchSize records per batch")
    assert(got.flatMap(_._2).sorted ===
      (for (f <- 1 to 4; i <- 1 to 4) yield s"Z${f}_$i").sorted, "every record exactly once")
    val cp = JobManifest.load(s"${j.checkpointDir}/ingestion-parse", "zinc").get
    assert(cp.completed && cp.batchIndex === got.size)
    assert(!Files.exists(Paths.get(s"$dir/out/_staging-zinc")), "no staging left behind")
    got.size
  }

  test("resume (a): staging chunks written, nothing renamed") {
    val dir = tmpDir("eo_a")
    crashInWave2(dir, renamed = Some(0))
    rerunExactlyOnce(dir)
  }

  test("resume (b): some batches of the wave renamed") {
    val dir = tmpDir("eo_b")
    assert(crashInWave2(dir, renamed = Some(1)) >= 2, "the crash leaves batches on both sides")
    rerunExactlyOnce(dir)
  }

  test("resume (c): every batch renamed, checkpoint not yet stored") {
    val dir = tmpDir("eo_c")
    crashInWave2(dir, renamed = None)
    rerunExactlyOnce(dir)
  }

  test("resume (d): the rerun splits the input differently") {
    // state (b), rerun with smaller input splits: more, smaller batches
    val dir = tmpDir("eo_d")
    val crashed = crashInWave2(dir, renamed = Some(1))
    val fresh = rerunExactlyOnce(tmpDir("eo_d_ref"))
    assert(rerunExactlyOnce(dir, splitBytes = Some(8L)) > fresh)
    // and the reverse: a crash under small splits left more renamed
    // batches than the rerun writes; the stale tail must not survive
    val dir2 = tmpDir("eo_d_rev")
    assert(crashInWave2(dir2, renamed = None, splitBytes = Some(8L)) > crashed)
    assert(rerunExactlyOnce(dir2) === fresh)
  }

  /** Every `.crc` file under `dir`. */
  private def sidecars(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".crc")).toSeq

  test("ingest writes no .crc sidecar; a rerun over old sidecars reads back and drops them") {
    val clean = tmpDir("eo_crc_clean")
    rerunExactlyOnce(clean)
    assert(sidecars(s"$clean/out").isEmpty && sidecars(s"$clean/cp").isEmpty)

    // the reverse of resume (d), where the rerun rewrites batch numbers
    // with other records, with the sidecars a checksummed writer leaves
    // planted next to every batch and checkpoint file
    val dir = tmpDir("eo_crc")
    crashInWave2(dir, renamed = None, splitBytes = Some(8L))
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val planted = Files.walk(Paths.get(dir)).iterator().asScala.toSeq.filter { p =>
      val name = p.getFileName.toString
      BatchName.matches(name) || name == "zinc.json"
    }
    planted.foreach { p =>
      val bytes = Files.readAllBytes(p)
      val out = local.create(new org.apache.hadoop.fs.Path(p.toUri), true)
      try out.write(bytes) finally out.close()
    }
    assert(sidecars(dir).size === planted.size && planted.size > 3)
    rerunExactlyOnce(dir)
    assert(sidecars(dir).isEmpty, "no sidecar left")
    assert(spark.read.text(s"$dir/out/zinc").count() === 16, "checksummed reads succeed")
  }
}
