package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').result()
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** The engine as users get it: a session with the settings of
  * `graft.cli.Main` (master from SPARK_MASTER, 32 shuffle partitions, UTC,
  * no UI) and every engine SQL function registered. `Main.main` builds its
  * session inline, so this is a copy of its builder: `setup_s` times the
  * copy, while the traced run times the CLI's own session start inside
  * each `Main.main` pass.
  */
object Session {
  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def start(): SparkSession = {
    val spark = build()
    graft.engine.Functions.registerAll(spark)
    graft.cli.QueryCommand.registerFunctions(spark)
    spark
  }
}

/** Small file-system helpers shared by the workloads and the probes. */
object Fs {
  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }

  def files(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(g => files(g.getPath))
    else if (f.isFile) Seq(f) else Nil
  }

  /** Bytes and lines of the Spark part files under `dir`. */
  def partFiles(dir: String): (Long, Long) = {
    val parts = files(dir).filter(_.getName.startsWith("part-"))
    val lines = parts.map(f => Files.lines(f.toPath).count()).sum
    (parts.map(_.length).sum, lines)
  }

  def read(path: String): String = Files.readString(Paths.get(path))
}

/** One workload: what one pass does and what it leaves behind. */
trait Workload {
  /** Called once with the set-up session, before any pass. */
  def prepare(spark: SparkSession): Unit
  /** The first, cold pass of the JVM: the same calls over a slice of the
    * inputs, untimed.
    */
  def coldPass(): Unit
  def clear(): Unit
  def pass(): Unit
  /** (bytes written, output records) of the pass that just ran. */
  def output(): (Long, Long)
  /** Operations of one round beyond the pass itself: (attempted, failed, reasons). */
  def extraOps(): (Int, Int, Seq[String]) = (0, 0, Nil)
}

/** `graft.cli.Main ingest` over the seeded SDF and ZINC sources. */
final class Ingest(work: String) extends Workload {
  private val out = s"$work/out"
  private var records = 0L

  def prepare(spark: SparkSession): Unit = spark.stop()
  def clear(): Unit = { Fs.rm(out); Fs.rm(s"$work/ckpt") }

  def coldPass(): Unit = {
    Fs.rm(s"$work/warm-out")
    Fs.rm(s"$work/warm-ckpt")
    Console.withOut(new java.io.ByteArrayOutputStream)(
      graft.cli.Main.main(Array("ingest", s"$work/job-warm.yaml")))
  }

  def pass(): Unit = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(graft.cli.Main.main(Array("ingest", s"$work/job.yaml")))
    val Line = """(\w+): (\d+) records in (\d+) batches""".r
    records = buf.toString("UTF-8").linesIterator.collect { case Line(_, n, _) => n.toLong }.sum
  }

  def output(): (Long, Long) =
    (Fs.files(out).filter(_.getName.endsWith(".jsonl.gz")).map(_.length).sum, records)
}

/** The curation SQL through `graft.cli.Main query @file`, plus one
  * `graft.cli.Main pipeline run` of the same curation per round.
  */
final class Curate(work: String) extends Workload {
  private val out = s"$work/out"

  def prepare(spark: SparkSession): Unit = spark.stop()
  def clear(): Unit = Fs.rm(out)

  private def query(sql: String, dir: String): Unit =
    Console.withOut(new java.io.ByteArrayOutputStream)(graft.cli.Main.main(
      Array("query", s"@$work/$sql", "--out", dir, "--format", "json")))

  def coldPass(): Unit = { Fs.rm(s"$work/warm-out"); query("curate-warm.sql", s"$work/warm-out") }
  def pass(): Unit = query("curate.sql", out)

  def output(): (Long, Long) = Fs.partFiles(out)

  override def extraOps(): (Int, Int, Seq[String]) = {
    Fs.rm(s"$work/pipeline-out")
    try {
      Console.withOut(new java.io.ByteArrayOutputStream)(graft.cli.Main.main(
        Array("pipeline", "run", s"$work/pipeline.yaml")))
      (1, 0, Nil)
    } catch {
      case e: Exception =>
        val msg = String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse("")
        (1, 1, Seq(s"pipeline run: ${e.getClass.getSimpleName}: ${msg.take(160)}"))
    }
  }
}

/** The pair operators over one session and the cached seeded corpora. */
final class NearDup(work: String, inputs: String, textThreshold: Double,
    vecThreshold: Double) extends Workload {
  private val out = s"$work/out"
  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  val outputs = Seq("survivors", "vec_pairs", "overlap")

  def prepare(s: SparkSession): Unit = {
    spark = s
    val (d, v) = NearDup.load(spark, inputs)
    docs = d
    vecs = v
  }

  def clear(): Unit = Fs.rm(out)

  private def run(d: DataFrame, v: DataFrame, dir: String): Unit = {
    import graft.operators.{Dedup, Similarity, TextOps}
    def save(df: DataFrame, name: String): Unit = df.write.mode("overwrite").json(s"$dir/$name")
    save(Dedup.nearDupes(d, "doc_id", "text", textThreshold).select("doc_id"), "survivors")
    save(Similarity.nearDupesAnnBanded(v, vecThreshold), "vec_pairs")
    save(TextOps.sourceOverlap(d, "source", "text"), "overlap")
  }

  def coldPass(): Unit = {
    val (d, v) = NearDup.load(spark, inputs, "-001.jsonl.gz")
    Fs.rm(s"$work/warm-out")
    run(d, v, s"$work/warm-out")
    d.unpersist()
    v.unpersist()
  }

  def pass(): Unit = run(docs, vecs, out)

  def output(): (Long, Long) = {
    val parts = outputs.map(o => Fs.partFiles(s"$out/$o"))
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

object NearDup {
  /** The seeded text and vector corpora, read once and cached; with a
    * `part` suffix, only the files of each corpus that end with it.
    */
  def load(spark: SparkSession, inputs: String, part: String = ""): (DataFrame, DataFrame) = {
    val docs = spark.read.schema("doc_id long, source string, text string")
      .json(s"$inputs/near_dup/docs" + (if (part.isEmpty) "" else s"/docs$part")).cache()
    val vecs = spark.read.schema("vec_id long, embedding array<double>")
      .json(s"$inputs/near_dup/vecs" + (if (part.isEmpty) "" else s"/vecs$part")).cache()
    docs.count()
    vecs.count()
    (docs, vecs)
  }
}

/** Entry point of the benchmark JVM.
  *
  * It builds the engine and prints READY (the end of set-up), then runs an
  * untimed cold pass over a slice of the inputs, untimed warm-up passes,
  * timed passes for `--seconds`, forced GCs for the live heap, and with
  * `--trace 1` traced passes and the probes of the workload's layers. Each
  * pass is preceded, outside its timed region, by clearing the outputs and
  * a forced GC. The result goes to the
  * JSON file named by `--result`.
  */
object Bench {
  final case class Pass(wall: Double, cpu: Double, outBytes: Long, outRecords: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gc(): Unit = { System.gc(); System.gc() }

  /** Used heap after forced GCs, repeated until two readings 0.3 s apart
    * agree within 1 MB (at most 10 rounds): Spark's ContextCleaner frees
    * broadcast and shuffle state only after a GC, from its own thread.
    */
  def liveHeapMb(): Double = {
    def used(): Double = {
      gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    Thread.sleep(300)
    var cur = used()
    var rounds = 0
    while (math.abs(cur - prev) > 1.0 && rounds < 10) {
      prev = cur
      Thread.sleep(300)
      cur = used()
      rounds += 1
    }
    cur
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** What a traced pass adds: Spark totals, GC, JIT, Janino compiles and,
    * for a pass that enters through `Main.main`, the seconds from the pass's
    * start to its new SparkContext's application-start event (NaN if the
    * pass started no SparkContext).
    */
  final case class PassTrace(spark: Acc, gcS: Double, jitS: Double, compiles: Double,
      sessionStartS: Double)

  /** One pass: outputs cleared and a GC forced outside the timed region. A
    * traced pass runs inside a span with the listener counting.
    */
  def runPass(w: Workload, traced: Boolean = false): (Pass, Option[PassTrace]) = {
    w.clear()
    gc()
    Probe.on = traced
    val acc0 = Probe.total.copy()
    val (gc0, jit0, cg0) = (gcMs, jitMs, codegenCompiles)
    Probe.appStartNs = 0L
    val t0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    if (traced) Trace.span("pass")(w.pass()) else w.pass()
    val c1 = os.getProcessCpuTime
    val t1 = System.nanoTime()
    val tr = if (!traced) None else {
      Probe.drain()
      Probe.on = false
      val appStart = Probe.appStartNs
      Some(PassTrace(Probe.total.copy().minus(acc0), (gcMs - gc0) / 1e3, (jitMs - jit0) / 1e3,
        (codegenCompiles - cg0).toDouble, if (appStart > t0) (appStart - t0) / 1e9 else Double.NaN))
    }
    val (bytes, recs) = w.output()
    (Pass((t1 - t0) / 1e9, (c1 - c0) / 1e9, bytes, recs), tr)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val spark = Session.start()
    println("READY")
    System.out.flush()

    val work = a("work")
    val inputs = a("inputs")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val minPasses = a("min_passes").toInt
    val w: Workload = a("workload") match {
      case "ingest" => new Ingest(work)
      case "curate" => new Curate(work)
      case "near_dup" => new NearDup(work, inputs, a("text_threshold").toDouble,
        a("vec_threshold").toDouble)
      case o => throw new IllegalArgumentException(s"unknown workload $o")
    }
    w.prepare(spark)

    val cold = { val t0 = System.nanoTime(); w.coldPass(); gc(); (System.nanoTime() - t0) / 1e9 }
    val warm = (1 to a("warmup").toInt).map(_ => runPass(w)._1)

    // Rounds: a pass plus the workload's extra operations. An untraced run
    // times rounds for `--seconds`, at least `--min_passes` of them; a traced run
    // alternates 2 untraced and 2 traced rounds, so the tracing overhead is
    // measured between neighbouring passes.
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tracedPasses = mutable.ArrayBuffer.empty[(Pass, PassTrace)]
    var attempted = 0
    var failed = 0
    val reasons = mutable.LinkedHashSet.empty[String]
    def round(tracedPass: Boolean): Unit = {
      runPass(w, tracedPass) match {
        case (p, Some(t)) => tracedPasses += p -> t
        case (p, None) => passes += p
      }
      val (at, fa, why) = w.extraOps()
      attempted += 1 + at
      failed += fa
      reasons ++= why
    }
    val start = System.nanoTime()
    if (traced) (1 to 4).foreach(i => round(i % 2 == 0))
    else
      while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds)
        round(false)
    val heapMb = liveHeapMb()

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      def med(f: ((Pass, PassTrace)) => Double) = median(tracedPasses.map(f).toSeq)
      layers("trace.overhead_s") = med(_._1.wall) - median(passes.map(_.wall).toSeq)
      layers("plans.codegen_compiles") = med(_._2.compiles)
      layers("spark.jobs") = med(_._2.spark.jobs.toDouble)
      layers("spark.tasks") = med(_._2.spark.tasks.toDouble)
      layers("spark.task_cpu_s") = med(_._2.spark.cpuNs / 1e9)
      layers("spark.task_run_s") = med(_._2.spark.runMs / 1e3)
      layers("spark.shuffle_write_mb") = med(_._2.spark.shuffleWriteBytes / 1048576.0)
      layers("spark.spill_mb") = med(_._2.spark.spillBytes / 1048576.0)
      layers("jvm.gc_s") = med(_._2.gcS)
      layers("jvm.jit_s") = med(_._2.jitS)
      val starts = tracedPasses.map(_._2.sessionStartS).filterNot(_.isNaN).toSeq
      if (starts.nonEmpty) layers("cli.session_start_s") = median(starts)
      SparkSession.getActiveSession.foreach(_.stop())
      layers ++= Layers.probe(a("workload"), inputs, a("probe"), a("text_threshold").toDouble,
        a("vec_threshold").toDouble)
      Trace.write(s"$work/trace-spans.jsonl")
    }
    SparkSession.getActiveSession.foreach(_.stop())

    val result = Json.obj(Seq(
      "passes" -> passes.map(p => Map("wall_s" -> p.wall, "cpu_s" -> p.cpu,
        "out_bytes" -> p.outBytes, "out_records" -> p.outRecords)),
      "traced_passes" -> tracedPasses.map { case (p, t) => Map("wall_s" -> p.wall,
        "cpu_s" -> p.cpu, "task_cpu_s" -> t.spark.cpuNs / 1e9) },
      "cold_wall_s" -> cold,
      "warmup_wall_s" -> warm.map(_.wall),
      "heap_live_mb" -> heapMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "fail_reasons" -> reasons.toSeq,
      "layers" -> layers,
      "trace_run_id" -> (if (traced) Trace.runId else null),
      "env" -> Map(
        "spark" -> org.apache.spark.SPARK_VERSION,
        "java" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "master" -> sys.env.getOrElse("SPARK_MASTER", ""),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)))
    Files.writeString(Paths.get(a("result")), result)
  }
}
