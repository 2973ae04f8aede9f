package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationStart,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans recorded around each call the benchmark makes into a layer.
  *
  * A span has a name, start, end, parent span and the run id shared by
  * every span of the run. While a span is open its id is the
  * `perfbench.span` local property of the active SparkContext, so the
  * [[Probe]] listener attributes each Spark job, and that job's tasks, to
  * the enclosing span. Spans stay in memory until [[write]] at the end of
  * the run. Spans are opened from the benchmark's main thread only.
  */
object Trace {
  val Prop = "perfbench.span"
  val runId: String = java.util.UUID.randomUUID().toString

  final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
    var end: Long = 0L
    def seconds: Double = (end - start) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0
  private var nextId = 1

  private def setProp(v: String): Unit =
    SparkSession.getActiveSession.foreach(_.sparkContext.setLocalProperty(Prop, v))

  def span[T](name: String)(body: => T): T = {
    val s = new Span(nextId, current, name, System.nanoTime())
    nextId += 1
    spans += s
    val parent = current
    current = s.id
    setProp(s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      current = parent
      setProp(if (parent == 0) null else parent.toString)
    }
  }

  def last(name: String): Span = spans.filter(_.name == name).last
  def all(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var upTo = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** One JSON object per span, with its self time and Spark totals. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      val acc = Probe.forSpan(s.id)
      Json.obj(Seq(
        "run_id" -> runId, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "seconds" -> s.seconds,
        "self_seconds" -> selfSeconds(s), "jobs" -> acc.jobs, "tasks" -> acc.tasks,
        "task_cpu_s" -> acc.cpuNs / 1e9, "input_bytes" -> acc.inputBytes,
        "shuffle_write_bytes" -> acc.shuffleWriteBytes))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Spark totals of one span, or of the whole run. */
final class Acc {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def copy(): Acc = synchronized {
    val a = new Acc
    a.jobs = jobs; a.tasks = tasks; a.cpuNs = cpuNs; a.runMs = runMs
    a.shuffleWriteBytes = shuffleWriteBytes; a.spillBytes = spillBytes; a.inputBytes = inputBytes
    a
  }

  def minus(o: Acc): Acc = {
    val a = copy()
    a.jobs -= o.jobs; a.tasks -= o.tasks; a.cpuNs -= o.cpuNs; a.runMs -= o.runMs
    a.shuffleWriteBytes -= o.shuffleWriteBytes; a.spillBytes -= o.spillBytes
    a.inputBytes -= o.inputBytes
    a
  }
}

/** The benchmark's SparkListener, registered through `spark.extraListeners`
  * in traced runs only, so every SparkContext a CLI pass creates carries
  * it. It counts nothing until [[Probe.on]] is set.
  */
class Probe extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    Probe.appStartNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Probe.on) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(st => Probe.stageSpan.put(st, span))
    Probe.add(span)(_.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Probe.on) {
    val m = e.taskMetrics
    if (m != null) {
      val span = Probe.stageSpan.getOrElse(e.stageId, 0)
      Probe.add(span) { a =>
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

object Probe {
  @volatile var on = false
  /** When the last SparkContext's application-start event arrived. */
  @volatile var appStartNs = 0L
  private[perfbench] val stageSpan = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Acc]
  val total = new Acc

  private[perfbench] def add(span: Int)(f: Acc => Unit): Unit = synchronized {
    total.synchronized(f(total))
    if (span != 0) {
      val a = bySpan.getOrElseUpdate(span, new Acc)
      a.synchronized(f(a))
    }
  }

  def forSpan(id: Int): Acc = synchronized(bySpan.getOrElse(id, new Acc).copy())

  /** Wait until the active context's listener bus has delivered every event. */
  def drain(): Unit =
    SparkSession.getActiveSession.foreach(s =>
      org.apache.spark.PerfbenchBridge.drainListeners(s.sparkContext))
}
