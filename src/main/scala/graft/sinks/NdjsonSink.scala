package graft.sinks

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.nio.file.Files
import java.util.regex.Pattern
import java.util.zip.GZIPOutputStream

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{struct, to_json}
import org.apache.spark.util.SerializableConfiguration

/** NDJSON sink with reference-parity batch-file naming (S22):
  * `<out>/<source>/<source>-batch-NNNNNN.jsonl[.gz]`, one JSON doc per
  * line, UTF-8, at most `batchSize` records per file. Reference:
  * /root/reference/src/open_molecule_data_pipeline/ingestion/
  * common.py:251-276.
  *
  * One pass, one Spark job, no shuffle. Each task streams its partition,
  * in input order, into staging chunks of at most `batchSize` records
  * under `<out>/_staging-<source>/` (outside the source directory, so
  * reports never count it). When every column is `string` or
  * `map<string,string>`, as in every frame the ingest CLI and the HTTP
  * source write, each record is encoded from the frame's internal rows
  * straight into the chunk's stream by [[JsonLineEncoder]], so the
  * stamped frame runs as one generated stage and no Jackson generator
  * or Java String is built per record. Any other schema is written as
  * the UTF-8 bytes of `to_json(struct(<every column>))`, and the two
  * give the same bytes where both apply: fields keep the frame's column
  * order, null fields are omitted (unless
  * `spark.sql.jsonGenerator.ignoreNullFields` is false, read at write
  * time), and map keys keep their insertion order (a source's
  * `metadata` is written in the order the reader and `Provenance` build
  * it). The driver then renames the chunks, in (partition, chunk)
  * order, to the contiguous batch numbers after `startBatch`.
  * Like the reference, which fills batches in input order and flushes
  * the partial batch at the end of each file (S18), every input
  * partition ends with its own partial batch. Both file sources read
  * through Hadoop's text input (`sources.TextInput`), whose partitions
  * are one per `.gz` file, in listed order, so a wave's batches are the
  * same whatever the core count.
  *
  * Exactly-once resume: batch files numbered above `startBatch` can
  * only be left over from a crashed attempt of the same wave (the
  * caller checkpoints `startBatch` + batches only after this returns),
  * so they are deleted before the renames. A rerun that splits the
  * input differently therefore never mixes its batches with stale ones.
  * Staging names carry the task attempt, so a retried or speculative
  * attempt never collides with the first. Only the chunks the job's
  * successful tasks return are renamed; the staging directory, with
  * any chunk of a failed attempt or of a crashed run, is removed after
  * the renames, and at once when the job fails (then nothing is renamed
  * or deleted under the source directory).
  *
  * On Hadoop's local file system the chunks are created through plain
  * file calls ([[create]]), so no `.crc` sidecar is written next to a
  * batch, as the reference writes plain files, and no `chmod` process
  * is started per file. The stale-batch deletion also removes the
  * sidecar of every batch name, so a sidecar left by an older run never
  * sits next to a rewritten batch (a checksummed read would then fail).
  */
object NdjsonSink {

  final case class BatchWriteResult(batches: Long, records: Long)

  /** Writes `df` as numbered batches `startBatch+1 …`; the returned
    * record count is the metric (callers must not re-count — at 100 TB
    * every extra pass is a full scan).
    */
  def writeNumberedBatches(df: DataFrame, outDir: String, source: String,
      batchSize: Int, compress: Boolean = true, startBatch: Int = 0): BatchWriteResult = {
    val sc = df.sparkSession.sparkContext
    val target = new Path(s"$outDir/$source")
    val staging = s"$outDir/_staging-$source"
    val fs = plain(target.getFileSystem(sc.hadoopConfiguration))
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val suffix = if (compress) ".jsonl.gz" else ".jsonl"
    val encoder = JsonLineEncoder.forSchema(df.schema,
      df.sparkSession.conf.get("spark.sql.jsonGenerator.ignoreNullFields").toBoolean)
    val rows = if (encoder.isDefined) df else df.select(to_json(struct(
      df.columns.toSeq.map(c => df.col("`" + c.replace("`", "``") + "`")): _*)))
    // runJob returns the tasks' results in partition order
    val chunks =
      try sc.runJob(rows.queryExecution.toRdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writeChunks(ctx, it, encoder, staging, batchSize, compress, conf))
      catch {
        case e: Throwable =>
          try fs.delete(new Path(staging), true)
          catch { case NonFatal(d) => e.addSuppressed(d) }
          throw e
      }
    val paths = chunks.flatMap(_._2)
    if (fs.exists(target)) {
      val batch = Pattern.quote(source) + "-batch-(\\d+)\\.jsonl(?:\\.gz)?"
      val batchName = batch.r
      val sidecarName = ("\\." + batch + "\\.crc").r
      fs.listStatus(target).map(_.getPath).foreach { p =>
        p.getName match {
          case batchName(n) if n.toLong > startBatch => fs.delete(p, false)
          case sidecarName(_) => fs.delete(p, false)
          case _ =>
        }
      }
    } else if (paths.nonEmpty) mkdirs(fs, target)
    paths.zipWithIndex.foreach { case (p, i) =>
      val dst = new Path(target, f"$source-batch-${startBatch + i + 1}%06d$suffix")
      if (!fs.rename(new Path(p), dst)) throw new IOException(s"cannot rename $p to $dst")
    }
    fs.delete(new Path(staging), true)
    BatchWriteResult(paths.length.toLong, chunks.map(_._1).sum)
  }

  /** `path` on the local disk when `fs` is Hadoop's local file system. */
  private[graft] def localFile(fs: FileSystem, path: Path): Option[java.nio.file.Path] =
    plain(fs) match {
      case raw: RawLocalFileSystem => Some(raw.pathToFile(path).toPath)
      case _ => None
    }

  /** Creates `path` and its missing parents for writing. On the local
    * file system this takes plain file calls: Hadoop's raw local file
    * system starts a `chmod` process for every file and directory it
    * creates, while here the new file's mode follows the umask, as the
    * reference's plain writes do. Elsewhere `fs` without its checksum
    * layer.
    */
  private[graft] def create(fs: FileSystem, path: Path): OutputStream =
    localFile(fs, path) match {
      case Some(file) =>
        Files.createDirectories(file.getParent)
        Files.newOutputStream(file)
      case None => plain(fs).create(path, true)
    }

  /** `path` and its missing parents as directories, as [[create]] makes them. */
  private[graft] def mkdirs(fs: FileSystem, path: Path): Unit =
    localFile(fs, path) match {
      case Some(dir) => Files.createDirectories(dir)
      case None => fs.mkdirs(path)
    }

  /** `fs` without the client-side checksum layer of Hadoop's local file
    * system, which writes a `.<name>.crc` sidecar next to every file it
    * creates; any other file system as it is.
    */
  private[graft] def plain(fs: FileSystem): FileSystem = fs match {
    case local: LocalFileSystem => local.getRawFileSystem
    case other => other
  }

  /** One task: its partition's rows as JSON lines, by `encoder` or
    * (when None) as the UTF-8 string of column 0, into staging chunks of
    * at most `batchSize` records; returns (records, chunk paths in order).
    */
  private def writeChunks(ctx: TaskContext, rows: Iterator[InternalRow],
      encoder: Option[JsonLineEncoder], staging: String, batchSize: Int, compress: Boolean,
      conf: SerializableConfiguration): (Long, Array[String]) = {
    val paths = Array.newBuilder[String]
    var chunks = 0
    var records = 0L
    var inChunk = 0
    var out: OutputStream = null
    try {
      rows.foreach { row =>
        if (out == null) {
          val path = new Path(
            f"$staging/part-${ctx.partitionId()}%05d-${ctx.attemptNumber()}-$chunks%06d")
          val raw = create(path.getFileSystem(conf.value), path)
          out = new BufferedOutputStream(
            if (compress) new GZIPOutputStream(raw, 1 << 16) else raw, 1 << 16)
          paths += path.toString
          chunks += 1
        }
        encoder match {
          case Some(e) => e.write(row, out)
          case None =>
            row.getUTF8String(0).writeTo(out)
            out.write('\n')
        }
        records += 1
        inChunk += 1
        if (inChunk == batchSize) {
          out.close()
          out = null
          inChunk = 0
        }
      }
    } finally if (out != null) out.close()
    (records, paths.result())
  }
}
