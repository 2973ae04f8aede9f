package graft.sinks

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.util.regex.Pattern
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
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
  * reports never count it), writing the UTF-8 bytes of `df.toJSON`
  * as they are. The driver then renames the chunks, in (partition,
  * chunk) order, to the contiguous batch numbers after `startBatch`.
  * Like the reference, which fills batches in input order and flushes
  * the partial batch at the end of each file (S18), every input
  * partition (one per `.gz` file) ends with its own partial batch.
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
  * the renames.
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
    val fs = target.getFileSystem(sc.hadoopConfiguration)
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val suffix = if (compress) ".jsonl.gz" else ".jsonl"
    // runJob returns the tasks' results in partition order
    val chunks = sc.runJob(df.toJSON.queryExecution.toRdd,
      (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        writeChunks(ctx, rows, staging, batchSize, compress, conf))
    val paths = chunks.flatMap(_._2)
    if (fs.exists(target)) {
      val batchName = (Pattern.quote(source) + "-batch-(\\d+)\\.jsonl(\\.gz)?").r
      fs.listStatus(target).map(_.getPath).foreach { p =>
        p.getName match {
          case batchName(n, _) if n.toLong > startBatch => fs.delete(p, false)
          case _ =>
        }
      }
    } else if (paths.nonEmpty) fs.mkdirs(target)
    paths.zipWithIndex.foreach { case (p, i) =>
      val dst = new Path(target, f"$source-batch-${startBatch + i + 1}%06d$suffix")
      if (!fs.rename(new Path(p), dst)) throw new IOException(s"cannot rename $p to $dst")
    }
    fs.delete(new Path(staging), true)
    BatchWriteResult(paths.length.toLong, chunks.map(_._1).sum)
  }

  /** One task: its partition's JSON lines into staging chunks of at
    * most `batchSize` records; returns (records, chunk paths in order).
    */
  private def writeChunks(ctx: TaskContext, rows: Iterator[InternalRow], staging: String,
      batchSize: Int, compress: Boolean,
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
          val raw = path.getFileSystem(conf.value).create(path, true)
          out = new BufferedOutputStream(
            if (compress) new GZIPOutputStream(raw, 1 << 16) else raw, 1 << 16)
          paths += path.toString
          chunks += 1
        }
        row.getUTF8String(0).writeTo(out)
        out.write('\n')
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
