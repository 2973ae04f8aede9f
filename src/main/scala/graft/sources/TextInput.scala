package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.{NewHadoopRDD, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** The scan both file sources share: Hadoop's text input over a path
  * list. Hadoop lists the files in the order the list names them (a
  * glob expands sorted) and gives one split per gzip file; a plain file
  * splits at its blocks or at `spark.sql.files.maxPartitionBytes`,
  * whichever is smaller. So the partitions, and the batches a sink cuts
  * from them, do not depend on the core count, and a gzip file's do not
  * depend on Spark's file-packing settings either (`spark.read.text`
  * packs files into splits sized from `defaultParallelism` and orders
  * them by size).
  */
private[sources] object TextInput {

  /** `f` over each split's file and records. `paths` is a comma-
    * separated list; globs and `{a,b}` alternation expand as Hadoop
    * expands them. `delimiter` ends a record (None: Hadoop's line ends
    * `\n`, `\r\n` and `\r`). The `Text` of a record is reused for the
    * next one.
    */
  def scan(spark: SparkSession, paths: String, delimiter: Option[String])(
      f: (Path, Iterator[Text]) => Iterator[InternalRow]): RDD[InternalRow] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    delimiter.foreach(conf.set("textinputformat.record.delimiter", _))
    // a plain file splits at most every `spark.sql.files.maxPartitionBytes`
    conf.setLong("mapreduce.input.fileinputformat.split.maxsize",
      JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes")))
    spark.sparkContext
      .newAPIHadoopFile(PathPatterns.split(paths).mkString(","), classOf[TextInputFormat], classOf[LongWritable], classOf[Text], conf)
      .asInstanceOf[NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit((split, records) =>
        f(split.asInstanceOf[FileSplit].getPath, records.map(_._2)), preservesPartitioning = false)
  }

  /** `file` as `input_file_name()` spells it over `spark.read.text`:
    * URL-encoded, and with an empty authority where Hadoop lists none
    * (`file:///…`, not `file:/…`).
    */
  def fileName(file: Path): UTF8String = {
    val u = file.toUri
    UTF8String.fromString(
      if (u.getScheme != null && u.getAuthority == null)
        new URI(u.getScheme, "", u.getPath, null, null).toString
      else u.toString)
  }

  /** The record's bytes as a new string. */
  def bytes(t: Text): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(t.getBytes, t.getLength))
}
