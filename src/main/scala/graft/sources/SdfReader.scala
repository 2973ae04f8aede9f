package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** SDF (Structure-Data File) source: record splitting on the `$$$$`
  * sentinel plus `> <TAG>` property-block extraction.
  *
  * Semantics mirror the reference parser
  * (/root/reference/src/open_molecule_data_pipeline/ingestion/sdf.py:21-60):
  * multi-line property values joined with \n and trimmed, malformed
  * `>` lines without a `<TAG>` skipped, a trailing record without the
  * sentinel still emitted, and the molblock before `M  END` ignored.
  *
  * Spark-first design (SURVEY.md §2C "text scan w/ custom record
  * delimiter"): record splitting is Hadoop's
  * `textinputformat.record.delimiter` — a reader CONFIG, not a custom
  * FileFormat — so splits parallelize per-file and gzip is handled by
  * the codec layer (one task per .sdf.gz file, the reference's own
  * granularity). Property parsing is one scalar function per record.
  */
object SdfReader {

  /** Raw records: one row per molecule block, sentinel stripped. */
  def readRecords(spark: SparkSession, paths: String): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "\n$$$$")
    import spark.implicits._
    val rdd = spark.sparkContext
      .newAPIHadoopFile(paths, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .filter { case (_, t) => !isBlank(t.getBytes, t.getLength) }
      .map { case (_, t) => t.toString }
    rdd.toDF("record")
  }

  /** True when the first `len` UTF-8 bytes hold only `[ \t\n\x0B\f\r]`,
    * the class of Java's regex `\s` (so newline-only tail records are
    * dropped). Every other character, e.g. U+2003, has a byte outside
    * that class; `String.isBlank` would count it as blank.
    */
  private[graft] def isBlank(bytes: Array[Byte], len: Int): Boolean = {
    var i = 0
    while (i < len) {
      val b = bytes(i)
      if (b != ' ' && (b < '\t' || b > '\r')) return false
      i += 1
    }
    true
  }

  /** `> <TAG>` property blocks of one SDF record as Map[String,String].
    * Scala-function form — the differential oracle for the native
    * `SdfPropsExpr` kernel (and the round-trip property-test surface);
    * the DataFrame path goes through the native expression, which
    * builds catalyst MapData directly instead of paying the UDF
    * converter boundary per record.
    */
  val parseProps: String => Map[String, String] = { record =>
    val lines = record.split("\n", -1)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    val tagRe = "<([^>]*)>".r
    while (i < lines.length) {
      val line = lines(i)
      if (line.startsWith(">")) {
        tagRe.findFirstMatchIn(line) match {
          case Some(m) =>
            val tag = m.group(1)
            val value = new StringBuilder
            i += 1
            var first = true
            while (i < lines.length && lines(i).nonEmpty && !lines(i).startsWith(">")
                && lines(i) != "$$$$") {
              if (!first) value.append('\n')
              value.append(lines(i))
              first = false
              i += 1
            }
            out(tag) = value.result().trim
          case None => i += 1 // malformed `>` line: skipped (sdf.py:34-37)
        }
      } else i += 1
    }
    // insertion-ordered result: plain .toMap degrades to a HashMap at
    // 5+ entries, silently changing iteration order vs the native
    // SdfPropsExpr (real SDF records routinely carry 5+ tags)
    scala.collection.immutable.ListMap.from(out)
  }

  def sdfProps(record: Column): Column =
    graft.plans.SdfPropsExpr.sdf_props(record)

  /** Typed boundary form (SURVEY.md §1.3): compile-time field safety
    * for library consumers composing molecule pipelines.
    */
  def readTyped(spark: SparkSession, paths: String, sourceName: String,
      identifierTag: String, smilesTag: String,
      metadataTags: Option[Seq[String]] = None): org.apache.spark.sql.Dataset[graft.model.MoleculeRecord] = {
    import spark.implicits._
    read(spark, paths, sourceName, identifierTag, smilesTag, metadataTags)
      .as[graft.model.MoleculeRecord]
  }

  /** Full SDF scan → canonical molecule records (S1+S2+S14):
    * identifier/smiles pulled from configured tags, remaining tags
    * (optionally restricted) minus empties become metadata.
    */
  def read(spark: SparkSession, paths: String, sourceName: String,
      identifierTag: String, smilesTag: String,
      metadataTags: Option[Seq[String]] = None): DataFrame = {
    val props = sdfProps(col("record"))
    val withProps = readRecords(spark, paths).select(props.as("props"))
    // id/smiles tags never leak into metadata, even when explicitly
    // listed in metadata_tags (reference: pubchem.py:228-238)
    val keep: Column = metadataTags match {
      case Some(tags) =>
        map_filter(col("props"), (k, v) =>
          k.isInCollection(tags) && !k.isin(identifierTag, smilesTag) && v =!= "")
      case None =>
        map_filter(col("props"), (k, v) =>
          !k.isin(identifierTag, smilesTag) && v =!= "")
    }
    withProps.select(
      lit(sourceName).as("source"),
      trim(coalesce(element_at(col("props"), identifierTag), lit(""))).as("identifier"),
      trim(coalesce(element_at(col("props"), smilesTag), lit(""))).as("smiles"),
      keep.as("metadata"))
      .select(Schemas.molecule.fieldNames.map(col).toSeq: _*)
  }
}
