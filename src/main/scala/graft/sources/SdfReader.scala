package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.plans.{SdfRowExpr, Utf8}

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
  * granularity). The records reach Spark as internal rows built from
  * the read bytes ([[TextInput]]), and one native kernel per record,
  * `plans.SdfRowExpr`, parses the property blocks and builds
  * `struct(identifier, smiles, metadata)` inside the scan's generated
  * code.
  */
object SdfReader {

  /** Raw records: one row per molecule block, sentinel stripped,
    * blank records dropped. A record that is not valid UTF-8 is decoded
    * as `Text.toString` decodes it (malformed bytes become U+FFFD);
    * every other record keeps its bytes as read.
    */
  def readRecords(spark: SparkSession, paths: String): DataFrame =
    GraftColumnBridge.dataFrame(spark,
      TextInput.scan(spark, paths, Some("\n$$$$")) { (_, records) =>
        records.filter(t => !isBlank(t.getBytes, t.getLength))
          .map(t => new GenericInternalRow(Array[Any](Utf8.valid(TextInput.bytes(t)))))
      }, StructType(Seq(StructField("record", StringType))))

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
    * identifier/smiles pulled from configured tags (`""` when absent),
    * remaining tags (optionally restricted to `metadataTags`) minus
    * empties become metadata, all in one `SdfRowExpr` call per record.
    */
  def read(spark: SparkSession, paths: String, sourceName: String,
      identifierTag: String, smilesTag: String,
      metadataTags: Option[Seq[String]] = None): DataFrame =
    readRecords(spark, paths)
      .select(SdfRowExpr.sdf_row(col("record"), identifierTag, smilesTag, metadataTags).as("row"))
      .select(lit(sourceName).as("source"), col("row.identifier"), col("row.smiles"),
        col("row.metadata"))
}
