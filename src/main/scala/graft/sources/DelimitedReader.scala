package graft.sources

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.plans.DelimitedRowExpr

/** ZINC-style delimited tranche source (S3/S15–S17): headerless
  * plain or gzip SMILES tables, configurable delimiter (None → any
  * whitespace), column indices for smiles/identifier, leftover columns
  * kept as `column_<i>` metadata, blank/short/empty-cell rows dropped.
  * Reference semantics: /root/reference/src/open_molecule_data_pipeline/
  * ingestion/zinc.py:174-229.
  *
  * Spark-first: the reference's per-line Python loop becomes a text
  * scan per file task feeding one native kernel,
  * `plans.DelimitedRowExpr`, which splits each line on the literal
  * separator (or on whitespace runs), applies the three drop rules and
  * builds `struct(identifier, smiles, metadata)` directly, NULL for a
  * dropped row. The scan is Hadoop's text input ([[TextInput]]), the
  * one the SDF source uses: one split per `.gz` file, files in listed
  * order, whatever the core count, and each line's `source_file` is
  * the file's name as `input_file_name()` spells it (`file:///…`). The
  * plan is scan → kernel → `isnotnull` filter → projection, one
  * codegen'd stage with no shuffle.
  */
object DelimitedReader {

  def read(spark: SparkSession, paths: String, sourceName: String,
      delimiter: Option[String] = Some("\t"),
      smilesColumn: Int = 0, identifierColumn: Int = 1): DataFrame =
    GraftColumnBridge.dataFrame(spark,
      TextInput.scan(spark, paths, None) { (file, lines) =>
        val name = TextInput.fileName(file)
        lines.map(t => new GenericInternalRow(Array[Any](TextInput.bytes(t), name)))
      }, StructType(Seq(StructField("value", StringType), StructField("file", StringType))))
      .select(DelimitedRowExpr.delimited_row(col("value"), col("file"),
        delimiter, smilesColumn, identifierColumn).as("row"))
      .filter(col("row").isNotNull)
      .select(lit(sourceName).as("source"), col("row.identifier"), col("row.smiles"),
        col("row.metadata"))
}
