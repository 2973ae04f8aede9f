package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * dropped row. `.gz` is handled by the codec layer and provenance
  * (`source_file`) is supplied natively by `input_file_name()`. The
  * plan is scan → kernel → `isnotnull` filter → projection, one
  * codegen'd stage with no shuffle.
  */
object DelimitedReader {

  def read(spark: SparkSession, paths: String, sourceName: String,
      delimiter: Option[String] = Some("\t"),
      smilesColumn: Int = 0, identifierColumn: Int = 1): DataFrame =
    // comma-separated path lists accepted, matching the SDF reader's
    // Hadoop-input behavior (the CLI's resumable waves pass them);
    // brace-glob patterns pass through unsplit (PathPatterns)
    spark.read.text(PathPatterns.split(paths): _*)
      .select(DelimitedRowExpr.delimited_row(col("value"), input_file_name(),
        delimiter, smilesColumn, identifierColumn).as("row"))
      .filter(col("row").isNotNull)
      .select(lit(sourceName).as("source"), col("row.identifier"), col("row.smiles"),
        col("row.metadata"))
}
