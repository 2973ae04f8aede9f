package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.ProvenanceStampExpr.provenance_stamp

/** Lineage / provenance stamping — the reference's declared metadata
  * contract (/root/reference/docs/system-plan.md:32: "Track provenance
  * (source, timestamp, config hash) in metadata store. Include audit
  * logs"). Each ingested record carries WHERE it came from (source
  * name), WHICH configuration produced it (md5 of the raw config
  * text), and WHEN (job-start instant) inside its `metadata` map — so
  * any downstream table can be audited back to the exact ingest run,
  * and a re-ingest under a changed config is distinguishable row-by-row
  * (golden-specced in IngestionSpec).
  *
  * Stamping is one native expression, `plans.ProvenanceStampExpr`,
  * that rides the ingest scan inside its generated code: no UDF, no
  * lambda, no shuffle. It copies the metadata entries that are not
  * provenance keys, in their order, and appends the three tags, so
  * re-stamping is idempotent and a prior stamp is replaced wherever it
  * sits. A NULL map gives the tags alone; a frame without a `metadata`
  * column gets the literal tag map. The `map_filter`/`map_concat` form
  * it replaced, whose lambda ran interpreted per row in a separate
  * projection above the scan's stage, is the differential oracle in
  * `IngestKernelSpec`.
  */
object Provenance {

  val SourceKey = "_prov_source"
  val ConfigKey = "_prov_config_hash"
  val AtKey = "_prov_ingested_at"

  /** md5 hex of the raw config text — the config identity. Computed
    * over the BYTES the user wrote (not a re-serialization), so any
    * edit, even a comment, yields a new hash: an audit trail must
    * distinguish "same file" from "equivalent file".
    */
  def configHash(configText: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(configText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Append provenance tags to `df`'s `metadata` map column (created
    * when absent, null-safe, prior stamps replaced).
    */
  def stamp(df: DataFrame, source: String, configHash: String,
      ingestedAt: String): DataFrame = {
    val tags = Seq(SourceKey -> source, ConfigKey -> configHash, AtKey -> ingestedAt)
    val stamped: Column =
      if (df.columns.contains("metadata")) provenance_stamp(col("metadata"), tags)
      else map(tags.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    df.withColumn("metadata", stamped)
  }
}
