package graft.engine

import org.apache.spark.sql.SparkSession

import graft.functions.Chemistry
import graft.sources.SdfReader

/** SQL-surface registration (SURVEY.md §2D): every engine UDF becomes
  * callable from `spark.sql` text, so a SQL-only client has the full
  * function surface. Column-composition functions (TextFunctions,
  * VectorFunctions) need no registration — they compile to built-in
  * expressions available in SQL already.
  *
  * This is the one list of chemistry UDFs: the `query` and `pipeline`
  * CLI commands reach it through `QueryCommand.registerFunctions`.
  * `log_p`/`tpsa` and `smiles_logp`/`smiles_tpsa` are the same two
  * descriptors under both names SQL texts use.
  */
object Functions {

  def registerAll(spark: SparkSession): Unit = {
    val r = spark.udf
    r.register("is_valid_smiles", Chemistry.isValid _)
    r.register("molecular_weight", (s: String) => Chemistry.molecularWeight(s))
    r.register("normalize_smiles", Chemistry.normalize _)
    r.register("strip_salt", Chemistry.stripSalt _)
    r.register("smiles_logp", (s: String) => Chemistry.descriptors(s).map(_.logP))
    r.register("smiles_tpsa", (s: String) => Chemistry.descriptors(s).map(_.tpsa))
    r.register("log_p", (s: String) => Chemistry.descriptors(s).map(_.logP))
    r.register("tpsa", (s: String) => Chemistry.descriptors(s).map(_.tpsa))
    r.register("lipinski_ok", (s: String) => Chemistry.descriptors(s).exists(_.lipinskiOk))
    r.register("morgan_fp", (s: String) => Chemistry.morganBits(s))
    r.register("structural_keys", (s: String) => Chemistry.structuralKeys(s))
    // sdf_props is registered natively via GraftExtensions below
    r.register("format_bytes", (n: Long) => graft.report.Report.formatBytes(n))
    // native Catalyst expressions (codegen'd, not UDFs)
    graft.plans.GraftExtensions.register(spark)
  }
}
