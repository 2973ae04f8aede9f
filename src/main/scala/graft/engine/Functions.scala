package graft.engine

import org.apache.spark.sql.SparkSession

/** SQL-surface registration (SURVEY.md §2D): every engine function
  * becomes callable from `spark.sql` text, so a SQL-only client has the
  * full function surface. Column-composition functions (TextFunctions,
  * VectorFunctions) need no registration — they compile to built-in
  * expressions available in SQL already.
  *
  * [[graft.plans.GraftExtensions.builders]] is the one list of native
  * functions, the chemistry ones included; the `query` and `pipeline`
  * CLI commands reach it through `QueryCommand.registerFunctions`.
  * `format_bytes` is the only Scala UDF left.
  */
object Functions {

  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("format_bytes", (n: Long) => graft.report.Report.formatBytes(n))
    graft.plans.GraftExtensions.register(spark)
  }
}
