package graft.engine

import org.apache.spark.sql.functions._

import graft.operators.Provenance
import graft.pipeline.{PipelineConfig, PipelineRunner}

/** Round-8: the declarative YAML pipeline surface, oracle-checked.
  *
  * q110 re-expresses a curation rollup (the q89 shape: tokenize → gate
  * → per-language stats) as a `PipelineConfig` YAML document and runs
  * it through [[PipelineRunner]] — scan, map (with a materialized
  * checkpoint barrier), filter, reduce, sink — then hash-compares the
  * sink output against the same rollup in DuckDB. This pins the whole
  * declarative path end-to-end: YAML parse, `${VAR}` substitution,
  * stage compilation to Catalyst expressions, checkpoint
  * materialization, and the sink write all sit between the testdata
  * and the oracle, so a regression anywhere in the runner breaks the
  * hash.
  *
  * Scale shape: identical to writing the DataFrame chain by hand — the
  * scan/filter/reduce stages stay ONE Catalyst plan (filter pushdown
  * and column pruning reach the parquet scan; the reduce is a
  * hash aggregate), and the materialized stage is an explicit parquet
  * barrier, exactly the checkpoint a 100-TB pipeline wants between
  * expensive phases.
  */
object DeclarativeQueries {
  import QueryDef._

  /** The q110 pipeline: YAML is the system-plan.md:17 contract form —
    * tokenization in a map stage, a short-doc gate as a filter stage,
    * the per-language rollup as a reduce stage, parquet sink.
    */
  private val RollupYaml =
    """pipeline:
      |  name: doc_quality_rollup
      |  checkpoint_dir: ${CKPT}
      |  stages:
      |    - name: docs
      |      type: scan
      |      format: parquet
      |      path: ${DIR}/documents.parquet
      |    - name: tokenized
      |      type: map
      |      input: docs
      |      materialize: true
      |      # plain (unquoted) YAML scalars: no YAML escape processing,
      |      # so the Spark-SQL literal '\\s+' (which SQL-unescapes to the
      |      # \s+ regex) reaches expr() intact
      |      columns:
      |        n_chars: cast(length(text) as bigint)
      |        n_tokens: cast(size(filter(split(trim(text), '\\s+'), x -> x != '')) as bigint)
      |      select: [doc_id, lang, n_chars, n_tokens]
      |    - name: kept
      |      type: filter
      |      input: tokenized
      |      condition: "n_tokens >= 5"
      |    - name: rollup
      |      type: reduce
      |      input: kept
      |      group_by: [lang]
      |      aggs:
      |        n_docs: "count(*)"
      |        total_tokens: "cast(sum(n_tokens) as bigint)"
      |        max_chars: "max(n_chars)"
      |    - name: out
      |      type: sink
      |      input: rollup
      |      format: parquet
      |      path: ${CKPT}/rollup_out
      |""".stripMargin

  val all: Seq[QueryDef] = Seq(

    sql("q110_pipeline_yaml",
      """WITH t AS (
        | SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |       x -> x <> '')) AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | max(n_chars) AS max_chars
        |FROM t WHERE n_tokens >= 5
        |GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, d) =>
        val ckpt = java.nio.file.Files.createTempDirectory("graft_pipeline_q110").toString
        val spec = PipelineConfig.parse(RollupYaml)
        PipelineRunner.run(s, spec,
          vars = Map("DIR" -> d, "CKPT" -> ckpt))
        // read the SINK's output (not the in-memory frame): the checked
        // rows must have passed through the full declared DAG including
        // the terminal write
        s.read.parquet(s"$ckpt/rollup_out").orderBy(col("lang"))
    },

    // Provenance stamping (system-plan.md:32): source name, config
    // hash, ingest instant in each record's metadata map. The oracle
    // recomputes the config hash with DuckDB's OWN md5() over the same
    // config text — an independent cross-engine check of
    // Provenance.configHash — and the row values pin the map_concat /
    // element_at plumbing end-to-end.
    sql("q113_provenance_stamp",
      """SELECT doc_id, 'documents' AS src,
        | md5('job: {source: documents, batch: 1000}') AS cfg_hash,
        | '2026-08-13T00:00:00Z' AS stamped_at
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val cfgText = "job: {source: documents, batch: 1000}"
        Provenance.stamp(Tables.documents(s, d), "documents",
            Provenance.configHash(cfgText), "2026-08-13T00:00:00Z")
          .select(col("doc_id"),
            element_at(col("metadata"), Provenance.SourceKey).as("src"),
            element_at(col("metadata"), Provenance.ConfigKey).as("cfg_hash"),
            element_at(col("metadata"), Provenance.AtKey).as("stamped_at"))
          .orderBy(col("doc_id"))
    },

    // Round-11: the ad-hoc SQL gateway (SURVEY.md §7.1 `query`
    // command, r10 verdict item 1). The Spark side goes through the
    // FULL CLI path — table registration from the data dir + the graft
    // function registry + Catalyst on raw SQL text — running a
    // representative catalog-shaped query (native-kernel tokenize,
    // aggregate, window rank, share against a 1-row total). A hash
    // match here pins the whole door: view registration, the
    // ws_tokens kernel under its SQL name, and the plan Catalyst
    // builds from text rather than from the DataFrame API.
    sql("q179_sql_gateway",
      """WITH t AS (SELECT lang,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |       x -> x <> '')) AS BIGINT) AS n_toks FROM documents),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |      CAST(sum(n_toks) AS BIGINT) AS sum_toks FROM t GROUP BY lang),
        |tot AS (SELECT CAST(sum(sum_toks) AS BIGINT) AS all_toks FROM g)
        |SELECT lang, n_docs, sum_toks,
        |  CAST(rank() OVER (ORDER BY sum_toks DESC, lang) AS BIGINT) AS rnk,
        |  (sum_toks * 1000000) // all_toks AS share_e6
        |FROM g, tot ORDER BY lang""".stripMargin) { (s, d) =>
      graft.cli.QueryCommand.run(s,
        """WITH t AS (SELECT lang, CAST(size(ws_tokens(text)) AS BIGINT) AS n_toks
          |           FROM documents),
          |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |      CAST(sum(n_toks) AS BIGINT) AS sum_toks FROM t GROUP BY lang),
          |tot AS (SELECT CAST(sum(sum_toks) AS BIGINT) AS all_toks FROM g)
          |SELECT lang, n_docs, sum_toks,
          |  CAST(rank() OVER (ORDER BY sum_toks DESC, lang) AS BIGINT) AS rnk,
          |  (sum_toks * 1000000) div all_toks AS share_e6
          |FROM g CROSS JOIN tot ORDER BY lang""".stripMargin,
        dataDir = Some(d))
    })
}
