package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis and deduplication surface over the `documents` table:
  * token statistics, quality scoring, language ID, exact-hash dedup,
  * n-gram (token-set) Jaccard near-dup, and relational TF-IDF. All six
  * are DuckDB-oracle-checked; the probabilistic dedup family (MinHash
  * LSH, SimHash) lives in `PipelineQueries` with rows-only checks plus
  * ScalaTest specs, since their hash seeds are engine-internal.
  */
object DocQueries {
  import QueryDef._
  import Tables._

  /** q38 drops tokens whose document frequency exceeds this fraction
    * of the corpus before the token self-join (high-df tokens carry
    * ~no Jaccard signal and form quadratic join groups). The same cap
    * is interpolated into the DuckDB oracle.
    *
    * 0.9, not 0.5: the gate corpus's near-dup pairs share tokens with
    * df fractions 0.75–0.83 (measured at sf0.001/0.01/0.1), so a 0.5
    * cap pruned EVERY shared token and the oracle comparison went
    * vacuous (0 = 0 rows, ADVICE r4). At 0.9 the gate yields 62/72/
    * 6313 non-empty pairs across the three SFs while the cap still
    * removes the corpus-wide stopwords (df → ~1.0 at web scale) that
    * create the quadratic join groups pruning exists for. Verify
    * additionally flags empty results on queries expected non-empty,
    * so a future retune cannot go silently vacuous again.
    */
  val MaxDfFraction: Double = 0.9

  val all: Seq[QueryDef] = Seq(

    sql("q34_text_stats",
      """WITH t AS (
        | SELECT doc_id, text,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        | FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_char,
        | round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |       / len(toks), 4) AS avg_word_len,
        | round(CAST(len(list_filter(toks,
        |       x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |       / len(toks), 4) AS stopword_ratio
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        documents(s, d).select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          charCount(col("text")).as("n_char"),
          round(avgWordLen(col("text")), 4).as("avg_word_len"),
          round(stopwordRatio(col("text")), 4).as("stopword_ratio"))
          .orderBy(col("doc_id"))
    },

    sql("q35_quality_score",
      """WITH t AS (
        | SELECT lang, text,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        | FROM documents)
        |SELECT lang, round(avg(q), 4) AS avg_quality, count(*) AS n FROM (
        | SELECT lang, round(
        |   least(1.0, CAST(len(toks) AS DOUBLE) / 100) * 0.4 +
        |   (1.0 - CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / len(toks)) * 0.3 +
        |   least(1.0, CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |        / len(toks) / 8) * 0.3, 4) AS q
        | FROM t) s
        |GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, d) =>
        documents(s, d).select(col("lang"), qualityScore(col("text")).as("q"))
          .groupBy(col("lang"))
          .agg(round(avg("q"), 4).as("avg_quality"), count(lit(1)).as("n"))
          .orderBy(col("lang"))
    },

    sql("q36_lang_id",
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        | FROM documents),
        |scored AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','que','es'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS s_fr
        | FROM t)
        |SELECT doc_id, CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
        |  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |  ELSE 'fr' END AS detected
        |FROM scored ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"), langIdMarkers(col("text")).as("detected"))
          .orderBy("doc_id")
    },

    // Code-switch detection: q36's language ID evaluated per 50-token
    // CHUNK (q72's split) instead of per document — a doc whose chunks
    // disagree on language is mixed-language content the doc-level ID
    // silently mislabels (the multilingual-curation failure mode this
    // table exists to surface). Planted: %21 docs get a German chunk
    // appended, so mixed=true rows exist at every scale; the oracle
    // replays chunking, per-chunk scoring, and the doc rollup.
    sql("q178_code_switch",
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 21 = 0
        |       THEN text || ' der die das und ist der die das und ist'
        |       ELSE text END AS text FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |tok AS (SELECT doc_id, unnest([{'p': p, 'tok': toks[p]} FOR p IN range(1, len(toks)+1)], recursive := true) FROM t),
        |ch AS (SELECT doc_id, (p-1)//50 AS chunk_id, string_agg(tok, ' ' ORDER BY p) AS chunk_text
        |       FROM tok GROUP BY doc_id, chunk_id),
        |ct AS (SELECT doc_id, chunk_id, list_filter(string_split_regex(trim(chunk_text), '\s+'), x -> x <> '') AS toks FROM ch),
        |sc AS (SELECT doc_id, chunk_id,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','que','es'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS s_fr
        |  FROM ct),
        |cl AS (SELECT doc_id, chunk_id, CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
        |  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |  ELSE 'fr' END AS lang FROM sc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  min(lang) AS first_lang,
        |  count(DISTINCT lang) > 1 AS mixed
        |FROM cl GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val corpus = documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 21 === 0,
            concat(col("text"), lit(" der die das und ist der die das und ist")))
            .otherwise(col("text")).as("text"))
        graft.operators.TextOps.chunkTokens(corpus, "doc_id", "text", 50)
          .select(col("id").as("doc_id"), col("chunk_id"),
            langIdMarkers(col("chunk_text")).as("lang"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct("lang").as("n_langs"),
            min("lang").as("first_lang"),
            (countDistinct("lang") > 1).as("mixed"))
          .orderBy(col("doc_id"))
    },

    sql("q37_dedup_exact",
      """SELECT md5(lower(text)) AS fp, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) {
      (s, d) =>
        documents(s, d)
          .groupBy(fingerprint(col("text")).as("fp"))
          .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
          .orderBy(col("fp"))
    },

    // Token-set (1-gram) Jaccard near-dup over blocking buckets
    // (same lang + same n_chars). The relational formulation — explode
    // distinct tokens, self-join within bucket, count intersections,
    // derive |A∪B| = |A|+|B|−|A∩B| — is exactly the shape that scales:
    // the token join shuffles on the token key, never materializing the
    // O(n²) pair space outside the blocking buckets.
    //
    // High-df pruning: tokens appearing in more than MaxDfFraction of
    // documents are dropped BEFORE the self-join (from both the
    // intersection and the set sizes — i.e. Jaccard is computed over
    // the pruned vocabulary, consistently, and the oracle applies the
    // identical cap). A corpus-wide stopword ("the") otherwise forms a
    // join group of ~all docs in its block, and hot-token groups grow
    // QUADRATICALLY with corpus size even though blocking bounds the
    // total; high-df tokens carry ~no Jaccard signal, so pruning them
    // is the standard approximation that bounds every join group at
    // MaxDfFraction × docs.
    sql("q38_ngram_jaccard",
      s"""WITH toks AS (
        | SELECT doc_id, lang, n_chars, unnest(list_distinct(
        |   list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS tok
        | FROM documents),
        |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |pruned AS (
        | SELECT t.doc_id, t.lang, t.n_chars, t.tok
        | FROM toks t JOIN dfreq USING (tok) CROSS JOIN n
        | WHERE dfreq.df <= $MaxDfFraction * n.n_docs),
        |sizes AS (SELECT doc_id, count(*) AS n FROM pruned GROUP BY doc_id),
        |inter AS (
        | SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_both
        | FROM pruned a JOIN pruned b
        |   ON a.tok = b.tok AND a.lang = b.lang AND a.n_chars = b.n_chars
        |  AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id1, id2,
        | round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |ORDER BY id1, id2""".stripMargin) {
      (s, d) =>
        graft.operators.TextOps.ngramJaccardPairs(documents(s, d),
            "doc_id", "text", Seq("lang", "n_chars"), MaxDfFraction)
          .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id1"), col("id2"))
    },

    // BPE-ish pre-tokenization (LLM token-count proxy): the SQL mirror
    // interpolates the SAME pattern constant (quote-escaped), so Spark
    // and DuckDB split on identical regex text.
    sql("q67_bpe_token_count", {
      val pat = "'" + graft.functions.TextFunctions.BpePattern.replace("'", "''") + "'"
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text, $pat)) AS BIGINT) AS n_bpe,
         | CASE WHEN len(regexp_extract_all(text, $pat)) > 0
         |      THEN regexp_extract_all(text, $pat)[1] END AS first_tok,
         | CAST(len(list_filter(regexp_extract_all(text, $pat),
         |      t -> regexp_matches(t, '^[0-9]+$$'))) AS BIGINT) AS n_num
         |FROM documents ORDER BY doc_id""".stripMargin
    }) {
      (s, d) =>
        val toks = bpeTokens(col("text"))
        documents(s, d).select(col("doc_id"),
          bpeTokenCount(col("text")).as("n_bpe"),
          when(size(toks) > 0, element_at(toks, 1)).as("first_tok"),
          size(filter(toks, t => t.rlike("^[0-9]+$"))).cast("long").as("n_num"))
          .orderBy(col("doc_id"))
    },

    // Relational TF-IDF: tf = in-doc term count, idf = ln(N/df);
    // top-scoring term per document via a ranking window.
    sql("q39_tfidf_top_term",
      """WITH toks AS (
        | SELECT doc_id, unnest(
        |   list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        | FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        | SELECT doc_id, tok, round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
        | FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, tok AS top_term, score FROM (
        | SELECT doc_id, tok, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
        | FROM scored) t WHERE rn = 1 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val docs = documents(s, d)
        val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        // df derives from tf (one row per (doc, tok)), not from the raw
        // token stream: a plain count replaces a countDistinct over the
        // full O(tokens) explosion — one less token-volume shuffle
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        // no broadcast hint on df: AQE sizes the vocabulary at runtime
        // and broadcasts only when it fits (see TextOps.tfidf)
        val scored = tf.join(df, "tok")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("tok"),
            round(col("tf") * log(col("n_docs") / col("df")), 6).as("score"))
        // Top term per doc: ranking window over the scored table. A
        // sort-free rewrite was BUILT AND MEASURED in round 5 — hash-agg
        // max(score) per doc, shuffled-hash join back on (doc_id,
        // rounded score), ties via array_min(collect_list) (the only
        // hash-planning tie-break: min(string)/max_by/min_by all plan
        // as SortAggregate) — and it LOST at every scale: 1.22→1.33 s
        // at sf0.1, 2.25→3.99 s at 10×, 10.98→13.17 s at 100×,
        // same-session pairs. The window is NOT a global sort: it is
        // one exchange on doc_id plus a partition-local sort, while the
        // rewrite pays the same full-table exchange for its join PLUS a
        // second tf⋈df pass (two-consumer DAGs recompute their common
        // subplan; only the tf/df exchanges are reused). Keeping the
        // measured winner.
        val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("tok").as("top_term"), col("score"))
          .orderBy(col("doc_id"))
    }
  )
}
