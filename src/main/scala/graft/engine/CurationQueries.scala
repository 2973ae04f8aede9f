package graft.engine

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Decontaminate, Mixing, Packing, Similarity}

/** Round-6 training-data curation additions: Bloom-filter
  * decontamination, the Gopher-rules quality gate, concat-and-split
  * sequence packing, measured-distribution data-mixing rebalance, and
  * int8 embedding quantization. All five are DuckDB-oracle-checked —
  * including the Bloom path, whose exact-verify stage makes the
  * probabilistic prefilter output-exact.
  *
  * Scale shapes (details in each operator's Scaladoc):
  *  - q77: Bloom bytes broadcast as a plan literal; corpus shingles
  *    filtered at scan speed by a codegen'd `might_contain`; only the
  *    fpp-bounded sliver reaches the exact join.
  *  - q78: stateless per-row gate, integer arithmetic only.
  *  - q79: distributed prefix sum — bucket aggregate, tiny cross-bucket
  *    window, bounded within-bucket windows. No global sort/window.
  *  - q80: two tiny broadcast aggregates + a stateless hash gate.
  *  - q81: stateless per-row array math; floor-based rounding only.
  */
object CurationQueries {
  import QueryDef._
  import Tables._

  val all: Seq[QueryDef] = Seq(

    // Bloom-prefiltered benchmark decontamination (eval slice =
    // doc_id % 37 == 0). Output identical to the exact formulation —
    // the oracle IS the exact overlap query; the Bloom stage only
    // prunes the join input (no false negatives by construction).
    sql("q77_bloom_decontaminate",
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |   ELSE [array_to_string(list_slice(toks, i, i+3), ' ') FOR i IN range(1, len(toks)-2)] END)) AS shingle FROM t),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0 AND shingle <> ''),
        |corp AS (SELECT * FROM sh WHERE doc_id % 37 <> 0 AND shingle <> '')
        |SELECT corp.doc_id AS doc_id, count(DISTINCT corp.shingle) AS n_overlap
        |FROM corp JOIN ev ON corp.shingle = ev.shingle
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val docs = documents(s, d)
        Decontaminate.contaminatedDocs(
          corpus = docs.filter(col("doc_id") % 37 =!= 0),
          benchmark = docs.filter(col("doc_id") % 37 === 0))
          .orderBy("doc_id")
    },

    // Admission waterfall: gopher → repetition → exact-dup in POLICY
    // ORDER, every doc attributed to its first failing gate, zero-
    // filled rows so a gate that rejects nothing still reports. The
    // planted corpus makes every gate fire at every scale: %17 docs
    // become a 1-word text (gopher), %13 docs a stopword-led spam run
    // (passes gopher, trips the 0.2 trigram-dup bound), +1,000,000-id
    // copies of the first 30 docs trip the keeper gate unless an
    // earlier gate already claimed them — the attribution-order
    // semantics under test.
    sql("q170_admission_waterfall",
      """WITH corpus0 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 0 THEN 'x'
        |       WHEN doc_id % 13 = 0 THEN 'the spam spam spam spam spam spam spam spam spam spam spam'
        |       ELSE text END AS text FROM documents),
        |corpus AS (SELECT doc_id, text FROM corpus0 UNION ALL
        |           SELECT doc_id + 1000000, text FROM corpus0 WHERE doc_id < 30),
        |t AS (SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |sh AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE [array_to_string(list_slice(toks, i, i+2), ' ') FOR i IN range(1, len(toks)-1)] END AS grams FROM t),
        |g AS (SELECT t.doc_id,
        |  (len(toks) BETWEEN 5 AND 100000
        |   AND length(regexp_replace(text, '\s', '', 'g')) >= 2 * len(toks)
        |   AND length(regexp_replace(text, '\s', '', 'g')) <= 12 * len(toks)
        |   AND len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) >= 1) AS g1,
        |  (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) <= 0.2 AS g2
        |  FROM t JOIN sh ON t.doc_id = sh.doc_id),
        |k AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS g3 FROM corpus),
        |w AS (SELECT CASE WHEN NOT g1 THEN 'gopher' WHEN NOT g2 THEN 'repetition'
        |             WHEN NOT g3 THEN 'exact_dup' ELSE 'admitted' END AS gate
        |      FROM g JOIN k USING (doc_id)),
        |c AS (SELECT gate, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY gate),
        |f AS (SELECT * FROM (VALUES (1, 'gopher'), (2, 'repetition'),
        |                            (3, 'exact_dup'), (4, 'admitted')) AS v(stage, gate))
        |SELECT CAST(stage AS BIGINT) AS stage, gate,
        |  COALESCE(n, CAST(0 AS BIGINT)) AS n_docs
        |FROM f LEFT JOIN c USING (gate) ORDER BY stage""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val spam =
          "the spam spam spam spam spam spam spam spam spam spam spam"
        val docs0 = documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 17 === 0, lit("x"))
            .when(col("doc_id") % 13 === 0, lit(spam))
            .otherwise(col("text")).as("text"))
        val corpus = docs0.unionByName(docs0.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val grams = graft.operators.Dedup.shingles(col("text"), 3)
        val dupFrac = lit(1.0) -
          size(array_distinct(grams)).cast("double") / size(grams).cast("double")
        val prepared = corpus
          .withColumn("__g1", TextFunctions.gopherKeep(col("text")))
          .withColumn("__g2", dupFrac <= 0.2)
          .withColumn("__g3",
            min(col("doc_id")).over(Window.partitionBy(md5(col("text")))) === col("doc_id"))
        graft.operators.Profiling.admissionWaterfall(prepared, Seq(
          ("gopher", col("__g1")), ("repetition", col("__g2")),
          ("exact_dup", col("__g3"))))
    },

    // Gopher-rules quality gate: word-count window, mean-word-length
    // window as integer cross-multiplication, stopword presence.
    sql("q78_quality_gopher",
      """WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        | CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS wchars,
        | CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_hits,
        | (len(toks) BETWEEN 5 AND 100000
        |   AND length(regexp_replace(text, '\s', '', 'g')) >= 2 * len(toks)
        |   AND length(regexp_replace(text, '\s', '', 'g')) <= 12 * len(toks)
        |   AND len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) >= 1) AS keep
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        documents(s, d).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_words"),
          TextFunctions.nonWsChars(col("text")).as("wchars"),
          TextFunctions.stopwordHits(col("text")).as("stop_hits"),
          TextFunctions.gopherKeep(col("text")).as("keep"))
          .orderBy("doc_id")
    },

    // Concat-and-split sequence packing into 512-token context
    // windows. The oracle is the NAIVE global running window — the
    // Spark side must reproduce it bit-for-bit from the distributed
    // two-level prefix sum (bucketSize 100 exercises many buckets at
    // every SF).
    sql("q79_pack_sequences",
      """WITH t AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_toks FROM documents),
        |c AS (SELECT doc_id, n_toks, CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start FROM t)
        |SELECT doc_id, n_toks, start, CAST(start // 512 AS BIGINT) AS pack_id, CAST(start % 512 AS BIGINT) AS pack_off
        |FROM c ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        Packing.packSequences(documents(s, d), "doc_id", "text",
          ctxLen = 512, bucketSize = 100)
          .orderBy("doc_id")
    },

    // Data-mixing rebalance toward uniform language shares, derived
    // from the measured distribution (en is ~44% of the synthetic
    // corpus and gets downsampled; the rest keep all rows).
    sql("q80_mix_rebalance",
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |t AS (SELECT sum(cnt) AS total, count(*) AS n FROM c)
        |SELECT d.doc_id AS doc_id, d.lang AS lang
        |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN t
        |WHERE c.cnt * t.n <= t.total
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', CAST((65536 * t.total) // (t.n * c.cnt) AS BIGINT))
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        Mixing.rebalanceUniform(documents(s, d), "lang", "doc_id")
          .orderBy("doc_id")
    },

    // Symmetric int8 embedding quantization: scale basis, quantized
    // vector (comma-joined rendering — the q51/q55 array-compare
    // convention), and max reconstruction error, all floor-scaled to
    // integers for hash-stable cross-engine compares.
    sql("q81_embedding_quantize",
      """WITH a AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax FROM embeddings)
        |SELECT vec_id,
        | CAST(floor(amax * 10000.0) AS BIGINT) AS amax_e4,
        | CASE WHEN amax IS NULL THEN NULL
        |  WHEN amax = 0 THEN array_to_string(list_transform(embedding, x -> 0), ',')
        |  ELSE array_to_string(list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT)), ',') END AS qvec,
        | CASE WHEN amax IS NULL THEN NULL
        |  WHEN amax = 0 THEN 0
        |  ELSE CAST(floor(list_max([abs(CAST(embedding[i] AS DOUBLE)
        |    - floor(CAST(embedding[i] AS DOUBLE) * 127.0 / amax + 0.5) * amax / 127.0)
        |    FOR i IN range(1, len(embedding)+1)]) * 10000000.0) AS BIGINT) END AS err_e7
        |FROM a ORDER BY vec_id""".stripMargin) {
      (s, d) =>
        // int8Quantize/int8Error already yield zeros / 0.0 at amax = 0,
        // so only the NULL arm (empty or null vector — absent from the
        // testdata but mirrored for parity) needs an explicit guard
        val v = col("embedding")
        val amax = VectorFunctions.absMax(v)
        embeddings(s, d).select(col("vec_id"),
          floor(amax * lit(10000.0)).cast("long").as("amax_e4"),
          when(amax.isNull, lit(null).cast("string"))
            .otherwise(array_join(
              transform(VectorFunctions.int8Quantize(v), _.cast("string")), ","))
            .as("qvec"),
          when(amax.isNull, lit(null).cast("long"))
            .otherwise(floor(VectorFunctions.int8Error(v) * lit(10000000.0)).cast("long"))
            .as("err_e7"))
          .orderBy("vec_id")
    },

    // One Lloyd k-means refinement round seeded from the per-label
    // means (the q43 coarse quantizer): stateless codegen'd argmax
    // assignment, then the distributed posexplode/avg recompute. The
    // oracle replays assignment as a row_number argmax and the
    // recompute as a grouped average; components are floor-scaled to
    // integers (the q43/q51 double-compare convention).
    sql("q82_kmeans_refine",
      """WITH cent AS (
        | SELECT label AS list_id, list(m ORDER BY pos) AS centroid FROM (
        |  SELECT label, pos, avg(x) AS m FROM (
        |   SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |          unnest(range(1, len(embedding)+1)) AS pos
        |   FROM embeddings) u
        |  GROUP BY label, pos) g
        | GROUP BY label),
        |asg AS (
        | SELECT vec_id, list_id FROM (
        |  SELECT e.vec_id, c.list_id,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) DESC,
        |              c.list_id) AS rn
        |  FROM embeddings e, cent c) x WHERE rn = 1)
        |SELECT CAST(list_id AS BIGINT) AS list_id, CAST(pos AS BIGINT) AS pos,
        |       CAST(floor(avg(x) * 1000000.0) AS BIGINT) AS m_e6
        |FROM asg a JOIN (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |         unnest(range(1, len(embedding)+1)) AS pos
        |  FROM embeddings) u ON u.vec_id = a.vec_id
        |GROUP BY list_id, pos ORDER BY list_id, pos""".stripMargin) {
      (s, d) =>
        val emb = embeddings(s, d)
        val refined = Similarity.kmeansRefine(emb,
          Similarity.labelCentroids(emb), iters = 1)
        refined
          .select(col("list_id"), posexplode(col("centroid")).as(Seq("pos", "m")))
          .select(col("list_id").cast("long").as("list_id"),
            (col("pos") + 1).cast("long").as("pos"),
            floor(col("m") * lit(1000000.0)).cast("long").as("m_e6"))
          .orderBy("list_id", "pos")
    },

    // k-anonymity / l-diversity privacy audit (Sweeney 2002 /
    // Machanavajjhala 2006): one row per quasi-identifier class
    // (nation × market segment) with its size, its sensitive-value
    // diversity (account-balance 1000-unit band, cents-scaled so the
    // band edge is integer-exact on both engines), and the k=5 / l=3
    // flags — the release gate for people-shaped tables. One QI-keyed
    // hash aggregate; no window, no join.
    sql("q187_k_anonymity",
      """WITH c AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |  c_custkey % 10 AS zip,
        |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS sband
        |  FROM customer),
        |cls AS (SELECT nation, segment, zip,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT sband) AS BIGINT) AS n_sensitive
        |  FROM c GROUP BY nation, segment, zip)
        |SELECT nation, segment, zip, class_size, n_sensitive,
        |  class_size >= 5 AS k_anonymous, n_sensitive >= 3 AS l_diverse
        |FROM cls ORDER BY nation, segment, zip""".stripMargin) {
      (s, d) =>
        import graft.operators.Profiling
        val qi = customer(s, d).select(
          col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
          (col("c_custkey") % 10).as("zip"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
            .as("sband"))
        Profiling.kAnonymityAudit(qi, Seq("nation", "segment", "zip"),
            col("sband"), k = 5, l = 3)
          .orderBy("nation", "segment", "zip")
    },

    // k-anonymity ENFORCEMENT (q187's audit turned into action, the
    // audit→transform pattern the drift-retrain loop set): global
    // full-domain generalization over two ladders — nation → region
    // (div 5) → '*' and zip → zip-prefix (div 10) → '*' — picks the
    // MINIMAL level whose residual risk fits the 20‰ suppression
    // budget, suppresses the residual classes, and releases with the
    // chosen level attached. The oracle replays the per-level risk
    // scoring, the argmin, and the suppression join move-for-move, so
    // a divergence in either the ladder arithmetic or the budget rule
    // breaks the hash. k=5 / l=2 over the q187 cents-exact
    // account-balance band.
    sql("q192_k_anonymize",
      """WITH base AS (SELECT c_custkey,
        |  CAST(c_nationkey AS VARCHAR) AS n0, CAST(c_nationkey // 5 AS VARCHAR) AS n1, '*' AS n2,
        |  CAST(c_custkey % 100 AS VARCHAR) AS z0, CAST((c_custkey % 100) // 10 AS VARCHAR) AS z1, '*' AS z2,
        |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS sband
        |  FROM customer),
        |lv AS (SELECT g, c_custkey, sband,
        |    CASE g WHEN 0 THEN n0 WHEN 1 THEN n1 ELSE n2 END AS nq,
        |    CASE g WHEN 0 THEN z0 WHEN 1 THEN z1 ELSE z2 END AS zq
        |  FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS g)),
        |cls AS (SELECT g, nq, zq, count(*) AS sz, count(DISTINCT sband) AS ns
        |  FROM lv GROUP BY 1, 2, 3),
        |risk AS (SELECT g, sum(CASE WHEN sz < 5 OR ns < 2 THEN sz ELSE 0 END) AS at_risk,
        |  sum(sz) AS total FROM cls GROUP BY g),
        |chosen AS (SELECT coalesce(min(g) FILTER (WHERE at_risk * 1000 <= 20 * total), 2) AS g
        |  FROM risk)
        |SELECT l.c_custkey, l.nq AS nation_gen, l.zq AS zip_gen,
        |  CAST(l.sband AS BIGINT) AS sband,
        |  CAST(c.g AS BIGINT) AS gen_level
        |FROM lv l JOIN chosen c ON l.g = c.g
        |JOIN cls ON cls.g = l.g AND cls.nq = l.nq AND cls.zq = l.zq
        |WHERE cls.sz >= 5 AND cls.ns >= 2
        |ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        import graft.operators.Profiling
        val base = customer(s, d).select(col("c_custkey"),
          col("c_nationkey"), (col("c_custkey") % 100).as("zip"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
            .as("sband"))
        Profiling.kAnonymize(base,
          ladders = Seq(
            "nation_gen" -> Seq(col("c_nationkey").cast("string"),
              expr("c_nationkey div 5").cast("string"), lit("*")),
            "zip_gen" -> Seq(col("zip").cast("string"),
              expr("zip div 10").cast("string"), lit("*"))),
          sensitiveCol = "sband", k = 5, l = 2, maxSuppressPerMille = 20L)
          .orderBy("c_custkey")
    },

    // INTRA-document repetition strip (the Gopher repetition signals
    // q78 measures, acted on): every 4th document gets its own first
    // 8-token chunk PREPENDED, so chunk 0 and chunk 1 are identical
    // and exactly one chunk strips (prepending keeps the 8-token
    // alignment — an appended plant would fire only when the token
    // count divides evenly); natural within-doc repeats strip too.
    // One codegen'd per-row projection, zero shuffles — the oracle
    // replays chunking and the keep-first filter per document.
    sql("q197_intradoc_repetition",
      """WITH t0 AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk FROM documents),
        |corpus AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 AND len(tk) > 0
        |      THEN array_to_string(list_slice(tk, 1, 8), ' ') || ' ' || array_to_string(tk, ' ')
        |      ELSE array_to_string(tk, ' ') END AS text
        |  FROM t0),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |ch AS (SELECT doc_id,
        |         CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |           ELSE [array_to_string(list_slice(toks, 1 + 8*i, 8*i + 8), ' ')
        |                 FOR i IN range(0, CAST(ceil(len(toks) / 8.0) AS INT))] END AS chunks
        |       FROM t),
        |k AS (SELECT doc_id, chunks,
        |        [chunks[i+1] FOR i IN range(len(chunks))
        |         IF list_position(chunks, chunks[i+1]) = i + 1] AS kept
        |      FROM ch)
        |SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS cleaned,
        |  CAST(len(chunks) - len(kept) AS BIGINT) AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val corpus = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0 &&
            size(graft.functions.TextFunctions.tokens(col("text"))) > 0,
          concat(
            array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 8), " "),
            lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.operators.TextOps.intraDocRepetitionStrip(corpus,
          "doc_id", "text", lineTokens = 8)
        .orderBy("doc_id")
    },

    // t-closeness audit (Li 2007) — the third privacy leg after
    // q187's k/l flags: per (nation, segment) class, the integer-exact
    // EMD of its account-balance-band distribution vs the table's
    // (cross-multiplied proportions, cumulative over the ordered band
    // axis, Σ|cum|), flagged against t = 300‰. The oracle replays the
    // grid (zero terms for bands a class lacks — required for the
    // cumulative to be right), the per-class cumulative, and the
    // scaled flag comparison.
    sql("q198_t_closeness",
      """WITH c AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS sband
        |  FROM customer),
        |tot AS (SELECT count(*) AS N, count(DISTINCT sband) AS m FROM c),
        |g AS (SELECT sband, count(*) AS gc FROM c GROUP BY sband),
        |cl AS (SELECT nation, segment, count(*) AS n FROM c GROUP BY 1, 2),
        |cv AS (SELECT nation, segment, sband, count(*) AS cc FROM c GROUP BY 1, 2, 3),
        |grid AS (SELECT cl.nation, cl.segment, cl.n, g.sband, g.gc,
        |           COALESCE(cv.cc, 0) AS cc
        |         FROM cl CROSS JOIN g
        |         LEFT JOIN cv ON cv.nation = cl.nation AND cv.segment = cl.segment
        |           AND cv.sband = g.sband),
        |cum AS (SELECT nation, segment, n,
        |          sum(cc::HUGEINT * (SELECT N FROM tot) - gc::HUGEINT * n)
        |            OVER (PARTITION BY nation, segment ORDER BY sband
        |                  ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM grid),
        |emd AS (SELECT nation, segment, n, sum(abs(cum)) AS emd_num
        |        FROM cum GROUP BY 1, 2, 3)
        |SELECT nation, segment, CAST(n AS BIGINT) AS class_size,
        |  CAST(emd_num AS BIGINT) AS emd_num,
        |  emd_num * 1000 <= 300 * ((SELECT m FROM tot) - 1) * n * (SELECT N FROM tot) AS t_close
        |FROM emd ORDER BY nation, segment""".stripMargin) { (s, d) =>
      import graft.operators.Profiling
      val qi = customer(s, d).select(
        col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
          .as("sband"))
      Profiling.tClosenessAudit(qi, Seq("nation", "segment"), col("sband"),
          tPermille = 300L)
        .select(col("nation"), col("segment"), col("class_size"),
          col("emd_num").cast("long").as("emd_num"), col("t_close"))
        .orderBy("nation", "segment")
    },

    // URL-level dedup over the native canonicalization kernel: every
    // doc gets a synthesized URL whose MESSY SURFACE varies by
    // doc_id % 5 (uppercase scheme/host + www + :80 + utm param +
    // fragment; trailing slash; gclid tracking; plain) but whose
    // CANONICAL form is a pure id formula — docs sharing
    // (host, path, params) ids collapse to one keeper (min doc_id).
    // The oracle predicts the canonical string and the keeper directly
    // from the construction (the q182 planted convention: any kernel
    // divergence — case, port, www, param scrub/sort, slash, fragment
    // — breaks the string hash).
    sql("q199_url_dedup",
      """WITH u AS (SELECT doc_id,
        |  'http://site' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/p/'
        |   || CAST(doc_id % 97 AS VARCHAR)
        |   || '?a=' || CAST(doc_id % 7 AS VARCHAR)
        |   || '&b=' || CAST(doc_id % 3 AS VARCHAR) AS canon
        |  FROM documents),
        |k AS (SELECT canon, min(doc_id) AS keeper FROM u GROUP BY canon)
        |SELECT u.doc_id, u.canon, u.doc_id = k.keeper AS is_kept
        |FROM u JOIN k USING (canon) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val host = concat(lit("site"), (col("doc_id") % 40).cast("string"),
        lit(".example.com"))
      val path = concat(lit("/p/"), (col("doc_id") % 97).cast("string"))
      val pa = concat(lit("a="), (col("doc_id") % 7).cast("string"))
      val pb = concat(lit("b="), (col("doc_id") % 3).cast("string"))
      val raw = when(col("doc_id") % 5 === 0,
          concat(lit("HTTP://WWW."), upper(host), lit(":80"), path,
            lit("?utm_source=feed&"), pb, lit("&"), pa, lit("#top")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("http://"), host, path, lit("/?"), pa, lit("&"), pb))
        .when(col("doc_id") % 5 === 2,
          concat(lit("http://"), host, path, lit("?gclid=zzz&"), pb, lit("&"), pa))
        .otherwise(concat(lit("http://"), host, path, lit("?"), pa, lit("&"), pb))
      graft.operators.TextOps.urlDedup(
          documents(s, d).select(col("doc_id"), raw.as("url")), "doc_id", "url")
        .select(col("doc_id"), col("canon"), col("is_kept"))
        .orderBy("doc_id")
    },

    // Release DATA CARD: per-language + rolled-up total in ONE
    // aggregate pass (ROLLUP's Expand tags both group levels into the
    // same shuffle) — doc/token counts, exact-distinct texts, e6 dup
    // rate, short-doc count, integer mean tokens. Every 9th document's
    // text is replaced by one shared boilerplate string, driving a
    // predictable duplicate rate (and a short-doc count) into every
    // language's card row; the oracle replays the plant and the
    // rollup.
    sql("q200_data_card",
      """WITH base AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN 'release boilerplate placeholder row' ELSE text END AS text,
        |    lang
        |  FROM documents),
        |t AS (SELECT lang, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n,
        |        md5(text) AS dg FROM base),
        |card AS (SELECT CASE WHEN GROUPING(lang) = 1 THEN '__all__'
        |      ELSE COALESCE(lang, '__null__') END AS scope,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT dg) AS BIGINT) AS n_distinct,
        |    CAST(sum(CASE WHEN n < 32 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
        |  FROM t GROUP BY ROLLUP (lang))
        |SELECT scope, n_docs, n_tokens, n_distinct,
        |  (n_docs - n_distinct) * 1000000 // n_docs AS dup_e6,
        |  short_docs, n_tokens // n_docs AS mean_tokens
        |FROM card ORDER BY scope""".stripMargin) { (s, d) =>
      val planted = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          lit("release boilerplate placeholder row"))
          .otherwise(col("text")).as("text"),
        col("lang"))
      graft.operators.Profiling.dataCard(planted, "text", "lang",
          shortTokens = 32)
        .orderBy("scope")
    },

    // (ε)-DP release of the data card (r12 verdict item 6): the
    // two-sided geometric mechanism at α = 1/2 (ε = ln 2 per count)
    // on the Δ=1 count columns, with a SEEDED integer-exact noise
    // draw — v = first 48 md5 bits of seed:scope:column, inverse-CDF
    // walked with exact Long thresholds — so the oracle replays the
    // exact noise, not its distribution. Δ-unbounded columns
    // (n_tokens, mean_tokens) are withheld; dup_e6 is recomputed
    // from the noised counts (post-processing, no extra ε). Total
    // budget 6·ln 2 (2 rows per doc × 3 counts). The HARDCODED
    // seed = 7 here makes this a mechanism-replay TEST, not a privacy
    // release: the ε guarantee is conditional on a secret, fresh,
    // single-use seed (see the dpDataCard docstring) — a known seed
    // lets anyone subtract the noise exactly.
    sql("q205_dp_data_card",
      """WITH base AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN 'release boilerplate placeholder row' ELSE text END AS text,
        |    lang
        |  FROM documents),
        |t AS (SELECT lang, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n,
        |        md5(text) AS dg FROM base),
        |card AS (SELECT CASE WHEN GROUPING(lang) = 1 THEN '__all__'
        |      ELSE COALESCE(lang, '__null__') END AS scope,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT dg) AS BIGINT) AS n_distinct,
        |    CAST(sum(CASE WHEN n < 32 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
        |  FROM t GROUP BY ROLLUP (lang)),
        |nz AS (SELECT scope, n_docs, n_distinct, short_docs,
        |  COALESCE(list_min([zz FOR zz IN range(-40, 41)
        |    IF 3 * list_sum([(strpos('0123456789abcdef', substr(md5('7:' || scope || ':n_docs'), i, 1)) - 1) * (CAST(1 AS BIGINT) << (4*(12-i))) FOR i IN range(1,13)])
        |       < (CASE WHEN zz < 0 THEN (CAST(1 AS BIGINT) << (49+zz)) ELSE 3*(CAST(1 AS BIGINT) << 48) - (CAST(1 AS BIGINT) << (48-zz)) END)]), 40) AS z_docs,
        |  COALESCE(list_min([zz FOR zz IN range(-40, 41)
        |    IF 3 * list_sum([(strpos('0123456789abcdef', substr(md5('7:' || scope || ':n_distinct'), i, 1)) - 1) * (CAST(1 AS BIGINT) << (4*(12-i))) FOR i IN range(1,13)])
        |       < (CASE WHEN zz < 0 THEN (CAST(1 AS BIGINT) << (49+zz)) ELSE 3*(CAST(1 AS BIGINT) << 48) - (CAST(1 AS BIGINT) << (48-zz)) END)]), 40) AS z_dist,
        |  COALESCE(list_min([zz FOR zz IN range(-40, 41)
        |    IF 3 * list_sum([(strpos('0123456789abcdef', substr(md5('7:' || scope || ':short_docs'), i, 1)) - 1) * (CAST(1 AS BIGINT) << (4*(12-i))) FOR i IN range(1,13)])
        |       < (CASE WHEN zz < 0 THEN (CAST(1 AS BIGINT) << (49+zz)) ELSE 3*(CAST(1 AS BIGINT) << 48) - (CAST(1 AS BIGINT) << (48-zz)) END)]), 40) AS z_short
        |  FROM card),
        |rel AS (SELECT scope,
        |  GREATEST(0, n_docs + z_docs) AS n_docs_dp,
        |  GREATEST(0, n_distinct + z_dist) AS n_distinct_dp,
        |  GREATEST(0, short_docs + z_short) AS short_docs_dp FROM nz)
        |SELECT scope, n_docs_dp, n_distinct_dp, short_docs_dp,
        |  CASE WHEN n_docs_dp > 0
        |    THEN GREATEST(0, n_docs_dp - n_distinct_dp) * 1000000 // n_docs_dp
        |    ELSE 0 END AS dup_e6_dp
        |FROM rel ORDER BY scope""".stripMargin) { (s, d) =>
      val planted = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          lit("release boilerplate placeholder row"))
          .otherwise(col("text")).as("text"),
        col("lang"))
      graft.operators.Profiling.dpDataCard(planted, "text", "lang",
          shortTokens = 32, seed = 7L)
        .orderBy("scope")
    },

    // SQL door for PRIVACY ENFORCEMENT: q192's exact k-anonymization
    // flow driven from pure SQL text via the CONFIG-TABLE pattern —
    // a generalization ladder is not literal-expressible as TVF
    // arguments (each level is an expression over the source schema),
    // so it ships as a relation of (name, level, expr-SQL) rows that
    // the TVF resolves against the source. The oracle is q192's full
    // replay: per-level risk scoring, budget argmin, suppression join.
    sqlWithSetup("q206_sql_door_kanon",
      """WITH base AS (SELECT c_custkey,
        |  CAST(c_nationkey AS VARCHAR) AS n0, CAST(c_nationkey // 5 AS VARCHAR) AS n1, '*' AS n2,
        |  CAST(c_custkey % 100 AS VARCHAR) AS z0, CAST((c_custkey % 100) // 10 AS VARCHAR) AS z1, '*' AS z2,
        |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS sband
        |  FROM customer),
        |lv AS (SELECT g, c_custkey, sband,
        |    CASE g WHEN 0 THEN n0 WHEN 1 THEN n1 ELSE n2 END AS nq,
        |    CASE g WHEN 0 THEN z0 WHEN 1 THEN z1 ELSE z2 END AS zq
        |  FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS g)),
        |cls AS (SELECT g, nq, zq, count(*) AS sz, count(DISTINCT sband) AS ns
        |  FROM lv GROUP BY 1, 2, 3),
        |risk AS (SELECT g, sum(CASE WHEN sz < 5 OR ns < 2 THEN sz ELSE 0 END) AS at_risk,
        |  sum(sz) AS total FROM cls GROUP BY g),
        |chosen AS (SELECT coalesce(min(g) FILTER (WHERE at_risk * 1000 <= 20 * total), 2) AS g
        |  FROM risk)
        |SELECT l.c_custkey, l.nq AS nation_gen, l.zq AS zip_gen,
        |  CAST(l.sband AS BIGINT) AS sband,
        |  CAST(c.g AS BIGINT) AS gen_level
        |FROM lv l JOIN chosen c ON l.g = c.g
        |JOIN cls ON cls.g = l.g AND cls.nq = l.nq AND cls.zq = l.zq
        |WHERE cls.sz >= 5 AND cls.ns >= 2
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_custkey"),
          col("c_nationkey"), (col("c_custkey") % 100).as("zip"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
            .as("sband"))
        .createOrReplaceTempView("graft_q206_src")
      import s.implicits._
      Seq(
        ("nation_gen", 0, "CAST(c_nationkey AS STRING)"),
        ("nation_gen", 1, "CAST(c_nationkey div 5 AS STRING)"),
        ("nation_gen", 2, "'*'"),
        ("zip_gen", 0, "CAST(zip AS STRING)"),
        ("zip_gen", 1, "CAST(zip div 10 AS STRING)"),
        ("zip_gen", 2, "'*'"))
        .toDF("name", "level", "expr")
        .createOrReplaceTempView("graft_q206_ladders")
    } { (s, d) =>
      graft.cli.QueryCommand.run(s,
        """SELECT c_custkey, nation_gen, zip_gen, sband, gen_level
          |FROM graft_k_anonymize('graft_q206_src', 'graft_q206_ladders',
          |                       'sband', 5, 2, 20)
          |ORDER BY c_custkey""".stripMargin, dataDir = Some(d))
    },

    // DOMAIN-level curation gate (the RefinedWeb-style rule: a
    // domain's pathology condemns ALL its pages): docs carry messy
    // URL surfaces that canonicalize to one host per doc_id % 7;
    // host h3 serves one mirrored text (dup rate → 1e6) and h5
    // serves stubs (short rate 1000‰), so BOTH domains drop
    // wholesale while the other five survive untouched. The verdict
    // aggregate is domain-sized and broadcasts back — the corpus side
    // never shuffles. The oracle replays host derivation, the card
    // thresholds, and the semi-join.
    sql("q207_domain_filter",
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN 'mirrored farm content row'
        |         WHEN doc_id % 7 = 5 THEN 'stub'
        |         ELSE text END AS text,
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
        |  FROM documents),
        |t AS (SELECT doc_id, host, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n,
        |        md5(text) AS dg FROM d),
        |v AS (SELECT host, count(*) AS docs, count(DISTINCT dg) AS dst,
        |        sum(CASE WHEN n < 32 THEN 1 ELSE 0 END) AS sh
        |      FROM t GROUP BY host),
        |keep AS (SELECT host FROM v
        |  WHERE (docs - dst) * 1000000 // docs <= 500000
        |    AND sh * 1000 // docs <= 500)
        |SELECT t.doc_id, t.host AS __host FROM t JOIN keep USING (host)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val host = concat(lit("h"), (col("doc_id") % 7).cast("string"),
        lit(".example.com"))
      val planted = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 3, lit("mirrored farm content row"))
          .when(col("doc_id") % 7 === 5, lit("stub"))
          .otherwise(col("text")).as("text"),
        // two messy surfaces of the same canonical host — the gate
        // must see ONE domain through the canon kernel
        when(col("doc_id") % 2 === 0,
          concat(lit("HTTP://WWW."), upper(host),
            lit(":80/p?utm_source=feed#top")))
          .otherwise(concat(lit("http://"), host, lit("/p"))).as("url"))
      graft.operators.TextOps.domainFilter(planted, "url", "text",
          maxDupE6 = 500000L, maxShortPermille = 500L)
        .select(col("doc_id"), col("__host"))
        .orderBy("doc_id")
    },

    // Crawl-POLICY gate (robots/licensing): longest-matching-prefix
    // resolution of (host, path-prefix, allow) rules within the
    // canonical host — TextOps.policyAudit scaladoc. The policy bakes
    // into ONE literal expression (q122's broadcast-as-literal
    // pattern): zero joins, zero shuffles, verdict inside the scan
    // stage. Fixture exercises every resolution depth: unlisted hosts
    // default-allow, h1 is deny-all-except-/public, h2 denies /private
    // except the /private/1* subtree (three prefix depths on one
    // path), h4 is a full host deny — through q207's messy-URL
    // surfaces, so the canon kernel (WWW./case/:80/utm/#frag) is in
    // the oracle loop too.
    sql("q221_policy_gate",
      """WITH d AS (SELECT doc_id,
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
        |    '/' || CASE doc_id % 3 WHEN 0 THEN 'public' WHEN 1 THEN 'private' ELSE 'misc' END
        |        || '/' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |pol(h, p, a) AS (VALUES
        |  ('h1.example.com', '/', 0), ('h1.example.com', '/public', 1),
        |  ('h2.example.com', '/private', 0), ('h2.example.com', '/private/1', 1),
        |  ('h4.example.com', '/', 0)),
        |m AS (SELECT d.doc_id, d.host, d.path, max(2 * len(p.p) + p.a) AS score
        |  FROM d LEFT JOIN pol p ON d.host = p.h AND starts_with(d.path, p.p)
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, host AS __host, path AS __path,
        |  CAST(COALESCE(score // 2, 0) AS BIGINT) AS rule_len,
        |  COALESCE(score % 2 = 1, TRUE) AS allow
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val host = concat(lit("h"), (col("doc_id") % 7).cast("string"),
        lit(".example.com"))
      val path = concat(lit("/"),
        when(col("doc_id") % 3 === 0, "public")
          .when(col("doc_id") % 3 === 1, "private").otherwise("misc"),
        lit("/"), col("doc_id").cast("string"))
      val planted = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit("HTTP://WWW."), upper(host), lit(":80"), path,
            lit("?utm_source=feed#top")))
          .otherwise(concat(lit("http://"), host, path)).as("url"))
      val policy = Seq(
        ("h1.example.com", "/", false), ("h1.example.com", "/public", true),
        ("h2.example.com", "/private", false),
        ("h2.example.com", "/private/1", true),
        ("h4.example.com", "/", false))
      graft.operators.TextOps.policyAudit(planted, "url", policy)
        .select(col("doc_id"), col("__host"), col("__path"),
          coalesce(expr("__rule_score div 2"), lit(0L)).cast("long").as("rule_len"),
          col("__allow").as("allow"))
        .orderBy("doc_id")
    },

    // SQL DOOR PHASE 5: the r15 session-2 operators as table
    // functions, both driven from ONE SQL text — `graft_policy_gate`
    // (rules as a CONFIG relation, the q206 ladder pattern: rule
    // lists are not literal TVF arguments) and `graft_kmv_overlap`
    // (cross-corpus estimates straight from table + column names).
    // The oracle replays q221's longest-prefix gate (allowed rows,
    // grouped by matched rule length) and q220's full KMV estimate
    // chain into the same (probe, k, a, b, c) shape.
    sqlWithSetup("q223_sql_door_overlap_policy",
      """WITH d AS (SELECT doc_id,
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
        |    '/' || CASE doc_id % 3 WHEN 0 THEN 'public' WHEN 1 THEN 'private' ELSE 'misc' END
        |        || '/' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |pol(h, p, a) AS (VALUES
        |  ('h1.example.com', '/', 0), ('h1.example.com', '/public', 1),
        |  ('h2.example.com', '/private', 0), ('h2.example.com', '/private/1', 1),
        |  ('h4.example.com', '/', 0)),
        |m AS (SELECT d.doc_id, max(2 * len(p.p) + p.a) AS score
        |  FROM d LEFT JOIN pol p ON d.host = p.h AND starts_with(d.path, p.p)
        |  GROUP BY 1),
        |gate AS (SELECT doc_id, CAST(COALESCE(score // 2, 0) AS BIGINT) AS rule_len
        |  FROM m WHERE COALESCE(score % 2 = 1, TRUE)),
        |tagged AS (
        |  SELECT 'A' AS corpus, text FROM documents WHERE doc_id % 4 < 3 AND text IS NOT NULL
        |  UNION ALL
        |  SELECT 'B', text FROM documents WHERE doc_id % 4 > 0 AND text IS NOT NULL),
        |hd AS (SELECT DISTINCT corpus,
        |    list_sum([(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * (CAST(1 AS BIGINT) << (4*(15-i))) FOR i IN range(1, 16)]) AS h
        |  FROM tagged),
        |rn AS (SELECT corpus, h, row_number() OVER (PARTITION BY corpus ORDER BY h) AS rn FROM hd),
        |sk AS (SELECT corpus, list(h ORDER BY h) AS kmv FROM rn WHERE rn <= 128 GROUP BY corpus),
        |ab AS (SELECT a.kmv AS akmv, b.kmv AS bkmv
        |       FROM sk a, sk b WHERE a.corpus = 'A' AND b.corpus = 'B'),
        |th AS (SELECT akmv, bkmv,
        |    LEAST(CASE WHEN len(akmv) < 128 THEN CAST(1 AS BIGINT) << 60 ELSE akmv[128] END,
        |          CASE WHEN len(bkmv) < 128 THEN CAST(1 AS BIGINT) << 60 ELSE bkmv[128] END) AS theta
        |  FROM ab),
        |cnt AS (SELECT akmv, bkmv, theta,
        |    CAST(len([x FOR x IN akmv IF list_contains(bkmv, x) AND x < theta]) AS BIGINT) AS cb,
        |    CAST(len([x FOR x IN akmv IF x < theta]) + len([x FOR x IN bkmv IF x < theta AND NOT list_contains(akmv, x)]) AS BIGINT) AS ub
        |  FROM th),
        |est AS (SELECT
        |    CASE WHEN len(akmv) < 128 THEN CAST(len(akmv) AS BIGINT)
        |         ELSE CAST(floor(127.0 * 1152921504606846976.0 / CAST(akmv[128] AS DOUBLE)) AS BIGINT) END AS est_a,
        |    CASE WHEN len(bkmv) < 128 THEN CAST(len(bkmv) AS BIGINT)
        |         ELSE CAST(floor(127.0 * 1152921504606846976.0 / CAST(bkmv[128] AS DOUBLE)) AS BIGINT) END AS est_b,
        |    CAST(floor(CAST(cb AS DOUBLE) * 1152921504606846976.0 / CAST(theta AS DOUBLE)) AS BIGINT) AS est_inter,
        |    CAST(floor(CAST(ub AS DOUBLE) * 1152921504606846976.0 / CAST(theta AS DOUBLE)) AS BIGINT) AS est_union,
        |    CASE WHEN ub > 0 THEN CAST(floor(CAST(cb AS DOUBLE) * 1000000.0 / CAST(ub AS DOUBLE)) AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS jaccard_e6
        |  FROM cnt)
        |SELECT * FROM (
        |  SELECT 'policy' AS probe, CAST(rule_len AS VARCHAR) AS k,
        |    CAST(count(*) AS BIGINT) AS a, CAST(min(doc_id) AS BIGINT) AS b,
        |    CAST(max(doc_id) AS BIGINT) AS c
        |  FROM gate GROUP BY rule_len
        |  UNION ALL
        |  SELECT 'kmv', 'ab', est_inter, est_union, jaccard_e6 FROM est
        |  UNION ALL
        |  SELECT 'kmv', 'sz', est_a, est_b, GREATEST(0, est_union - est_a) FROM est)
        |ORDER BY probe, k""".stripMargin) { (s, d) =>
      val host = concat(lit("h"), (col("doc_id") % 7).cast("string"),
        lit(".example.com"))
      val path = concat(lit("/"),
        when(col("doc_id") % 3 === 0, "public")
          .when(col("doc_id") % 3 === 1, "private").otherwise("misc"),
        lit("/"), col("doc_id").cast("string"))
      documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(lit("HTTP://WWW."), upper(host), lit(":80"), path,
              lit("?utm_source=feed#top")))
            .otherwise(concat(lit("http://"), host, path)).as("url"))
        .createOrReplaceTempView("graft_q223_docs")
      import s.implicits._
      Seq(("h1.example.com", "/", false), ("h1.example.com", "/public", true),
          ("h2.example.com", "/private", false),
          ("h2.example.com", "/private/1", true),
          ("h4.example.com", "/", false))
        .toDF("host", "prefix", "allow")
        .createOrReplaceTempView("graft_q223_pol")
      val docs = documents(s, d).filter(col("text").isNotNull)
      docs.filter(col("doc_id") % 4 < 3).withColumn("corpus", lit("A"))
        .unionByName(docs.filter(col("doc_id") % 4 > 0)
          .withColumn("corpus", lit("B")))
        .select(col("corpus"), col("text"))
        .createOrReplaceTempView("graft_q223_corp")
    } { (s, d) =>
      graft.cli.QueryCommand.run(s,
        """SELECT * FROM (
          |  SELECT 'policy' AS probe, CAST(rule_len AS STRING) AS k,
          |    CAST(count(*) AS BIGINT) AS a, min(doc_id) AS b, max(doc_id) AS c
          |  FROM (SELECT doc_id, coalesce(__rule_score div 2, 0) AS rule_len
          |        FROM graft_policy_gate('graft_q223_docs', 'url', 'graft_q223_pol'))
          |  GROUP BY rule_len
          |  UNION ALL
          |  SELECT 'kmv' AS probe, t.k AS k, t.a AS a, t.b AS b, t.c AS c
          |  FROM graft_kmv_overlap('graft_q223_corp', 'corpus', 'text', 'A', 'B', 128)
          |  LATERAL VIEW explode(array(
          |    named_struct('k', 'ab', 'a', est_inter, 'b', est_union, 'c', jaccard_e6),
          |    named_struct('k', 'sz', 'a', est_a, 'b', est_b, 'c', est_b_new))) x AS t)
          |ORDER BY probe, k""".stripMargin, dataDir = Some(d))
    },

    // WAVED DP RELEASE (r13 verdict item 7): the
    // corpus arrives as three waves (doc_id mod 3); each wave releases
    // its own dpDataCard at a FRESH per-wave seed (100 + w) and spends
    // 6 units of ε = ln 2 against a budget of 12 — so waves 0 and 1
    // release and wave 2 hits the HARD STOP (no rows). The oracle
    // replays the LEDGER ARITHMETIC itself (the `led` CTE derives the
    // released set from (w+1)·6 ≤ 12 — not a hardcoded wave list) and
    // then each released wave's exact seeded noise, q205's chain per
    // wave. Seeds are public here, so this is a mechanism replay, not
    // a release (the dpDataCard conditionality note).
    sql("q209_dp_release_ledger", {
      def arm(w: Int): String = {
        val seed = 100 + w
        def z(colName: String): String =
          s"""COALESCE(list_min([zz FOR zz IN range(-40, 41)
             |    IF 3 * list_sum([(strpos('0123456789abcdef', substr(md5('$seed:' || scope || ':$colName'), i, 1)) - 1) * (CAST(1 AS BIGINT) << (4*(12-i))) FOR i IN range(1,13)])
             |       < (CASE WHEN zz < 0 THEN (CAST(1 AS BIGINT) << (49+zz)) ELSE 3*(CAST(1 AS BIGINT) << 48) - (CAST(1 AS BIGINT) << (48-zz)) END)]), 40)""".stripMargin
        s"""SELECT CAST($w AS BIGINT) AS wave, scope, n_docs_dp, n_distinct_dp, short_docs_dp,
           |  CASE WHEN n_docs_dp > 0
           |    THEN GREATEST(0, n_docs_dp - n_distinct_dp) * 1000000 // n_docs_dp
           |    ELSE 0 END AS dup_e6_dp
           |FROM (SELECT scope,
           |    GREATEST(0, n_docs + ${z("n_docs")}) AS n_docs_dp,
           |    GREATEST(0, n_distinct + ${z("n_distinct")}) AS n_distinct_dp,
           |    GREATEST(0, short_docs + ${z("short_docs")}) AS short_docs_dp
           |  FROM (SELECT CASE WHEN GROUPING(lang) = 1 THEN '__all__'
           |        ELSE COALESCE(lang, '__null__') END AS scope,
           |      CAST(count(*) AS BIGINT) AS n_docs,
           |      CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           |      CAST(sum(CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) < 32 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
           |    FROM documents WHERE doc_id % 3 = $w GROUP BY ROLLUP (lang)))
           |WHERE $w IN (SELECT w FROM led)""".stripMargin
      }
      s"""WITH led AS (SELECT w FROM range(3) t(w) WHERE (w + 1) * 6 <= 12)
         |SELECT * FROM (${(0 to 2).map(arm).mkString("\nUNION ALL\n")})
         |ORDER BY wave, scope""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d)
      val budget = 12L; val cost = 6L
      var spent = 0L
      val released = (0 until 3).flatMap { w =>
        val ok = spent + cost <= budget
        if (ok) {
          spent += cost
          Some(graft.operators.Profiling.dpDataCard(
              docs.filter(col("doc_id") % 3 === w), "text", "lang",
              shortTokens = 32, seed = 100L + w)
            .withColumn("wave", lit(w.toLong)))
        } else None
      }
      released.reduce(_.unionByName(_))
        .select("wave", "scope", "n_docs_dp", "n_distinct_dp",
          "short_docs_dp", "dup_e6_dp")
        .orderBy("wave", "scope")
    },

    // SQL DOOR PHASE 4 (r13 verdict item 5): the remaining Scala-only
    // audit relations as table functions, FOUR of them driven from ONE
    // SQL text — `graft_domain_card` (q207's per-host card incl. the
    // ROLLUP total), `graft_domain_filter` (the wholesale gate),
    // `graft_tcloseness` (q198's integer-EMD audit), and
    // `graft_kanon_audit` (q187's class audit) — aligned into a common
    // (probe, k, a, b, c) shape. A pure-SQL client can now run the
    // t-closeness audit that motivates the k-anonymization door
    // (q206), not just the enforcement. The oracle replays all four
    // relations' math independently. (`graft_frame_neardup` completes
    // the phase; it needs a media-shaped table and is pinned SQL ≡
    // Scala in QueryCliSpec.)
    sqlWithSetup("q210_sql_door_audits",
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN 'mirrored farm content row'
        |         WHEN doc_id % 7 = 5 THEN 'stub'
        |         ELSE text END AS text,
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
        |  FROM documents),
        |t AS (SELECT doc_id, host, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n,
        |        md5(text) AS dg FROM d),
        |card AS (SELECT CASE WHEN GROUPING(host) = 1 THEN '__all__' ELSE host END AS scope,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT dg) AS BIGINT) AS n_distinct,
        |    CAST(sum(CASE WHEN n < 32 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
        |  FROM t GROUP BY ROLLUP (host)),
        |v AS (SELECT host, count(*) AS docs, count(DISTINCT dg) AS dst,
        |        sum(CASE WHEN n < 32 THEN 1 ELSE 0 END) AS sh
        |      FROM t GROUP BY host),
        |keep AS (SELECT host FROM v
        |  WHERE (docs - dst) * 1000000 // docs <= 500000
        |    AND sh * 1000 // docs <= 500),
        |pv AS (SELECT c_nationkey AS nation,
        |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS sband
        |  FROM customer),
        |tot AS (SELECT count(*) AS N, count(DISTINCT sband) AS m FROM pv),
        |g AS (SELECT sband, count(*) AS gc FROM pv GROUP BY sband),
        |cl AS (SELECT nation, count(*) AS cn FROM pv GROUP BY 1),
        |cv AS (SELECT nation, sband, count(*) AS cc FROM pv GROUP BY 1, 2),
        |grid AS (SELECT cl.nation, cl.cn, g.sband, g.gc, COALESCE(cv.cc, 0) AS cc
        |         FROM cl CROSS JOIN g
        |         LEFT JOIN cv ON cv.nation = cl.nation AND cv.sband = g.sband),
        |cum AS (SELECT nation, cn,
        |          sum(cc::HUGEINT * (SELECT N FROM tot) - gc::HUGEINT * cn)
        |            OVER (PARTITION BY nation ORDER BY sband
        |                  ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM grid),
        |emd AS (SELECT nation, cn, sum(abs(cum)) AS emd_num
        |        FROM cum GROUP BY 1, 2),
        |kan AS (SELECT nation, count(*) AS sz, count(DISTINCT sband) AS ns
        |        FROM pv GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'card' AS probe, scope AS k, n_docs AS a, n_distinct AS b, short_docs AS c
        |  FROM card
        |  UNION ALL
        |  SELECT 'dfilter', t.host, CAST(count(*) AS BIGINT),
        |    CAST(min(t.doc_id) AS BIGINT), CAST(max(t.doc_id) AS BIGINT)
        |  FROM t JOIN keep USING (host) GROUP BY t.host
        |  UNION ALL
        |  SELECT 'tclose', CAST(nation AS VARCHAR), CAST(cn AS BIGINT),
        |    CAST(emd_num AS BIGINT),
        |    CAST(emd_num * 1000 <= 300 * ((SELECT m FROM tot) - 1) * cn * (SELECT N FROM tot) AS BIGINT)
        |  FROM emd
        |  UNION ALL
        |  SELECT 'kanon', CAST(nation AS VARCHAR), CAST(sz AS BIGINT),
        |    CAST(ns AS BIGINT),
        |    CAST(sz >= 30 AS BIGINT) * 2 + CAST(ns >= 3 AS BIGINT)
        |  FROM kan)
        |ORDER BY probe, k""".stripMargin) { (s, d) =>
      val host = concat(lit("h"), (col("doc_id") % 7).cast("string"),
        lit(".example.com"))
      documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 3, lit("mirrored farm content row"))
            .when(col("doc_id") % 7 === 5, lit("stub"))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit("HTTP://WWW."), upper(host),
              lit(":80/p?utm_source=feed#top")))
            .otherwise(concat(lit("http://"), host, lit("/p"))).as("url"))
        .createOrReplaceTempView("graft_q210_docs")
      customer(s, d).select(col("c_nationkey").as("nation"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
            .as("sband"))
        .createOrReplaceTempView("graft_q210_priv")
    } { (s, d) =>
      graft.cli.QueryCommand.run(s,
        """SELECT * FROM (
          |  SELECT 'card' AS probe, scope AS k, n_docs AS a, n_distinct AS b, short_docs AS c
          |  FROM graft_domain_card('graft_q210_docs', 'url', 'text', 32)
          |  UNION ALL
          |  SELECT 'dfilter' AS probe, __host AS k, CAST(count(*) AS BIGINT) AS a,
          |    min(doc_id) AS b, max(doc_id) AS c
          |  FROM graft_domain_filter('graft_q210_docs', 'url', 'text', 500000, 500, 32)
          |  GROUP BY __host
          |  UNION ALL
          |  SELECT 'tclose' AS probe, CAST(nation AS STRING) AS k, class_size AS a,
          |    CAST(emd_num AS BIGINT) AS b, CAST(t_close AS BIGINT) AS c
          |  FROM graft_tcloseness('graft_q210_priv', 'nation', 'sband', 300)
          |  UNION ALL
          |  SELECT 'kanon' AS probe, CAST(nation AS STRING) AS k, class_size AS a,
          |    n_sensitive AS b,
          |    CAST(k_anonymous AS BIGINT) * 2 + CAST(l_diverse AS BIGINT) AS c
          |  FROM graft_kanon_audit('graft_q210_priv', 'nation', 'sband', 30, 3))
          |ORDER BY probe, k""".stripMargin, dataDir = Some(d))
    }
  )
}
