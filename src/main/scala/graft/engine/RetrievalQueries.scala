package graft.engine

import org.apache.spark.sql.functions._
import graft.operators.Pq

/** Round-9 batch (q123+): the retrieval-compression tier — product-
  * quantization training, encoding, and ADC retrieval over the
  * embeddings table. The reference's declared analysis stage commits
  * to fingerprint/similarity machinery over ingested records
  * (/root/reference/docs/system-plan.md:23-27); PQ is that capability
  * at the 100 TB operating point, where int8 (q102, 4×) still leaves
  * the corpus disk-bound and PQ's packed-long codes (32×) fit in RAM.
  *
  * Scale shapes:
  *  - q123: training is one corpus scan per round into an
  *    m·ksub·subdim-cell hash aggregate (map-side combined; the
  *    codebook driver-sync is k-means' classic tiny collect);
  *    retrieval is a stateless scan of ONE LongType column against a
  *    driver-built LUT + TakeOrderedAndProject. No corpus shuffle
  *    anywhere in the pipeline.
  */
object RetrievalQueries {
  import QueryDef._
  import Tables._

  /** The q125 oracle: BPE training unrolled as `n` chained CTE
    * rounds. Words ride as sentinel-delimited strings — DOUBLE chr(1)
    * between symbols, single chr(1) at the ends — because SQL
    * `replace` on "␁l␁␁r␁" → "␁lr␁" IS the greedy leftmost
    * non-overlapping merge: adjacent occurrences own disjoint
    * delimiter halves, so a run like [a,b,a,b] merges to [ab,ab]
    * exactly as `BpeMergeExpr` does. (A SINGLE-delimiter encoding is
    * subtly wrong: consecutive matches share the middle ␁, replace
    * consumes it with the first match, and the second occurrence is
    * skipped — [ab,a,b]; the q161 conflict-free fixture exposed this,
    * real corpora had never put such a run on the argmax path.) Each
    * round re-splits to count adjacent pairs, takes the
    * (cnt DESC, l, r) argmax, and applies it; the final SELECT
    * stitches the per-round winners into the merge table.
    */
  private def bpeOracle(n: Int): String = {
    val head =
      """WITH tok AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token FROM documents),
        |w0 AS (SELECT CAST(count(*) AS BIGINT) AS freq,
        |  concat(chr(1), array_to_string([token[i] FOR i IN range(1, len(token)+1)], chr(1) || chr(1)), chr(1)) AS d
        |  FROM tok GROUP BY token)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""e$k AS (SELECT freq, unnest([{'l': sy[i], 'r': sy[i+1]} FOR i IN range(1, len(sy))]) AS u
         |  FROM (SELECT freq, list_filter(string_split(d, chr(1)), x -> x <> '') AS sy FROM w${k - 1})),
         |p$k AS (SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM e$k GROUP BY 1, 2),
         |b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS (SELECT w.freq, replace(w.d, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1), chr(1) || b.l || b.r || chr(1)) AS d
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val tail = (1 to n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, l AS lhs, r AS rhs, cnt AS pair_count FROM b$k")
      .mkString("", "\nUNION ALL\n", "\nORDER BY round")
    head + rounds + tail
  }

  /** The q161 oracle: [[bpeOracle]]'s strictly SEQUENTIAL rounds over
    * the conflict-free four-alphabet fixture (each doc becomes one of
    * "abab" "cdcd" "efef" "ghgh" by doc_id mod 4) — the yardstick the
    * batched trainer must reproduce exactly.
    */
  private def bpeFixtureOracle(n: Int): String = {
    val head =
      """WITH tok AS (SELECT ['abab', 'cdcd', 'efef', 'ghgh'][CAST(doc_id % 4 AS INT) + 1] AS token FROM documents),
        |w0 AS (SELECT CAST(count(*) AS BIGINT) AS freq,
        |  concat(chr(1), array_to_string([token[i] FOR i IN range(1, len(token)+1)], chr(1) || chr(1)), chr(1)) AS d
        |  FROM tok GROUP BY token)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""e$k AS (SELECT freq, unnest([{'l': sy[i], 'r': sy[i+1]} FOR i IN range(1, len(sy))]) AS u
         |  FROM (SELECT freq, list_filter(string_split(d, chr(1)), x -> x <> '') AS sy FROM w${k - 1})),
         |p$k AS (SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM e$k GROUP BY 1, 2),
         |b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS (SELECT w.freq, replace(w.d, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1), chr(1) || b.l || b.r || chr(1)) AS d
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val tail = (1 to n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, l AS lhs, r AS rhs, cnt AS pair_count FROM b$k")
      .mkString("", "\nUNION ALL\n", "\nORDER BY round")
    head + rounds + tail
  }

  /** The q190 oracle: WordPiece training unrolled exactly as
    * [[bpeOracle]] — same double-sentinel word encoding, same
    * replace-is-the-merge trick — except each round's argmax is the
    * likelihood-gain score ⌊cnt · 10¹² / (cl · cr)⌋ computed over the
    * round's own symbol counts (s$k), with ties on
    * (score DESC, cnt DESC, l, r). HUGEINT floor division `//`
    * mirrors Spark's decimal `div` exactly on positives.
    */
  private def wordPieceOracle(n: Int): String = wordPieceOracleFrom(n,
    """SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token FROM documents""")

  /** The q193 oracle: [[wordPieceOracle]]'s strictly SEQUENTIAL rounds
    * over the q161 conflict-free four-alphabet fixture — the yardstick
    * the batched WordPiece trainer must reproduce exactly (scores AND
    * winners; symbol-disjointness fixes both the pair counts and the
    * lcnt/rcnt denominators at their sequential values).
    */
  private def wordPieceFixtureOracle(n: Int): String = wordPieceOracleFrom(n,
    """SELECT ['abab', 'cdcd', 'efef', 'ghgh'][CAST(doc_id % 4 AS INT) + 1] AS token FROM documents""")

  private def wordPieceOracleFrom(n: Int, tokCte: String): String = {
    // MATERIALIZED per-round CTEs: each round references the previous
    // one ~3× (e$k feeds p$k AND s$k, w$k re-reads w$k-1), so DuckDB's
    // default CTE inlining re-evaluates round k-1 three times per
    // round — 3ⁿ parquet scans, which exhausts file handles at n = 8
    // (q193's batched-equivalence depth). Materializing pins each
    // round to one evaluation; results are unchanged.
    val head =
      s"""WITH tok AS ($tokCte),
        |w0 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS freq,
        |  concat(chr(1), array_to_string([token[i] FOR i IN range(1, len(token)+1)], chr(1) || chr(1)), chr(1)) AS d
        |  FROM tok GROUP BY token)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""e$k AS MATERIALIZED (SELECT freq, sy FROM (SELECT freq, list_filter(string_split(d, chr(1)), x -> x <> '') AS sy FROM w${k - 1})),
         |p$k AS (SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest([{'l': sy[i], 'r': sy[i+1]} FOR i IN range(1, len(sy))]) AS u FROM e$k) GROUP BY 1, 2),
         |s$k AS (SELECT sym, CAST(sum(freq) AS BIGINT) AS scnt
         |  FROM (SELECT freq, unnest(sy) AS sym FROM e$k) GROUP BY 1),
         |b$k AS MATERIALIZED (SELECT p.l AS l, p.r AS r, p.cnt AS cnt,
         |    CAST((p.cnt::HUGEINT * 1000000000000) // (sl.scnt::HUGEINT * sr.scnt) AS BIGINT) AS score_e12
         |  FROM p$k p JOIN s$k sl ON p.l = sl.sym JOIN s$k sr ON p.r = sr.sym
         |  ORDER BY score_e12 DESC, cnt DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (SELECT w.freq, replace(w.d, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1), chr(1) || b.l || b.r || chr(1)) AS d
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val tail = (1 to n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, l AS lhs, r AS rhs, cnt AS pair_count, score_e12 FROM b$k")
      .mkString("", "\nUNION ALL\n", "\nORDER BY round")
    head + rounds + tail
  }

  /** The q194 oracle: the [[wordPieceOracle]] rounds with the WORD
    * threaded through (the q129 shape — encoding depends only on the
    * word), ending in the per-doc (n_tokens, n_chars, n_subwords)
    * rollup. WordPiece and BPE share the greedy merge kernel, so only
    * the per-round argmax differs from [[bpeEncodeOracle]].
    */
  private def wpEncodeOracle(n: Int): String = {
    val head =
      """WITH tok AS MATERIALIZED (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token FROM documents),
        |w0 AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS freq,
        |  concat(chr(1), array_to_string([token[i] FOR i IN range(1, len(token)+1)], chr(1) || chr(1)), chr(1)) AS d
        |  FROM tok GROUP BY token)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""e$k AS MATERIALIZED (SELECT token, freq, sy FROM (SELECT token, freq, list_filter(string_split(d, chr(1)), x -> x <> '') AS sy FROM w${k - 1})),
         |p$k AS (SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest([{'l': sy[i], 'r': sy[i+1]} FOR i IN range(1, len(sy))]) AS u FROM e$k) GROUP BY 1, 2),
         |s$k AS (SELECT sym, CAST(sum(freq) AS BIGINT) AS scnt
         |  FROM (SELECT freq, unnest(sy) AS sym FROM e$k) GROUP BY 1),
         |b$k AS MATERIALIZED (SELECT p.l AS l, p.r AS r, p.cnt AS cnt,
         |    CAST((p.cnt::HUGEINT * 1000000000000) // (sl.scnt::HUGEINT * sr.scnt) AS BIGINT) AS score_e12
         |  FROM p$k p JOIN s$k sl ON p.l = sl.sym JOIN s$k sr ON p.r = sr.sym
         |  ORDER BY score_e12 DESC, cnt DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (SELECT w.token, w.freq, replace(w.d, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1), chr(1) || b.l || b.r || chr(1)) AS d
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n", ",\n", ",\n")
    val tail =
      s"""sub AS (SELECT token, CAST(len(list_filter(string_split(d, chr(1)), x -> x <> '')) AS BIGINT) AS n_sub FROM w$n),
         |agg AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |          CAST(sum(length(t.token)) AS BIGINT) AS n_chars,
         |          CAST(sum(s.n_sub) AS BIGINT) AS n_subwords
         |        FROM tok t JOIN sub s USING (token) GROUP BY t.doc_id)
         |SELECT d.doc_id AS doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
         |       COALESCE(a.n_chars, 0) AS n_chars,
         |       COALESCE(a.n_subwords, 0) AS n_subwords
         |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
    head + rounds + tail
  }

  /** The q129 oracle: the [[bpeOracle]] rounds with the WORD threaded
    * through (encoding depends only on the word, so the per-doc
    * rollup is a join from the exploded tokens back to the final
    * round's per-word symbol count — the same vocab-basis shape the
    * Spark operator uses).
    */
  private def bpeEncodeOracle(n: Int): String =
    bpeEncodeCore(n).stripSuffix(",\n") + "\n" +
      """SELECT d.doc_id AS doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
        |       COALESCE(a.n_chars, 0) AS n_chars,
        |       COALESCE(a.n_subwords, 0) AS n_subwords
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Shared q129/q136 CTE prefix: merge rounds + per-doc subword
    * rollup, ending mid-WITH after `agg`. */
  private def bpeEncodeCore(n: Int): String = {
    val head =
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token FROM documents),
        |w0 AS (SELECT token, CAST(count(*) AS BIGINT) AS freq,
        |  concat(chr(1), array_to_string([token[i] FOR i IN range(1, len(token)+1)], chr(1) || chr(1)), chr(1)) AS d
        |  FROM tok GROUP BY token)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""e$k AS (SELECT freq, unnest([{'l': sy[i], 'r': sy[i+1]} FOR i IN range(1, len(sy))]) AS u
         |  FROM (SELECT freq, list_filter(string_split(d, chr(1)), x -> x <> '') AS sy FROM w${k - 1})),
         |p$k AS (SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM e$k GROUP BY 1, 2),
         |b$k AS (SELECT l, r FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS (SELECT w.token, w.freq, replace(w.d, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1), chr(1) || b.l || b.r || chr(1)) AS d
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n", ",\n", ",\n")
    val tail =
      s"""sub AS (SELECT token, CAST(len(list_filter(string_split(d, chr(1)), x -> x <> '')) AS BIGINT) AS n_sub FROM w$n),
         |agg AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |          CAST(sum(length(t.token)) AS BIGINT) AS n_chars,
         |          CAST(sum(s.n_sub) AS BIGINT) AS n_subwords
         |        FROM tok t JOIN sub s USING (token) GROUP BY t.doc_id),
         |""".stripMargin
    head + rounds + tail
  }

  /** The q131 oracle: `n` unrolled TextRank iterations — symmetrized
    * adjacent-pair edges, truncating-integer rank updates at exactly
    * the two division points the Spark operator uses.
    */
  private def textRankOracle(n: Int): String = {
    val head =
      """WITH t AS (SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |a AS (SELECT unnest([{'u': toks[i], 'v': toks[i+1]} FOR i IN range(1, len(toks))]) AS p FROM t),
        |e0 AS (SELECT p.u AS u, p.v AS v, CAST(count(*) AS BIGINT) AS w FROM a WHERE p.u <> p.v GROUP BY 1, 2),
        |e AS (SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM
        |        (SELECT u, v, w FROM e0 UNION ALL SELECT v AS u, u AS v, w FROM e0) GROUP BY u, v),
        |d AS (SELECT u, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY u),
        |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM d)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""r$k AS (SELECT e.v AS node,
         |  150000 + (85 * CAST(sum((r.r * e.w) // d.wdeg) AS BIGINT)) // 100 AS r
         |  FROM e JOIN d ON e.u = d.u JOIN r${k - 1} r ON e.u = r.node GROUP BY e.v)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val tail =
      s"""SELECT token, rank_e6 FROM (
         |  SELECT node AS token, CAST(r AS BIGINT) AS rank_e6
         |  FROM r$n ORDER BY r DESC, node LIMIT 16) ORDER BY token""".stripMargin
    head + rounds + tail
  }

  /** Shared IVF-PQ training/encoding replay (q128/q132): coarse
    * k-means (seed + 1 Lloyd round) and residual PQ are trained on
    * the `trainPred` subset of vectors; assignment, residuals, and
    * the final code distances (`pd2`) are evaluated over ALL non-query
    * vectors — with `trainPred = "TRUE"` the two coincide (the q128
    * case), with a real predicate the complement is a DELTA encoded
    * under frozen codebooks (the q132 case). Ends mid-WITH; callers
    * append their tail CTEs + final SELECT.
    */
  private def ivfPqOracleCore(trainPred: String,
      vExpr: String = "CAST(embedding[i] AS DOUBLE) * 1000000.0"): String =
    // every core CTE is MATERIALIZED: DuckDB inlines CTEs by default,
    // and the probe tails reference e/ccb/cass/r/pcb/enc several times
    // each — inlining re-expands the whole training replay per
    // reference (the q193 WP-oracle fd-exhaustion lesson), which at
    // the 100× corpus turns a minutes-long replay into a never-ending
    // one. Materialization is semantics-neutral.
    raw"""WITH p AS (
       |  SELECT vec_id,
       |         unnest([{'j': i-1,
       |                  'v': CAST(floor($vExpr) AS BIGINT)}
       |                 FOR i IN range(1, len(embedding)+1)]) AS u
       |  FROM embeddings WHERE vec_id <> 0),
       |e AS (SELECT vec_id, u.j AS j, u.v AS v FROM p),
       |etr AS (SELECT * FROM e WHERE $trainPred),
       |cs AS (SELECT vec_id % 4 AS c, j, sum(v) // count(*) AS cent
       |       FROM etr GROUP BY vec_id % 4, j),
       |cd1 AS (SELECT e.vec_id, s.c, sum((e.v - s.cent) * (e.v - s.cent)) AS dist
       |        FROM etr e JOIN cs s ON e.j = s.j GROUP BY e.vec_id, s.c),
       |ca1 AS (SELECT vec_id, c FROM (
       |          SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |          FROM cd1) x WHERE rn = 1),
       |cr1 AS (SELECT a.c, e.j, sum(e.v) // count(*) AS cent
       |        FROM etr e JOIN ca1 a ON e.vec_id = a.vec_id GROUP BY a.c, e.j),
       |ccb AS (SELECT s.c, s.j, COALESCE(r1.cent, s.cent) AS cent
       |        FROM cs s LEFT JOIN cr1 r1 ON s.c = r1.c AND s.j = r1.j),
       |cd2 AS (SELECT e.vec_id, k.c, sum((e.v - k.cent) * (e.v - k.cent)) AS dist
       |        FROM e JOIN ccb k ON e.j = k.j GROUP BY e.vec_id, k.c),
       |cass AS (SELECT vec_id, c AS cell FROM (
       |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |           FROM cd2) x WHERE rn = 1),
       |r AS (SELECT e.vec_id, a.cell, e.j, e.v - k.cent AS v
       |      FROM e JOIN cass a ON e.vec_id = a.vec_id
       |      JOIN ccb k ON k.c = a.cell AND k.j = e.j),
       |rtr AS (SELECT * FROM r WHERE $trainPred),
       |ps AS (SELECT j // 8 AS b, vec_id % 16 AS c, j % 8 AS bp, sum(v) // count(*) AS cent
       |       FROM rtr GROUP BY j // 8, vec_id % 16, j % 8),
       |pd1 AS (SELECT r.vec_id, r.j // 8 AS b, s.c, sum((r.v - s.cent) * (r.v - s.cent)) AS dist
       |        FROM rtr r JOIN ps s ON r.j // 8 = s.b AND r.j % 8 = s.bp
       |        GROUP BY r.vec_id, r.j // 8, s.c),
       |pa1 AS (SELECT vec_id, b, c FROM (
       |          SELECT vec_id, b, c, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, c) AS rn
       |          FROM pd1) x WHERE rn = 1),
       |pr1 AS (SELECT r.j // 8 AS b, a.c, r.j % 8 AS bp, sum(r.v) // count(*) AS cent
       |        FROM rtr r JOIN pa1 a ON r.vec_id = a.vec_id AND r.j // 8 = a.b
       |        GROUP BY r.j // 8, a.c, r.j % 8),
       |pcb AS (SELECT s.b, s.c, s.bp, COALESCE(p1.cent, s.cent) AS cent
       |        FROM ps s LEFT JOIN pr1 p1 ON s.b = p1.b AND s.c = p1.c AND s.bp = p1.bp),
       |pd2 AS (SELECT r.vec_id, r.j // 8 AS b, k.c, sum((r.v - k.cent) * (r.v - k.cent)) AS dist
       |        FROM r JOIN pcb k ON r.j // 8 = k.b AND r.j % 8 = k.bp
       |        GROUP BY r.vec_id, r.j // 8, k.c),
       |enc AS (SELECT vec_id, b, c FROM (
       |          SELECT vec_id, b, c, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, c) AS rn
       |          FROM pd2) x WHERE rn = 1),
       |""".stripMargin.replace(" AS (", " AS MATERIALIZED (")

  val all: Seq[QueryDef] = Seq(

    // IVF-PQ quantization-drift monitor: every vec_id % 10 = 9 vector
    // is a DELTA encoded under codebooks trained only on the rest;
    // per coarse cell, member counts and truncating-mean ADC
    // reconstruction error (Σ_b min_c dist — the pq_encode_err
    // kernel) for catalog vs delta. The retrain signal for a
    // maintained index, one scan + an ncells-row aggregate.
    sql("q132_ivfpq_drift",
      ivfPqOracleCore("vec_id % 10 <> 9") +
      """md AS (SELECT vec_id, b, min(dist) AS d FROM pd2 GROUP BY vec_id, b),
        |verr AS (SELECT vec_id, CAST(sum(d) AS BIGINT) AS err FROM md GROUP BY vec_id)
        |SELECT CAST(a.cell AS BIGINT) AS cell,
        |  CAST(count(*) FILTER (WHERE vec_id % 10 <> 9) AS BIGINT) AS n_cat,
        |  CAST(count(*) FILTER (WHERE vec_id % 10 = 9) AS BIGINT) AS n_delta,
        |  CASE WHEN count(*) FILTER (WHERE vec_id % 10 <> 9) > 0
        |    THEN CAST(sum(err) FILTER (WHERE vec_id % 10 <> 9)
        |              // count(*) FILTER (WHERE vec_id % 10 <> 9) AS BIGINT) END AS avg_err_cat,
        |  CASE WHEN count(*) FILTER (WHERE vec_id % 10 = 9) > 0
        |    THEN CAST(sum(err) FILTER (WHERE vec_id % 10 = 9)
        |              // count(*) FILTER (WHERE vec_id % 10 = 9) AS BIGINT) END AS avg_err_delta
        |FROM cass a JOIN verr USING (vec_id)
        |GROUP BY a.cell ORDER BY cell""".stripMargin) {
      (s, d) =>
        val emb = embeddings(s, d).filter(col("vec_id") =!= 0)
        val cat = emb.filter(col("vec_id") % 10 =!= 9)
        val del = emb.filter(col("vec_id") % 10 === 9)
        val idx = Pq.trainIvfPq(cat, ncells = 4, m = 8, ksub = 16)
        Pq.ivfPqDriftStats(cat, del, idx).orderBy("cell")
    },

    // Drift-TRIGGERED residual retrain — the loop q132 only monitors
    // (r10 verdict item 2). The delta is PLANTED drifted (+10.0 on
    // every element, far outside the embedding range), so it lands in
    // few coarse cells and blows their reconstruction error; cells
    // crossing avg_err_delta*100 > avg_err_cat*120 retrain the
    // residual codebook on their CURRENT membership with the coarse
    // quantizer frozen (cell assignment and partition layout survive),
    // and the audit reports per-cell pre/post encode error. The oracle
    // replays v1 training, the drift trigger, v2 training (seed + 1
    // Lloyd round over the drifted cells' residuals), and both error
    // averages — the full closed loop, integer-exact.
    sql("q180_ivfpq_retrain",
      (ivfPqOracleCore("vec_id % 10 <> 9",
        vExpr = "CASE WHEN vec_id % 10 = 9 " +
          "THEN (CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0 " +
          "ELSE CAST(embedding[i] AS DOUBLE) * 1000000.0 END") +
      """md AS (SELECT vec_id, b, min(dist) AS d FROM pd2 GROUP BY vec_id, b),
        |verr AS (SELECT vec_id, CAST(sum(d) AS BIGINT) AS err FROM md GROUP BY vec_id),
        |stats AS (SELECT a.cell,
        |    CAST(count(*) FILTER (WHERE vec_id % 10 <> 9) AS BIGINT) AS n_cat,
        |    CAST(count(*) FILTER (WHERE vec_id % 10 = 9) AS BIGINT) AS n_delta,
        |    CASE WHEN count(*) FILTER (WHERE vec_id % 10 <> 9) > 0
        |      THEN sum(err) FILTER (WHERE vec_id % 10 <> 9)
        |           // count(*) FILTER (WHERE vec_id % 10 <> 9) END AS aec,
        |    CASE WHEN count(*) FILTER (WHERE vec_id % 10 = 9) > 0
        |      THEN sum(err) FILTER (WHERE vec_id % 10 = 9)
        |           // count(*) FILTER (WHERE vec_id % 10 = 9) END AS aed,
        |    CAST(count(*) AS BIGINT) AS n_all, sum(err) AS s1
        |  FROM cass a JOIN verr USING (vec_id) GROUP BY a.cell),
        |dr AS (SELECT cell FROM stats WHERE n_delta > 0 AND aed * 100 > aec * 120),
        |rtr2 AS (SELECT r.* FROM r WHERE r.cell IN (SELECT cell FROM dr)),
        |ps2 AS (SELECT j // 8 AS b, vec_id % 16 AS c, j % 8 AS bp, sum(v) // count(*) AS cent
        |        FROM rtr2 GROUP BY j // 8, vec_id % 16, j % 8),
        |qd1 AS (SELECT r.vec_id, r.j // 8 AS b, s.c, sum((r.v - s.cent) * (r.v - s.cent)) AS dist
        |        FROM rtr2 r JOIN ps2 s ON r.j // 8 = s.b AND r.j % 8 = s.bp
        |        GROUP BY r.vec_id, r.j // 8, s.c),
        |qa1 AS (SELECT vec_id, b, c FROM (
        |          SELECT vec_id, b, c, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, c) AS rn
        |          FROM qd1) x WHERE rn = 1),
        |qr1 AS (SELECT r.j // 8 AS b, a.c, r.j % 8 AS bp, sum(r.v) // count(*) AS cent
        |        FROM rtr2 r JOIN qa1 a ON r.vec_id = a.vec_id AND r.j // 8 = a.b
        |        GROUP BY r.j // 8, a.c, r.j % 8),
        |qcb AS (SELECT s.b, s.c, s.bp, COALESCE(q1.cent, s.cent) AS cent
        |        FROM ps2 s LEFT JOIN qr1 q1 ON s.b = q1.b AND s.c = q1.c AND s.bp = q1.bp),
        |qd2 AS (SELECT r.vec_id, r.j // 8 AS b, k.c, sum((r.v - k.cent) * (r.v - k.cent)) AS dist
        |        FROM rtr2 r JOIN qcb k ON r.j // 8 = k.b AND r.j % 8 = k.bp
        |        GROUP BY r.vec_id, r.j // 8, k.c),
        |md2 AS (SELECT vec_id, b, min(dist) AS d FROM qd2 GROUP BY vec_id, b),
        |verr2 AS (SELECT vec_id, CAST(sum(d) AS BIGINT) AS err2 FROM md2 GROUP BY vec_id),
        |post AS (SELECT a.cell, sum(err2) AS s2
        |         FROM cass a JOIN verr2 USING (vec_id) GROUP BY a.cell)
        |SELECT CAST(s.cell AS BIGINT) AS cell, s.n_cat, s.n_delta,
        |  (p2.cell IS NOT NULL) AS drifted,
        |  CAST(s.s1 // s.n_all AS BIGINT) AS avg_err_pre,
        |  CAST(COALESCE(p2.s2, s.s1) // s.n_all AS BIGINT) AS avg_err_post,
        |  (COALESCE(p2.s2, s.s1) // s.n_all <= s.s1 // s.n_all) AS improved
        |FROM stats s LEFT JOIN post p2 ON s.cell = p2.cell ORDER BY cell""".stripMargin)
        .replace(" AS (", " AS MATERIALIZED (")) {
      (s, d) =>
        val emb = embeddings(s, d).filter(col("vec_id") =!= 0)
        val cat = emb.filter(col("vec_id") % 10 =!= 9)
        val del = emb.filter(col("vec_id") % 10 === 9)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double") + lit(10.0))
              .as("embedding"))
        val idx = Pq.trainIvfPq(cat, ncells = 4, m = 8, ksub = 16)
        Pq.retrainAudit(cat, del, idx, ratioPct = 120L).orderBy("cell")
    },

    // End-to-end tokenizer→packing flow: the q125 merges feed q129's
    // per-doc subword budgets, which feed the q79 two-level prefix
    // scan into 512-subword context windows — train tokenizer, count
    // under it, pack under it, one lineage. The oracle chains the
    // merge-round replay into the naive global-window packing that
    // the distributed scan must match bit-for-bit.
    sql("q136_bpe_pack",
      bpeEncodeCore(8) +
      """doc AS (SELECT d.doc_id AS doc_id, COALESCE(a.n_subwords, 0) AS n_toks
        |        FROM documents d LEFT JOIN agg a USING (doc_id)),
        |c AS (SELECT doc_id, n_toks,
        |        CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |      FROM doc)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_subwords, start,
        |       CAST(start // 512 AS BIGINT) AS pack_id,
        |       CAST(start % 512 AS BIGINT) AS pack_off
        |FROM c ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val docs = documents(s, d)
        val merges = graft.operators.Bpe.trainMerges(docs, "text", nMerges = 8)
        val counts = graft.operators.Bpe.encodeStats(docs, "doc_id", "text", merges)
          .select(col("doc_id").as("id"), col("n_subwords").as("n_toks"))
        graft.operators.Packing.packCounts(counts, ctxLen = 512, bucketSize = 100)
          .select(col("id").as("doc_id"), col("n_toks").as("n_subwords"),
            col("start"), col("pack_id"), col("pack_off"))
          .orderBy("doc_id")
    },

    // Bigram-LM surprisal gate (conditional upgrade of q88): add-0.5
    // P(r|l), per-bigram micro-nat surprisal, per-doc totals; docs
    // with < 2 tokens report 0 bigrams / NULL average.
    sql("q135_bigram_surprisal",
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |bi AS (SELECT doc_id, unnest([{'l': toks[i], 'r': toks[i+1]} FOR i IN range(1, len(toks))]) AS p FROM t),
        |b AS (SELECT doc_id, p.l AS l, p.r AS r FROM bi),
        |bc AS (SELECT l, r, CAST(count(*) AS DOUBLE) AS cb FROM b GROUP BY l, r),
        |cc AS (SELECT l, CAST(sum(cb) AS DOUBLE) AS cl FROM bc GROUP BY l),
        |v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM (SELECT unnest(toks) AS token FROM t)),
        |w AS (SELECT bc.l, bc.r,
        |        CAST(floor(-ln((cb + 0.5) / (cl + 0.5 * v.v)) * 1000000.0) AS BIGINT) AS s_e6
        |      FROM bc JOIN cc USING (l) CROSS JOIN v),
        |agg AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |          CAST(sum(w.s_e6) AS BIGINT) AS nll_e6,
        |          CAST(sum(w.s_e6) // count(*) AS BIGINT) AS avg_nll_e6
        |        FROM b JOIN w USING (l, r) GROUP BY b.doc_id)
        |SELECT d.doc_id AS doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(a.nll_e6, 0) AS nll_e6, a.avg_nll_e6 AS avg_nll_e6
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        graft.operators.TextOps.bigramSurprisal(documents(s, d))
          .orderBy("doc_id")
    },

    // Video-level near-dup by frame-digest containment: exact copies
    // (+2000000) share every 16-byte frame window; half-prefix clips
    // (+1000000) share the aligned prefix frames and pass the 50%
    // containment gate against min(frames). Only digests shuffle;
    // hot frames df-capped. The oracle replays windowing (ASCII text
    // ⇒ byte windows == char windows), distinct, cap, and gate.
    sql("q134_frame_containment",
      """WITH m AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, substr(text, 1, CAST(length(text) // 2 AS INT)) FROM documents WHERE doc_id < 40
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 40),
        |fr AS (SELECT id, unnest(list_distinct(
        |         [md5(substr(text, f * 16 + 1, 16))
        |          FOR f IN range(0, CAST(greatest((length(text) + 15) // 16, 1) AS INT))])) AS fd
        |       FROM m),
        |nf AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM fr GROUP BY id),
        |keep AS (SELECT fd FROM fr GROUP BY fd HAVING count(*) <= 64),
        |fr2 AS (SELECT fr.id, fr.fd FROM fr JOIN keep USING (fd)),
        |p AS (SELECT x.id AS id1, y.id AS id2, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM fr2 x JOIN fr2 y ON x.fd = y.fd AND x.id < y.id GROUP BY 1, 2)
        |SELECT p.id1, p.id2, p.n_shared
        |FROM p JOIN nf a ON p.id1 = a.id JOIN nf b ON p.id2 = b.id
        |WHERE p.n_shared * 1000 >= 500 * least(a.n, b.n)
        |ORDER BY id1, id2""".stripMargin) {
      (s, d) =>
        val base = documents(s, d).select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") < 40)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("substr(text, 1, CAST(length(text) div 2 AS INT))").as("text"))
          .unionByName(base.filter(col("doc_id") < 40)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        val media = graft.operators.Multimodal.synthesize(
          base.unionByName(planted), "doc_id", "text")
        graft.operators.Multimodal.frameNearDupCandidates(media,
            frameBytes = 16, maxFrameDf = 64, thrPermille = 500)
          .orderBy("id1", "id2")
    },

    // Incremental distinct-count maintenance via mergeable HLL
    // sketches: the corpus arrives as 3 waves, each contributing one
    // (lang, n, sketch) row; the folded store's estimate must stay
    // within a 2% representation-noise band of the whole-corpus
    // sketch's (exact estimate equality is NOT a library contract —
    // see the measured promotion-boundary note below) and within the
    // lgK=12 ±5% bound of the exact count — the q61/q107 contract
    // pattern, applied to the maintenance story: unique-doc tracking
    // with no rescans.
    sql("q133_hll_incremental",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_exact,
        |       TRUE AS merge_consistent, TRUE AS est_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, d) =>
        val docs = documents(s, d)
          .select(col("lang"), md5(col("text")).as("k"), col("doc_id"))
        val waves = (0 until 3).map(i =>
          docs.filter(pmod(col("doc_id"), lit(3)) === i))
        val merged = graft.operators.Profiling.mergeSketches("lang",
          waves.map(w => graft.operators.Profiling.groupSketches(w, "lang", col("k"))))
        // MEASURED (sf0.1, group sizes ~700–2000, the coupon/dense
        // promotion boundary): Datasketches HLL union ESTIMATES are
        // not split-invariant — union(%3 waves), union(%2 waves), and
        // the raw whole sketch returned 702 / 703 / 707 for the same
        // 702 exact keys (each path promotes representations at
        // different points, and promotion discards coupon exactness).
        // Exact estimate equality is therefore NOT a contract the
        // library offers; the durable maintenance contract is (a) the
        // folded estimate obeys the sketch's ±5 % accuracy band
        // (est_ok) and (b) folding waves diverges from the whole-
        // corpus sketch by at most a 2 % representation-noise band —
        // an order of magnitude inside the accuracy band, so wave
        // folding costs no real accuracy.
        val whole = graft.operators.Profiling.groupSketches(docs, "lang", col("k"))
          .select(col("lang"), hll_sketch_estimate(col("hll")).as("__est_whole"))
        val exact = docs.groupBy("lang")
          .agg(count_distinct(col("k")).as("n_unique_exact"))
        merged
          .select(col("lang"), col("n_docs"),
            hll_sketch_estimate(col("hll")).as("__est"))
          .join(whole, "lang").join(exact, "lang")
          .select(col("lang"), col("n_docs"), col("n_unique_exact"),
            (abs(col("__est") - col("__est_whole")) * 100 <=
              col("n_unique_exact") * 2).as("merge_consistent"),
            (abs(col("__est") - col("n_unique_exact")) * 100 <=
              col("n_unique_exact") * 5).as("est_ok"))
          .orderBy("lang")
    },

    // TextRank keyword centrality: 3 integer-exact weighted-PageRank
    // iterations over the token-adjacency graph, top-16 keywords —
    // iterative graph compute done the Spark way (vocab-sized joins,
    // ReuseExchange across iterations, corpus never reshuffled),
    // replayed move-for-move by the unrolled oracle.
    sql("q131_textrank_keywords", textRankOracle(3)) { (s, d) =>
      graft.operators.TextOps.textRank(documents(s, d), "text", iters = 3)
        .orderBy(col("r").desc, col("node")).limit(16)
        .select(col("node").as("token"), col("r").as("rank_e6"))
        .orderBy("token")
    },

    // Z-order (Morton) clustering: interleave the low 16 bits of
    // (l_partkey, l_suppkey) and aggregate by coarse z-bucket —
    // pinning the interleave arithmetic the Layout operator clusters
    // and prunes by (LayoutSpec pins the file-skipping itself: a
    // 2-d box read touches only manifest-surviving files).
    sql("q130_zorder_buckets",
      """WITH z AS (
        |  SELECT CAST(list_sum([
        |           ((l_partkey >> i) & 1) * (CAST(1 AS BIGINT) << (2*i)) +
        |           ((l_suppkey >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1))
        |           FOR i IN range(16)]) AS BIGINT) AS zv,
        |         l_quantity
        |  FROM lineitem)
        |SELECT zv // 4096 AS zbucket, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) {
      (s, d) =>
        lineitem(s, d)
          .select(graft.operators.Layout.zValue(
              Seq(col("l_partkey"), col("l_suppkey")), bits = 16).as("zv"),
            col("l_quantity"))
          .groupBy(expr("zv div 4096").as("zbucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("qty"))
          .orderBy("zbucket")
    },

    // Tokenizer APPLY: per-doc token/char/subword counts under the 8
    // learned q125 merges — the corpus-budget answer a packing or
    // token-fill stage consumes. Vocab-basis encode + broadcast join
    // in Spark; the oracle threads the word through the merge rounds
    // and rolls up identically.
    sql("q129_bpe_encode_stats", bpeEncodeOracle(8)) { (s, d) =>
      val docs = documents(s, d)
      val merges = graft.operators.Bpe.trainMerges(docs, "text", nMerges = 8)
      graft.operators.Bpe.encodeStats(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },

    // BPE merge-table induction: the first 8 learned merges (round,
    // lhs, rhs, pair_count), trained distributed on the word-
    // frequency basis and replayed move-for-move by the unrolled
    // DuckDB oracle above — training determinism IS the contract.
    sql("q125_bpe_merges", bpeOracle(8)) { (s, d) =>
      import s.implicits._
      graft.operators.Bpe.trainMerges(documents(s, d), "text", nMerges = 8)
        .toDF()
        .select(col("round").cast("long").as("round"), col("lhs"), col("rhs"),
          col("pairCount").as("pair_count"))
        .orderBy("round")
    },

    // Batched BPE ≡ sequential on a conflict-free corpus: the fixture
    // maps each doc to one of four words with PAIRWISE-DISJOINT
    // alphabets ("abab" "cdcd" "efef" "ghgh"), so every round's top
    // candidates share no symbols, the batch acceptance rule never
    // reorders anything, and Spark's batchSize = 4 training (2 count
    // rounds for 8 merges) must hash-match the oracle's strictly
    // SEQUENTIAL 8-round replay — the equivalence contract that
    // licenses the ~B× driver-round cut at a 30k-merge vocab.
    sql("q161_bpe_batched", bpeFixtureOracle(8)) { (s, d) =>
      import s.implicits._
      val fix = documents(s, d).select(
        element_at(typedlit(Seq("abab", "cdcd", "efef", "ghgh")),
          (col("doc_id") % 4 + 1).cast("int")).as("text"))
      graft.operators.Bpe.trainMerges(fix, "text", nMerges = 8, batchSize = 4)
        .toDF()
        .select(col("round").cast("long").as("round"), col("lhs"), col("rhs"),
          col("pairCount").as("pair_count"))
        .orderBy("round")
    },

    // WordPiece merge induction: same rounds as q125 but the argmax
    // is the likelihood-gain score cnt/(cl·cr) — held exact as the
    // ⌊·10¹²⌋ integer quotient — over the round's own symbol counts.
    // The oracle replays every round's pair table, symbol table,
    // scored argmax, and merge application move-for-move; any
    // divergence in scoring, tie order, or the greedy merge kernel
    // shifts a winner and breaks the hash.
    sql("q190_wordpiece_merges", wordPieceOracle(6)) { (s, d) =>
      import s.implicits._
      graft.operators.Bpe.trainWordPiece(documents(s, d), "text", nMerges = 6)
        .toDF()
        .select(col("round").cast("long").as("round"), col("lhs"), col("rhs"),
          col("pairCount").as("pair_count"), col("scoreE12").as("score_e12"))
        .orderBy("round")
    },

    // Batched WordPiece ≡ sequential on the q161 conflict-free
    // fixture: symbol-disjoint acceptance pins BOTH the pair counts
    // and the lcnt/rcnt score denominators at their sequential values,
    // so batchSize = 4 training (2 scoring rounds for 8 merges) must
    // hash-match the oracle's strictly SEQUENTIAL 8-round replay —
    // scores included. The equivalence licenses the ~B× round cut a
    // 30k-merge WordPiece vocab needs.
    sql("q193_wordpiece_batched", wordPieceFixtureOracle(8)) { (s, d) =>
      import s.implicits._
      val fix = documents(s, d).select(
        element_at(typedlit(Seq("abab", "cdcd", "efef", "ghgh")),
          (col("doc_id") % 4 + 1).cast("int")).as("text"))
      graft.operators.Bpe.trainWordPiece(fix, "text", nMerges = 8, batchSize = 4)
        .toDF()
        .select(col("round").cast("long").as("round"), col("lhs"), col("rhs"),
          col("pairCount").as("pair_count"), col("scoreE12").as("score_e12"))
        .orderBy("round")
    },

    // WordPiece ENCODE parity (the q129 shape under a WordPiece merge
    // table): train 6 merges, then per-doc token/char/subword budgets
    // via the shared vocab-basis encode — WordPiece and BPE share the
    // greedy merge kernel, so `encodeStats` is reused verbatim through
    // `wpAsMerges`; the oracle replays the WP argmax rounds with the
    // word threaded through and rolls up identically.
    sql("q194_wordpiece_encode_stats", wpEncodeOracle(6)) { (s, d) =>
      val docs = documents(s, d)
      val merges = graft.operators.Bpe.wpAsMerges(
        graft.operators.Bpe.trainWordPiece(docs, "text", nMerges = 6))
      graft.operators.Bpe.encodeStats(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },

    // C4-style line-level corpus dedup: every 5th document gets an
    // 8-token boilerplate line prepended, which crosses the df ≥ 3
    // threshold corpus-wide and is stripped from ALL of them (plus
    // any organically repeated chunk); the oracle replays the
    // chunking, the df aggregate, and the filter-strip directly.
    sql("q127_line_dedup_strip",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'legal disclaimer terms conditions apply all rights reserved ' || text
        |      ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |ch AS (SELECT doc_id,
        |         CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |           ELSE [array_to_string(list_slice(toks, 1 + 8*i, 8*i + 8), ' ')
        |                 FOR i IN range(0, CAST(ceil(len(toks) / 8.0) AS INT))] END AS chunks
        |       FROM t),
        |e AS (SELECT doc_id, unnest(list_distinct([md5(c) FOR c IN chunks])) AS dg FROM ch),
        |f AS (SELECT dg FROM e GROUP BY dg HAVING count(*) >= 3),
        |fl AS (SELECT coalesce(list(dg), CAST([] AS VARCHAR[])) AS fls FROM f)
        |SELECT doc_id,
        |  COALESCE(array_to_string(list_filter(chunks, c -> NOT list_contains(fls, md5(c))), ' '), '') AS cleaned,
        |  CAST(len(chunks) - len(list_filter(chunks, c -> NOT list_contains(fls, md5(c)))) AS BIGINT) AS n_removed
        |FROM ch CROSS JOIN fl ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val corpus = documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("legal disclaimer terms conditions apply all rights reserved "),
              col("text")))
            .otherwise(col("text")).as("text"))
        graft.operators.TextOps.lineDedupStrip(corpus, "doc_id", "text",
            lineTokens = 8, dfThreshold = 3)
          .orderBy("doc_id")
    },

    // Multimodal perceptual near-dup: exact copies (+2000000, L1 = 0)
    // and lightly perturbed copies (+1000000, text ⧺ " x") planted
    // among synthesized payloads; the full pipeline — stub decode
    // histogram, occupancy-sign bucket, hot-bucket cap, cross-scaled
    // integer L1 gate — is replayed move-for-move by the oracle
    // (ascii(text[i:i]) % dim is the byte histogram, the q50
    // convention), so the pair list hash-matches exactly.
    sql("q126_perceptual_neardup",
      """WITH m AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' x' FROM documents WHERE doc_id < 40
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 40),
        |f AS (SELECT id, CAST(greatest(length(text), 1) AS BIGINT) AS n,
        |        [CAST(len(list_filter(range(1, length(text)+1), i -> ascii(text[i:i]) % 8 = b)) AS BIGINT)
        |         FOR b IN range(8)] AS c
        |      FROM m),
        |k AS (SELECT id, n, c,
        |        CAST(list_sum([CASE WHEN c[b+1] * 8 >= n THEN 1<<b ELSE 0 END FOR b IN range(8)]) AS BIGINT) AS key
        |      FROM f),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.c[i+1] * y.n - y.c[i+1] * x.n) FOR i IN range(8)]) AS BIGINT) AS l1,
        |        x.n AS n1, y.n AS n2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 100 * n1 * n2
        |ORDER BY id1, id2""".stripMargin) {
      (s, d) =>
        val base = documents(s, d).select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") < 40)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" x")).as("text"))
          .unionByName(base.filter(col("doc_id") < 40)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        val media = graft.operators.Multimodal.synthesize(
          base.unionByName(planted), "doc_id", "text")
        graft.operators.Multimodal.perceptualNearDupCandidates(
            media, dim = 8, maxBucketSize = 64, thrPermille = 100)
          .orderBy("id1", "id2")
    },

    // Header-aware multimodal decode tier (r10 verdict item 7):
    // synthesized payloads carry REAL container headers — PNG
    // signature+IHDR, JPEG with an id-length APP0 ahead of SOF0 (the
    // marker walk under test), WAV with a JUNK chunk ahead of fmt/data
    // (the chunk walk) — and the native media_header kernel parses
    // dims, channels, sample rate, and frame count into typed
    // metadata. Every header field is a pure function of the id, so
    // the oracle predicts the parse from the construction (the q163
    // planted convention).
    sql("q182_media_headers",
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 64
        |       WHEN 1 THEN 32 + doc_id % 80 END AS BIGINT) AS width,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 48
        |       WHEN 1 THEN 32 + doc_id % 100 END AS BIGINT) AS height,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN CASE (doc_id // 3) % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
        |    WHEN 1 THEN CASE (doc_id // 3) % 2 WHEN 0 THEN 3 ELSE 1 END
        |    ELSE 1 + (doc_id // 3) % 2 END AS BIGINT) AS channels,
        |  CAST(CASE doc_id % 3 WHEN 2 THEN 8000 + (doc_id % 4) * 4000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE doc_id % 3 WHEN 2 THEN 100 + doc_id % 50 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin) {
      (s, d) =>
        graft.operators.Multimodal.synthesizeStructured(documents(s, d), "doc_id")
          .select(col("media_id"),
            graft.plans.MediaHeaderExpr.media_header(col("payload")).as("h"))
          .select(col("media_id"), col("h.fmt").as("fmt"),
            col("h.width").as("width"), col("h.height").as("height"),
            col("h.channels").as("channels"),
            col("h.sample_rate").as("sample_rate"),
            col("h.n_frames").as("n_frames"))
          .orderBy("media_id")
    },

    // Header-BLOCKED perceptual near-dup, fully hash-oracled: the
    // synthesized structured payloads are pure id formulas, so DuckDB
    // rebuilds every byte list (headers AND bodies), re-derives the
    // block key (format, channels, aspect permille / sample rate) and
    // the occupancy-sign bucket, applies the cap, and replays the
    // cross-scaled integer L1 gate. Planted twins (exact payload
    // copies at id+1000000) must pair at L1 = 0 inside their block;
    // pairs across formats/geometries cannot exist by construction.
    sql("q186_header_blocked_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base FROM documents
        |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id < 30),
        |payload AS (
        |  SELECT id, base,
        |    CASE base % 3
        |      WHEN 0 THEN
        |        [137,80,78,71,13,10,26,10, 0,0,0,13, 73,72,68,82,
        |         0,0,0, 16 + base % 64, 0,0,0, 16 + base % 48,
        |         8, CASE (base // 3) % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END,
        |         0,0,0, 0,0,0,0]
        |        || [(base + i) % 251 FOR i IN range(64 * (1 + base % 7))]
        |      WHEN 1 THEN
        |        [255,216, 255,224, 0, 14 + base % 8 + 2]
        |        || [(base + i) % 97 FOR i IN range(14 + base % 8)]
        |        || [255,192, 0, 8 + 3 * (CASE (base // 3) % 2 WHEN 0 THEN 3 ELSE 1 END),
        |            8, 0, 32 + base % 100, 0, 32 + base % 80,
        |            CASE (base // 3) % 2 WHEN 0 THEN 3 ELSE 1 END]
        |        || [i FOR i IN range(3 * (CASE (base // 3) % 2 WHEN 0 THEN 3 ELSE 1 END))]
        |        || [255,217]
        |      ELSE
        |        [82,73,70,70]
        |        || [(4 + 16 + 24 + 8 + (100 + base % 50) * (1 + (base // 3) % 2) * 2) % 256,
        |            (4 + 16 + 24 + 8 + (100 + base % 50) * (1 + (base // 3) % 2) * 2) // 256 % 256,
        |            0, 0]
        |        || [87,65,86,69, 74,85,78,75, 8,0,0,0]
        |        || [(base + i) % 251 FOR i IN range(8)]
        |        || [102,109,116,32, 16,0,0,0, 1,0,
        |            1 + (base // 3) % 2, 0,
        |            (8000 + (base % 4) * 4000) % 256, (8000 + (base % 4) * 4000) // 256 % 256, 0, 0,
        |            ((8000 + (base % 4) * 4000) * (1 + (base // 3) % 2) * 2) % 256,
        |            ((8000 + (base % 4) * 4000) * (1 + (base // 3) % 2) * 2) // 256 % 256,
        |            ((8000 + (base % 4) * 4000) * (1 + (base // 3) % 2) * 2) // 65536 % 256, 0,
        |            (1 + (base // 3) % 2) * 2, 0, 16,0, 100,97,116,97,
        |            ((100 + base % 50) * (1 + (base // 3) % 2) * 2) % 256,
        |            ((100 + base % 50) * (1 + (base // 3) % 2) * 2) // 256 % 256, 0, 0]
        |        || [(base + i) % 251 FOR i IN range((100 + base % 50) * (1 + (base // 3) % 2) * 2)]
        |    END AS bl
        |  FROM ids),
        |f AS (SELECT id, base, CAST(len(bl) AS BIGINT) AS n,
        |        [CAST(len(list_filter(bl, x -> x % 8 = b)) AS BIGINT) FOR b IN range(8)] AS c
        |      FROM payload),
        |blk AS (SELECT id, n, c,
        |        CASE base % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END
        |          || ':' || CAST(CASE base % 3
        |            WHEN 0 THEN CASE (base // 3) % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
        |            WHEN 1 THEN CASE (base // 3) % 2 WHEN 0 THEN 3 ELSE 1 END
        |            ELSE 1 + (base // 3) % 2 END AS VARCHAR)
        |          || ':' || CAST(CASE base % 3
        |            WHEN 0 THEN (16 + base % 64) * 1000 // (16 + base % 48)
        |            WHEN 1 THEN (32 + base % 80) * 1000 // (32 + base % 100)
        |            ELSE 8000 + (base % 4) * 4000 END AS VARCHAR)
        |          || '|' || CAST(CAST(list_sum(
        |               [CASE WHEN c[b+1] * 8 >= n THEN 1<<b ELSE 0 END FOR b IN range(8)])
        |               AS BIGINT) AS VARCHAR) AS key
        |      FROM f),
        |g AS (SELECT key FROM blk GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT blk.* FROM blk JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.c[i+1] * y.n - y.c[i+1] * x.n) FOR i IN range(8)]) AS BIGINT) AS l1,
        |        x.n AS n1, y.n AS n2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 100 * n1 * n2
        |ORDER BY id1, id2""".stripMargin) {
      (s, d) =>
        val base = documents(s, d).select(col("doc_id"))
        val media = graft.operators.Multimodal.synthesizeStructured(base, "doc_id")
        val twins = graft.operators.Multimodal.synthesizeStructured(
            base.filter(col("doc_id") < 30), "doc_id")
          .withColumn("media_id", col("media_id") + 1000000L)
        graft.operators.Multimodal.headerBlockedPerceptualCandidates(
            media.unionByName(twins), dim = 8, maxBucketSize = 64,
            thrPermille = 100)
          .orderBy("id1", "id2")
    },

    // PQ ADC retrieval with a LEARNED codebook, trained, encoded and
    // queried inside the query — deterministic id-bucket seeds, one
    // integer-Lloyd round, integer-exact end to end, so DuckDB
    // replays the whole pipeline (training included) and the top-20
    // ids + scores hash-match exactly. m=8 blocks × ksub=16 codes
    // over the 64-dim embeddings; query = vec_id 0 at full precision
    // (the asymmetric side), corpus = the rest.
    sql("q123_pq_adc",
      """WITH p AS (
        |  SELECT vec_id,
        |         unnest([{'b': (i-1)//8, 'j': (i-1)%8,
        |                  'v': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)}
        |                 FOR i IN range(1, len(embedding)+1)]) AS u
        |  FROM embeddings WHERE vec_id <> 0),
        |e AS (SELECT vec_id, u.b AS b, u.j AS j, u.v AS v FROM p),
        |seed AS (SELECT b, vec_id % 16 AS c, j, sum(v) // count(*) AS cent
        |         FROM e GROUP BY b, vec_id % 16, j),
        |d1 AS (SELECT e.vec_id, e.b, s.c,
        |              sum((e.v - s.cent) * (e.v - s.cent)) AS dist
        |       FROM e JOIN seed s ON e.b = s.b AND e.j = s.j
        |       GROUP BY e.vec_id, e.b, s.c),
        |a1 AS (SELECT vec_id, b, c FROM (
        |         SELECT vec_id, b, c,
        |                row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, c) AS rn
        |         FROM d1) x WHERE rn = 1),
        |r1 AS (SELECT e.b, a.c, e.j, sum(e.v) // count(*) AS cent
        |       FROM e JOIN a1 a ON e.vec_id = a.vec_id AND e.b = a.b
        |       GROUP BY e.b, a.c, e.j),
        |cb AS (SELECT s.b, s.c, s.j, COALESCE(r1.cent, s.cent) AS cent
        |       FROM seed s LEFT JOIN r1
        |         ON s.b = r1.b AND s.c = r1.c AND s.j = r1.j),
        |d2 AS (SELECT e.vec_id, e.b, k.c,
        |              sum((e.v - k.cent) * (e.v - k.cent)) AS dist
        |       FROM e JOIN cb k ON e.b = k.b AND e.j = k.j
        |       GROUP BY e.vec_id, e.b, k.c),
        |enc AS (SELECT vec_id, b, c FROM (
        |          SELECT vec_id, b, c,
        |                 row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, c) AS rn
        |          FROM d2) x WHERE rn = 1),
        |q AS (SELECT unnest([{'b': (i-1)//8, 'j': (i-1)%8,
        |                     'v': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)}
        |                    FOR i IN range(1, len(embedding)+1)]) AS u
        |      FROM embeddings WHERE vec_id = 0),
        |qe AS (SELECT u.b AS b, u.j AS j, u.v AS qv FROM q),
        |lut AS (SELECT k.b, k.c, sum(qe.qv * k.cent) AS l
        |        FROM cb k JOIN qe ON k.b = qe.b AND k.j = qe.j
        |        GROUP BY k.b, k.c),
        |sc AS (SELECT enc.vec_id, CAST(sum(l.l) AS BIGINT) AS score_q
        |       FROM enc JOIN lut l ON enc.b = l.b AND enc.c = l.c
        |       GROUP BY enc.vec_id),
        |top AS (SELECT vec_id, score_q FROM sc ORDER BY score_q DESC, vec_id LIMIT 20)
        |SELECT vec_id, score_q FROM top ORDER BY vec_id""".stripMargin) {
      (s, d) =>
        val emb = embeddings(s, d)
        Pq.pqTopK(emb.filter(col("vec_id") =!= 0),
            emb.filter(col("vec_id") === 0), k = 20, m = 8, ksub = 16, iters = 1)
          .orderBy("vec_id")
    },

    // IVF-PQ retrieval (q123's inverted-file upgrade): a 4-cell coarse
    // quantizer over the full vector + an m=8 × ksub=16 PQ codebook on
    // the exact integer RESIDUALS, probing only the top-2 cells by
    // coarse inner product. Integer-exact end to end — the oracle
    // replays coarse training, assignment, residual PQ training,
    // encoding, cell selection, and the offset+ADC score bit-for-bit.
    // score(v) = ⟨q, cent_cell⟩ + Σ_b lut[b][code_b], so the probed
    // scan is the same one-packed-long shape as flat PQ but touches
    // nprobe/ncells of the corpus (partition-pruned in the persisted
    // layout — IvfPqSpec pins PartitionFilters).
    sql("q128_ivfpq_probe",
      ivfPqOracleCore("TRUE") +
      """q AS (SELECT unnest([{'j': i-1,
        |                     'v': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)}
        |                    FOR i IN range(1, len(embedding)+1)]) AS u
        |      FROM embeddings WHERE vec_id = 0),
        |qe AS (SELECT u.j AS j, u.v AS qv FROM q),
        |csc AS (SELECT k.c, sum(qe.qv * k.cent) AS s
        |        FROM ccb k JOIN qe ON k.j = qe.j GROUP BY k.c),
        |probe AS (SELECT c, s FROM (
        |            SELECT c, s, row_number() OVER (ORDER BY s DESC, c) AS rn
        |            FROM csc) x WHERE rn <= 2),
        |lut AS (SELECT k.b, k.c, sum(qe.qv * k.cent) AS l
        |        FROM pcb k JOIN qe ON qe.j = k.b * 8 + k.bp GROUP BY k.b, k.c),
        |sc AS (SELECT a.vec_id, a.cell, pr.s + sum(l.l) AS score
        |       FROM cass a JOIN probe pr ON a.cell = pr.c
        |       JOIN enc ON enc.vec_id = a.vec_id
        |       JOIN lut l ON enc.b = l.b AND enc.c = l.c
        |       GROUP BY a.vec_id, a.cell, pr.s),
        |top AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(score AS BIGINT) AS score_q
        |        FROM sc ORDER BY score DESC, vec_id LIMIT 20)
        |SELECT vec_id, cell, score_q FROM top ORDER BY vec_id""".stripMargin) {
      (s, d) =>
        val emb = embeddings(s, d)
        Pq.ivfPqTopK(emb.filter(col("vec_id") =!= 0),
            emb.filter(col("vec_id") === 0), k = 20, ncells = 4, nprobe = 2,
            m = 8, ksub = 16)
          .select(col("vec_id"), col("cell").cast("long").as("cell"),
            col("score_q"))
          .orderBy("vec_id")
    },

    // The SQL DOOR to the operator library (r11 verdict item 3): the
    // flagship persisted-artifact probes run from PURE SQL TEXT through
    // the query CLI's table-valued functions — an ANN top-k over a
    // SAVED IVF-PQ index opened by path alone (codebooks ship inside
    // the index dir) and a winnow-store near-dup probe over a saved
    // fingerprint store — and must hash-match the full replay. The
    // TVFs return the Scala surface's exact logical plans, so the
    // probe partition-prunes to its cells and the winnow probe keeps
    // its df cap (spec-pinned from SQL in QueryCliSpec).
    sqlWithSetup("q191_sql_door",
      ivfPqOracleCore("TRUE") +
      """q AS (SELECT unnest([{'j': i-1,
        |                     'v': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)}
        |                    FOR i IN range(1, len(embedding)+1)]) AS u
        |      FROM embeddings WHERE vec_id = 0),
        |qe AS (SELECT u.j AS j, u.v AS qv FROM q),
        |csc AS (SELECT k.c, sum(qe.qv * k.cent) AS s
        |        FROM ccb k JOIN qe ON k.j = qe.j GROUP BY k.c),
        |probe AS (SELECT c, s FROM (
        |            SELECT c, s, row_number() OVER (ORDER BY s DESC, c) AS rn
        |            FROM csc) x WHERE rn <= 2),
        |lut AS (SELECT k.b, k.c, sum(qe.qv * k.cent) AS l
        |        FROM pcb k JOIN qe ON qe.j = k.b * 8 + k.bp GROUP BY k.b, k.c),
        |sc AS (SELECT a.vec_id, a.cell, pr.s + sum(l.l) AS score
        |       FROM cass a JOIN probe pr ON a.cell = pr.c
        |       JOIN enc ON enc.vec_id = a.vec_id
        |       JOIN lut l ON enc.b = l.b AND enc.c = l.c
        |       GROUP BY a.vec_id, a.cell, pr.s),
        |top AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(score AS BIGINT) AS score_q
        |        FROM sc ORDER BY score DESC, vec_id LIMIT 20),
        |wcorpus AS (
        |  SELECT doc_id, text, 0 AS cl FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'prefix edit ' || text, 1 FROM documents WHERE doc_id % 3 = 1),
        |wt AS (SELECT doc_id, cl, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM wcorpus),
        |wg AS (SELECT doc_id, cl, unnest(range(0, len(toks) - 3)) AS pos, toks FROM wt WHERE len(toks) >= 4),
        |wgd AS (SELECT doc_id, cl, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 4), ' ')) AS dg FROM wg),
        |wng AS (SELECT doc_id, count(*) AS n FROM wgd GROUP BY doc_id),
        |wex AS (SELECT wgd.doc_id, wgd.cl, wgd.pos, wgd.dg,
        |          unnest(range(greatest(wgd.pos - 3, 0), least(wgd.pos, greatest(wng.n - 4, 0)) + 1)) AS wid
        |        FROM wgd JOIN wng USING (doc_id)),
        |wmn AS (SELECT doc_id, wid, min(dg) AS mdg FROM wex GROUP BY doc_id, wid),
        |wsel AS (SELECT e.doc_id, e.cl, e.wid, m.mdg AS dg, max(e.pos) AS pos
        |         FROM wex e JOIN wmn m ON e.doc_id = m.doc_id AND e.wid = m.wid AND e.dg = m.mdg
        |         GROUP BY e.doc_id, e.cl, e.wid, m.mdg),
        |-- class rides the construction, never a magnitude rule (the
        |-- q189 10x-sweep lesson: strided catalog ids exceed 1000000)
        |wfp AS (SELECT DISTINCT doc_id, dg, cl FROM wsel),
        |wkeep AS (SELECT dg FROM wfp GROUP BY dg HAVING count(*) <= 8),
        |wfpk AS (SELECT wfp.doc_id, wfp.dg, wfp.cl FROM wfp JOIN wkeep USING (dg)),
        |wp AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
        |       FROM wfpk a JOIN wfpk b ON a.dg = b.dg AND a.cl = 0 AND b.cl = 1
        |       GROUP BY a.doc_id, b.doc_id
        |       HAVING count(*) >= 3)
        |SELECT src, id1, id2, val FROM (
        |  SELECT 'ann' AS src, vec_id AS id1, cell AS id2, score_q AS val FROM top
        |  UNION ALL
        |  SELECT 'winnow' AS src, a AS id1, b AS id2, n_shared AS val FROM wp)
        |ORDER BY src, id1, id2""".stripMargin) { (s, d) =>
      import graft.operators.{Stores, TextOps}
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val idx = Pq.trainIvfPq(corpus, ncells = 4, m = 8, ksub = 16)
      Pq.writeIvfPqIndex(corpus, idx,
        s.conf.get("spark.sql.warehouse.dir") + "/graft_q191_index")
      emb.filter(col("vec_id") === 0).createOrReplaceTempView("graft_q191_query")
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      Stores.dropStoreTable(s, "graft_q191_winnow")
      TextOps.writeWinnowStore(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", "graft_q191_winnow", k = 4, w = 4, buckets = 8)
      docs.filter(col("doc_id") % 3 === 0)
        .unionByName(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("prefix edit "), col("text")).as("text")))
        .createOrReplaceTempView("graft_q191_delta")
    } { (s, d) =>
      val dir = s.conf.get("spark.sql.warehouse.dir") + "/graft_q191_index"
      graft.cli.QueryCommand.run(s,
        s"""SELECT src, id1, id2, val FROM (
           |  SELECT 'ann' AS src, vec_id AS id1, CAST(cell AS BIGINT) AS id2, score_q AS val
           |  FROM graft_ivfpq_topk('$dir', 'graft_q191_query', 20, 2)
           |  UNION ALL
           |  SELECT 'winnow' AS src, a AS id1, b AS id2, n_shared AS val
           |  FROM graft_winnow_pairs('graft_q191_winnow', 'graft_q191_delta', 3, 8))
           |ORDER BY src, id1, id2""".stripMargin, dataDir = Some(d))
    },

    // SQL DOOR phase 2, retrieval leg (r12 verdict item 2): the
    // RETRAINED per-cell-versioned IVF-PQ probe from PURE SQL TEXT.
    // Setup replays the full q180 lifecycle — v1 index on the catalog,
    // planted-drift delta (+10.0 per element), drift-triggered v2
    // retrain, drifted-cell rewrite — then persists EVERYTHING into
    // the index dir (codes + _codebooks + _retrain), so the SQL-text
    // probe opens the retrained index by path alone. The oracle
    // replays v1 training, drift detection, v2 training, BOTH
    // encodings, and the version-branched ADC probe integer-exact.
    sqlWithSetup("q202_sql_door_retrained",
      (ivfPqOracleCore("vec_id % 10 <> 9",
        vExpr = "CASE WHEN vec_id % 10 = 9 " +
          "THEN (CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0 " +
          "ELSE CAST(embedding[i] AS DOUBLE) * 1000000.0 END") +
      """md AS (SELECT vec_id, b, min(dist) AS d FROM pd2 GROUP BY vec_id, b),
        |verr AS (SELECT vec_id, CAST(sum(d) AS BIGINT) AS err FROM md GROUP BY vec_id),
        |stats AS (SELECT a.cell,
        |    CAST(count(*) FILTER (WHERE vec_id % 10 = 9) AS BIGINT) AS n_delta,
        |    CASE WHEN count(*) FILTER (WHERE vec_id % 10 <> 9) > 0
        |      THEN sum(err) FILTER (WHERE vec_id % 10 <> 9)
        |           // count(*) FILTER (WHERE vec_id % 10 <> 9) END AS aec,
        |    CASE WHEN count(*) FILTER (WHERE vec_id % 10 = 9) > 0
        |      THEN sum(err) FILTER (WHERE vec_id % 10 = 9)
        |           // count(*) FILTER (WHERE vec_id % 10 = 9) END AS aed
        |  FROM cass a JOIN verr USING (vec_id) GROUP BY a.cell),
        |dr AS (SELECT cell FROM stats WHERE n_delta > 0 AND aed * 100 > aec * 120),
        |rtr2 AS (SELECT r.* FROM r WHERE r.cell IN (SELECT cell FROM dr)),
        |ps2 AS (SELECT j // 8 AS b, vec_id % 16 AS c, j % 8 AS bp, sum(v) // count(*) AS cent
        |        FROM rtr2 GROUP BY j // 8, vec_id % 16, j % 8),
        |qd1 AS (SELECT r.vec_id, r.j // 8 AS b, s.c, sum((r.v - s.cent) * (r.v - s.cent)) AS dist
        |        FROM rtr2 r JOIN ps2 s ON r.j // 8 = s.b AND r.j % 8 = s.bp
        |        GROUP BY r.vec_id, r.j // 8, s.c),
        |qa1 AS (SELECT vec_id, b, c FROM (
        |          SELECT vec_id, b, c, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, c) AS rn
        |          FROM qd1) x WHERE rn = 1),
        |qr1 AS (SELECT r.j // 8 AS b, a.c, r.j % 8 AS bp, sum(r.v) // count(*) AS cent
        |        FROM rtr2 r JOIN qa1 a ON r.vec_id = a.vec_id AND r.j // 8 = a.b
        |        GROUP BY r.j // 8, a.c, r.j % 8),
        |qcb AS (SELECT s.b, s.c, s.bp, COALESCE(q1.cent, s.cent) AS cent
        |        FROM ps2 s LEFT JOIN qr1 q1 ON s.b = q1.b AND s.c = q1.c AND s.bp = q1.bp),
        |qd2 AS (SELECT r.vec_id, r.j // 8 AS b, k.c, sum((r.v - k.cent) * (r.v - k.cent)) AS dist
        |        FROM rtr2 r JOIN qcb k ON r.j // 8 = k.b AND r.j % 8 = k.bp
        |        GROUP BY r.vec_id, r.j // 8, k.c),
        |enc2 AS (SELECT vec_id, b, c FROM (
        |          SELECT vec_id, b, c, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, c) AS rn
        |          FROM qd2) x WHERE rn = 1),
        |q AS (SELECT unnest([{'j': i-1,
        |                     'v': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)}
        |                    FOR i IN range(1, len(embedding)+1)]) AS u
        |      FROM embeddings WHERE vec_id = 0),
        |qe AS (SELECT u.j AS j, u.v AS qv FROM q),
        |csc AS (SELECT k.c, sum(qe.qv * k.cent) AS s
        |        FROM ccb k JOIN qe ON k.j = qe.j GROUP BY k.c),
        |probe AS (SELECT c, s FROM (
        |            SELECT c, s, row_number() OVER (ORDER BY s DESC, c) AS rn
        |            FROM csc) x WHERE rn <= 2),
        |lut1 AS (SELECT k.b, k.c, sum(qe.qv * k.cent) AS l
        |         FROM pcb k JOIN qe ON qe.j = k.b * 8 + k.bp GROUP BY k.b, k.c),
        |lut2 AS (SELECT k.b, k.c, sum(qe.qv * k.cent) AS l
        |         FROM qcb k JOIN qe ON qe.j = k.b * 8 + k.bp GROUP BY k.b, k.c),
        |sc1 AS (SELECT a.vec_id, a.cell, pr.s + sum(l.l) AS score
        |        FROM cass a JOIN probe pr ON a.cell = pr.c
        |        JOIN enc ON enc.vec_id = a.vec_id
        |        JOIN lut1 l ON enc.b = l.b AND enc.c = l.c
        |        WHERE a.cell NOT IN (SELECT cell FROM dr)
        |        GROUP BY a.vec_id, a.cell, pr.s),
        |sc2 AS (SELECT a.vec_id, a.cell, pr.s + sum(l.l) AS score
        |        FROM cass a JOIN probe pr ON a.cell = pr.c
        |        JOIN enc2 ON enc2.vec_id = a.vec_id
        |        JOIN lut2 l ON enc2.b = l.b AND enc2.c = l.c
        |        WHERE a.cell IN (SELECT cell FROM dr)
        |        GROUP BY a.vec_id, a.cell, pr.s),
        |top AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(score AS BIGINT) AS score_q
        |        FROM (SELECT * FROM sc1 UNION ALL SELECT * FROM sc2)
        |        ORDER BY score DESC, vec_id LIMIT 20)
        |SELECT vec_id, cell, score_q FROM top ORDER BY vec_id""".stripMargin)
        .replace(" AS (", " AS MATERIALIZED (")) {
      (s, d) =>
        val emb = embeddings(s, d).filter(col("vec_id") =!= 0)
          .select("vec_id", "embedding")
        val cat = emb.filter(col("vec_id") % 10 =!= 9)
        val del = emb.filter(col("vec_id") % 10 === 9)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double") + lit(10.0))
              .as("embedding"))
        val idx = Pq.trainIvfPq(cat, ncells = 4, m = 8, ksub = 16)
        val union = cat.unionByName(del)
        val dir = s.conf.get("spark.sql.warehouse.dir") + "/graft_q202_index"
        Pq.writeIvfPqIndex(union, idx, dir)
        val rt = Pq.retrainDrifted(cat, del, idx, ratioPct = 120L)
        Pq.rewriteDriftedCells(union, rt, dir)
        Pq.saveRetrainedMeta(s, rt, dir)
        embeddings(s, d).filter(col("vec_id") === 0)
          .createOrReplaceTempView("graft_q202_query")
    } { (s, d) =>
      val dir = s.conf.get("spark.sql.warehouse.dir") + "/graft_q202_index"
      graft.cli.QueryCommand.run(s,
        s"""SELECT vec_id, CAST(cell AS BIGINT) AS cell, score_q
           |FROM graft_ivfpq_topk_retrained('$dir', 'graft_q202_query', 20, 2)
           |ORDER BY vec_id""".stripMargin, dataDir = Some(d))
    },

    // Filtered ANN: the q128 IVF-PQ probe under a metadata predicate
    // (label % 3 = 1 — the license/source-gate shape). The label rides
    // in the encoded index as a filterable attribute; the gate lands
    // BEFORE top-k, so k is sized over admissible rows only (post-
    // filtering would under-fill it). The oracle replays training,
    // assignment, and encoding identically and applies the same gate
    // before its LIMIT — a full hash oracle for the entire filtered
    // retrieval path.
    sql("q162_ivfpq_filtered",
      ivfPqOracleCore("TRUE") +
      """q AS (SELECT unnest([{'j': i-1,
        |                     'v': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)}
        |                    FOR i IN range(1, len(embedding)+1)]) AS u
        |      FROM embeddings WHERE vec_id = 0),
        |qe AS (SELECT u.j AS j, u.v AS qv FROM q),
        |csc AS (SELECT k.c, sum(qe.qv * k.cent) AS s
        |        FROM ccb k JOIN qe ON k.j = qe.j GROUP BY k.c),
        |probe AS (SELECT c, s FROM (
        |            SELECT c, s, row_number() OVER (ORDER BY s DESC, c) AS rn
        |            FROM csc) x WHERE rn <= 2),
        |lut AS (SELECT k.b, k.c, sum(qe.qv * k.cent) AS l
        |        FROM pcb k JOIN qe ON qe.j = k.b * 8 + k.bp GROUP BY k.b, k.c),
        |sc AS (SELECT a.vec_id, a.cell, pr.s + sum(l.l) AS score
        |       FROM cass a JOIN probe pr ON a.cell = pr.c
        |       JOIN embeddings em ON em.vec_id = a.vec_id AND em.label % 3 = 1
        |       JOIN enc ON enc.vec_id = a.vec_id
        |       JOIN lut l ON enc.b = l.b AND enc.c = l.c
        |       GROUP BY a.vec_id, a.cell, pr.s),
        |top AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(score AS BIGINT) AS score_q
        |        FROM sc ORDER BY score DESC, vec_id LIMIT 20)
        |SELECT vec_id, cell, score_q FROM top ORDER BY vec_id""".stripMargin) {
      (s, d) =>
        val emb = embeddings(s, d).filter(col("vec_id") =!= 0)
        val idx = Pq.trainIvfPq(emb, ncells = 4, m = 8, ksub = 16)
        val enc = Pq.encodeIvfPq(emb, idx, extraCols = Seq("label"))
        Pq.ivfPqTopKFiltered(enc, idx,
            Pq.queryWeightsE6(embeddings(s, d).filter(col("vec_id") === 0)),
            k = 20, nprobe = 2, pred = col("label") % 3 === 1)
          .select(col("vec_id"), col("cell").cast("long").as("cell"),
            col("score_q"))
          .orderBy("vec_id")
    },

    // PCM-TRUE perceptual near-dup (the q186 feature upgrade): for
    // 16-bit PCM WAVs the signature is the per-band sample-energy
    // profile located via the chunk walk, not the whole-payload byte
    // histogram — so a VOLUME-SCALED twin (+1M, every sample × 2)
    // pairs at cross-scaled L1 = 0 (bytes differ everywhere; the
    // histogram tier cannot see it), and a RE-ENCODED header variant
    // (+2M, different JUNK chunk around the same PCM) pairs too
    // (container bytes never enter the profile). Every payload byte
    // is an id formula, so the oracle rebuilds energies, sign
    // buckets, the cap, and the L1 gate from the construction.
    sql("q196_pcm_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base, 1 AS scale FROM documents
        |  UNION ALL SELECT doc_id + 1000000, doc_id, 2 FROM documents WHERE doc_id < 30
        |  UNION ALL SELECT doc_id + 2000000, doc_id, 1 FROM documents WHERE doc_id < 30),
        |e AS (SELECT id, base,
        |        [CAST(list_sum([abs((base * 31 + i * 17) % 2001 - 1000) * scale
        |                        FOR i IN range(64 + base % 33)
        |                        IF i * 8 // (64 + base % 33) = b]) AS BIGINT)
        |         FOR b IN range(8)] AS e
        |      FROM ids),
        |t AS (SELECT id, base, e, CAST(list_sum(e) AS BIGINT) AS t FROM e),
        |k AS (SELECT id, e, t,
        |        '1:' || CAST(8000 + (base % 4) * 4000 AS VARCHAR) || '|' ||
        |        CAST(CAST(list_sum([CASE WHEN e[b+1] * 8 >= t THEN 1<<b ELSE 0 END
        |                            FOR b IN range(8)]) AS BIGINT) AS VARCHAR) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(CAST(x.e[i+1] AS HUGEINT) * y.t - CAST(y.e[i+1] AS HUGEINT) * x.t) FOR i IN range(8)]) AS HUGEINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, CAST(l1 AS VARCHAR) AS l1
        |FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
      val ids = base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("hv"))
        .unionByName(base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(2).as("scale"), lit(false).as("hv")))
        .unionByName(base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 2000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(true).as("hv")))
      val media = graft.operators.Multimodal.synthesizeWavPcm(
        ids, "id", "base", "scale", "hv")
      // l1 is DECIMAL(38,0) internally (the r13 overflow gate: a
      // surviving pair's l1 reaches ~0.01·t1·t2 ≈ 1e25 at
      // minutes-long-PCM scales, past Long range) but crosses the
      // output edge as a CANONICAL DECIMAL STRING on BOTH sides: the
      // r14 lesson is that Spark DECIMAL(38,0) and DuckDB HUGEINT do
      // NOT hash identically at the driver gate even when both
      // present as arrow decimal128(38,0) locally — a string is
      // representation-identical by construction on every
      // arrow/duckdb version.
      graft.operators.Multimodal.pcmPerceptualCandidates(media,
          bands = 8, maxBucketSize = 64, thrPermille = 10)
        .select(col("id1"), col("id2"), col("l1").cast("string").as("l1"))
        .orderBy("id1", "id2")
    },

    // PIXEL-TRUE perceptual near-dup for PNG (r12 verdict item 3 —
    // the q196 move for the visual tier): the signature is the
    // decoded grid×grid block-mean luminance profile (IDAT inflate +
    // per-row defilter in a native kernel), so a RE-ENCODED twin
    // (+1M: RGBA, all five scanline filters cycled, max deflate —
    // not one shared compressed byte) and a NEAREST-NEIGHBOR RESIZED
    // twin (+2M: 32×32 from 16×16) both pair at L1 = 0 where the
    // q186 byte histogram sees nothing. Every pixel is an id
    // formula, so the oracle rebuilds block means, sign buckets, the
    // cap, and the gate from the construction WITHOUT decoding —
    // the decode kernel is correct iff the hashes meet.
    sql("q203_png_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150
        |  UNION ALL SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150),
        |f AS (SELECT id,
        |  [CAST(list_sum([
        |     (77 * ((base*31 + (i%16)*(7 + base%11) + (i//16)*(13 + base%17)) % 256)
        |      + 150 * ((((base*31 + (i%16)*(7 + base%11) + (i//16)*(13 + base%17)) % 256) * 3) % 256)
        |      + 29 * ((((base*31 + (i%16)*(7 + base%11) + (i//16)*(13 + base%17)) % 256) * 5) % 256)) // 256
        |     FOR i IN range(256)
        |     IF (i % 16) // 4 = b % 4 AND (i // 16) // 4 = b // 4]) * 1000 // 16 AS BIGINT)
        |   FOR b IN range(16)] AS f
        |  FROM ids),
        |t AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t FROM f),
        |k AS (SELECT id, f, t,
        |        CAST(list_sum([CASE WHEN f[b+1] * 16 >= t THEN 1<<b ELSE 0 END
        |                       FOR b IN range(16)]) AS BIGINT) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(16)]) AS BIGINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      // every 5th document carries an image (the PNG encode/decode
      // kernel work dominates this fixture's cost; a fifth of the
      // corpus exercises the same pipeline at a fifth of the flat
      // per-payload cost) — 30 planted triangles either way
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      val ids = base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("variant"))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(true).as("variant")))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 2000000L).as("id"), col("doc_id").as("base"),
            lit(2).as("scale"), lit(false).as("variant")))
      val media = graft.operators.Multimodal.synthesizePng(
        ids, "id", "base", "scale", "variant")
      graft.operators.Multimodal.pngPerceptualCandidates(media,
          grid = 4, maxBucketSize = 64, thrPermille = 10)
        .orderBy("id1", "id2")
    },

    // PIXEL-TRUE perceptual near-dup for BASELINE JPEG (r13 verdict
    // item 2 — the q203 move for the dominant web image format): the
    // signature is the DECODED-Y-plane grid×grid block-mean profile
    // (marker walk + Huffman decode + dequant + IDCT in a native
    // kernel), so a RE-ENCODED twin (+1M: different quantization
    // table, different Huffman code lengths, three YCbCr components
    // instead of grayscale, restart markers — not one shared
    // compressed byte) and a NEAREST-NEIGHBOR RESIZED twin (+2M:
    // 64×64 from 32×32) both pair at L1 = 0 where the q186 byte
    // histogram sees nothing. The fixture is DC-ONLY blocks whose
    // decode is INTEGER-EXACT from the construction (pixel =
    // 128 + dc, both encodings choose coefficient·q₀ = 8·dc), with
    // the id riding the block-coordinate SLOPES (the q196/q203
    // anti-collapse lesson) — so the oracle rebuilds block means,
    // sign buckets, the cap, and the gate from the dc formula
    // WITHOUT a decoder: the Huffman+IDCT kernel is correct iff the
    // hashes meet.
    sql("q208_jpeg_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150
        |  UNION ALL SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150),
        |f AS (SELECT id,
        |  [(128 + ((base*31 + (b % 4)*(7 + base % 31) + (b // 4)*(13 + base % 29) + (b % 4)*(b // 4)*(11 + base % 23)) % 201) - 100) * 1000
        |   FOR b IN range(16)] AS f
        |  FROM ids),
        |t AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t FROM f),
        |k AS (SELECT id, f, t,
        |        CAST(list_sum([CASE WHEN f[b+1] * 16 >= t THEN 1<<b ELSE 0 END
        |                       FOR b IN range(16)]) AS BIGINT) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(16)]) AS BIGINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      // every 5th document carries an image (the q203 sizing: the
      // per-payload encode/decode kernel work is flat, a fifth of the
      // corpus exercises the same pipeline at a fifth of the cost) —
      // 30 planted triangles at sf0.01
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      val ids = base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("variant"))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(true).as("variant")))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 2000000L).as("id"), col("doc_id").as("base"),
            lit(2).as("scale"), lit(false).as("variant")))
      val media = graft.operators.Multimodal.synthesizeJpeg(
        ids, "id", "base", "scale", "variant")
      graft.operators.Multimodal.jpegPerceptualCandidates(media,
          grid = 4, maxBucketSize = 64, thrPermille = 10)
        .orderBy("id1", "id2")
    },

    // AUTO-SIZED image signature space (the q204 saturation fix
    // applied to the visual tier): the PNG near-dup pipeline at a
    // DECLARED population of 10M images (`knownCount`, the
    // nearDupesAnnAuto lazy-sizing contract) — grid 4's 65 536 sign
    // buckets would hold ~150 images each there, past the hot cap, so
    // the derivation widens the grid to the smallest g with
    // g² ≥ ceil-log2(⌈n/16⌉) bits = 5 (25-bit keys, 33M buckets).
    // The oracle replays the DERIVATION itself (declared n → bits →
    // grid) and then the whole pipeline at that grid: block means
    // from the pixel formula with floor cell boundaries (16 doesn't
    // divide by 5 — cells are 3–4 px), sign bucket, cap, L1 gate.
    // Re-encode twins (same pixels) pair at exactly 0 at ANY grid;
    // the resize arm is deliberately absent (integral-resize
    // exactness needs grid-divisible dims — the documented
    // approximate case the L1 gate absorbs).
    sql("q211_png_neardup_auto", {
      val lum = "(77 * ((base*31 + (i%16)*(7 + base%11) + (i//16)*(13 + base%17)) % 256) " +
        "+ 150 * ((((base*31 + (i%16)*(7 + base%11) + (i//16)*(13 + base%17)) % 256) * 3) % 256) " +
        "+ 29 * ((((base*31 + (i%16)*(7 + base%11) + (i//16)*(13 + base%17)) % 256) * 5) % 256)) // 256"
      val cell = "(i % 16) * gv // 16 = b % gv AND (i // 16) * gv // 16 = b // gv"
      s"""WITH sz AS (SELECT CAST(list_min([bb FOR bb IN range(63)
         |    IF (CAST(1 AS BIGINT) << bb) >= (10000000 + 15) // 16]) AS INT) AS bits),
         |gd AS (SELECT GREATEST(4, list_min([gg FOR gg IN range(1, 8)
         |    IF gg * gg >= bits])) AS gv FROM sz),
         |ids AS (
         |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150),
         |f AS (SELECT id, gv,
         |  [CAST(list_sum([$lum FOR i IN range(256) IF $cell]) * 1000 //
         |        list_sum([1 FOR i IN range(256) IF $cell]) AS BIGINT)
         |   FOR b IN range(gv * gv)] AS f
         |  FROM ids CROSS JOIN gd),
         |t AS (SELECT id, gv, f, CAST(list_sum(f) AS BIGINT) AS t FROM f),
         |k AS (SELECT id, gv, f, t,
         |        CAST(list_sum([CASE WHEN f[b+1] * gv * gv >= t THEN CAST(1 AS BIGINT) << b ELSE 0 END
         |                       FOR b IN range(gv * gv)]) AS BIGINT) AS key
         |      FROM t WHERE t >= 1),
         |g2 AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
         |kk AS (SELECT k.* FROM k JOIN g2 USING (key)),
         |p AS (SELECT x.id AS id1, y.id AS id2,
         |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(len(x.f))]) AS BIGINT) AS l1,
         |        x.t AS t1, y.t AS t2
         |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
         |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
         |ORDER BY id1, id2""".stripMargin
    }) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      val ids = base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("variant"))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(true).as("variant")))
      val media = graft.operators.Multimodal.synthesizePng(
        ids, "id", "base", "scale", "variant")
      graft.operators.Multimodal.pngPerceptualCandidatesAuto(media,
          targetBucketSize = 16, maxBucketSize = 64, thrPermille = 10,
          knownCount = Some(10000000L))
        .orderBy("id1", "id2")
    },

    // CROSS-FORMAT image near-dup: the SAME grayscale content stored
    // as a baseline JPEG by one system and as a PNG by another — the
    // most common cross-format twin in a crawl corpus, invisible to
    // every byte- or format-blocked tier. The unified feature is
    // coalesce(png_block_means, jpeg_block_means) (each kernel nulls
    // on the other's format — content dispatch), and on grayscale the
    // two luma models agree EXACTLY (PNG gray passes the pixel
    // through; JPEG's Y is the pixel), so the planted cross-format
    // twins pair at L1 = 0. Both fixtures carry the q208 DC block
    // pattern, so ONE f formula replays both decoders' outputs — the
    // oracle is format-blind by construction, exactly like the
    // operator.
    sql("q212_image_crossformat",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150),
        |f AS (SELECT id,
        |  [(128 + ((base*31 + (b % 4)*(7 + base % 31) + (b // 4)*(13 + base % 29) + (b % 4)*(b // 4)*(11 + base % 23)) % 201) - 100) * 1000
        |   FOR b IN range(16)] AS f
        |  FROM ids),
        |t AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t FROM f),
        |k AS (SELECT id, f, t,
        |        CAST(list_sum([CASE WHEN f[b+1] * 16 >= t THEN 1<<b ELSE 0 END
        |                       FOR b IN range(16)]) AS BIGINT) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(16)]) AS BIGINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      val ids = base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("png"))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(true).as("png")))
      val media = graft.operators.Multimodal.synthesizeMixedImages(
        ids, "id", "base", "scale", "png")
      graft.operators.Multimodal.imagePerceptualCandidates(media,
          grid = 4, maxBucketSize = 64, thrPermille = 10)
        .orderBy("id1", "id2")
    },

    // INCREMENTAL image near-dup (the q189 store-equivalence contract
    // for the visual tier): a JPEG CATALOG probed by a PNG DELTA —
    // `imageCrossPairs` sums the hot-bucket population across BOTH
    // sides (disjoint ids ⇒ counts add), so the cross output equals
    // the full recompute over catalog ∪ delta restricted to
    // (catalog, delta) pairs; only delta-present keys can pair, so
    // probe cost tracks delta size. Grid 6 (the
    // wide-signature-space remedy q211 established): at grid 4 the
    // 100× replica corpus drives every delta key past the combined
    // cap and the probe saturates to zero — the q196 failure shape.
    // The oracle computes each grid-6 cell mean WITHOUT per-pixel
    // iteration: the image is DC-constant 8×8 blocks, so a cell's sum
    // is Σ_blocks (overlap area × (128 + dc)) with integer ceil
    // boundaries — 16 blocks × 36 cells of pure arithmetic, exactly
    // the kernels' per-pixel floor-cell math in closed form.
    sql("q213_image_cross_incremental", {
      val dc = "((base*31 + (k % 4)*(7 + base % 31) + (k // 4)*(13 + base % 29) + (k % 4)*(k // 4)*(11 + base % 23)) % 201) - 100"
      def ov(p: String, g: String): String =
        s"GREATEST(0, LEAST(8*(($p)+1), (32*(($g)+1) + 5) // 6) - GREATEST(8*($p), (32*($g) + 5) // 6))"
      val cellCnt = "(((32*((b % 6)+1) + 5) // 6 - (32*(b % 6) + 5) // 6) * " +
        "((32*((b // 6)+1) + 5) // 6 - (32*(b // 6) + 5) // 6))"
      val fExpr =
        s"""[CAST(list_sum([(128 + $dc) * ${ov("k % 4", "b % 6")} * ${ov("k // 4", "b // 6")}
           |     FOR k IN range(16)]) * 1000 // $cellCnt AS BIGINT)
           |   FOR b IN range(36)]""".stripMargin
      s"""WITH cat AS (
         |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0),
         |dlt AS (
         |  SELECT doc_id + 1000000 AS id, doc_id AS base FROM documents
         |  WHERE doc_id % 5 = 0 AND doc_id < 150),
         |fc AS (SELECT id, $fExpr AS f FROM cat),
         |fd AS (SELECT id, $fExpr AS f FROM dlt),
         |kc AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t,
         |        CAST(list_sum([CASE WHEN f[b+1] * 36 >= CAST(list_sum(f) AS BIGINT) THEN CAST(1 AS BIGINT)<<b ELSE 0 END
         |                       FOR b IN range(36)]) AS BIGINT) AS key
         |      FROM fc WHERE CAST(list_sum(f) AS BIGINT) >= 1),
         |kd AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t,
         |        CAST(list_sum([CASE WHEN f[b+1] * 36 >= CAST(list_sum(f) AS BIGINT) THEN CAST(1 AS BIGINT)<<b ELSE 0 END
         |                       FOR b IN range(36)]) AS BIGINT) AS key
         |      FROM fd WHERE CAST(list_sum(f) AS BIGINT) >= 1),
         |keep AS (SELECT key FROM
         |  (SELECT key FROM kc UNION ALL SELECT key FROM kd)
         |  GROUP BY key HAVING count(*) <= 64),
         |p AS (SELECT x.id AS id1, y.id AS id2,
         |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(36)]) AS BIGINT) AS l1,
         |        x.t AS t1, y.t AS t2
         |      FROM kc x JOIN keep USING (key) JOIN kd y ON x.key = y.key)
         |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
         |ORDER BY id1, id2""".stripMargin
    }) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      val catalog = graft.operators.Multimodal.synthesizeMixedImages(
        base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("png")),
        "id", "base", "scale", "png")
      val delta = graft.operators.Multimodal.synthesizeMixedImages(
        base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(true).as("png")),
        "id", "base", "scale", "png")
      graft.operators.Multimodal.imageCrossPairs(
          graft.operators.Multimodal.imageSignatures(catalog, 6),
          graft.operators.Multimodal.imageSignatures(delta, 6),
          maxBucketSize = 64, thrPermille = 10)
        .orderBy("id1", "id2")
    },

    // MEDIA DATA CARD — the media-corpus member of the data-card
    // family (text q200, domain q207, DP q205): per-format census
    // with the grouping()-tagged ROLLUP total over a MIXED corpus —
    // structured header-only payloads (q182's fixture: real PNG/JPEG/
    // WAV headers, garbage bodies — the pixel tier correctly returns
    // null on all of them) plus fully-decodable DC images. The gap
    // between n_media and px_decodable IS the card's point: it tells
    // the pipeline how much of each format the pixel tier can
    // actually serve vs what stays on the byte-histogram tier. Every
    // header field is an id formula, so the oracle replays the whole
    // census from the construction.
    sql("q214_media_card",
      """WITH s AS (SELECT doc_id AS id,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 64
        |         WHEN 1 THEN 32 + doc_id % 80 END AS BIGINT) AS w,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 48
        |         WHEN 1 THEN 32 + doc_id % 100 END AS BIGINT) AS h,
        |    CAST(CASE doc_id % 3 WHEN 2 THEN 100 + doc_id % 50 ELSE 0 END AS BIGINT) AS fr,
        |    0 AS px
        |  FROM documents
        |  UNION ALL SELECT doc_id + 3000000, 'jpeg', 32, 32, 0, 1
        |    FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL SELECT doc_id + 4000000, 'png', 32, 32, 0, 1
        |    FROM documents WHERE doc_id % 50 = 0)
        |SELECT CASE WHEN GROUPING(fmt) = 1 THEN '__all__' ELSE fmt END AS scope,
        |  CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(px) AS BIGINT) AS px_decodable,
        |  CAST(count(w) AS BIGINT) AS with_dims,
        |  CASE WHEN count(w) > 0 THEN CAST(sum(w) // count(w) AS BIGINT) END AS mean_w,
        |  CASE WHEN count(h) > 0 THEN CAST(sum(h) // count(h) AS BIGINT) END AS mean_h,
        |  CAST(sum(fr) AS BIGINT) AS audio_frames
        |FROM s GROUP BY ROLLUP (fmt) ORDER BY scope""".stripMargin) { (s, d) =>
      import graft.operators.Multimodal
      val structured = Multimodal.synthesizeStructured(documents(s, d), "doc_id")
        .select("media_id", "payload")
      val mixBase = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 50 === 0)
      val jp = Multimodal.synthesizeMixedImages(
        mixBase.select((col("doc_id") + 3000000L).as("id"),
          col("doc_id").as("base"), lit(1).as("scale"), lit(false).as("png")),
        "id", "base", "scale", "png")
      val pg = Multimodal.synthesizeMixedImages(
        mixBase.select((col("doc_id") + 4000000L).as("id"),
          col("doc_id").as("base"), lit(1).as("scale"), lit(true).as("png")),
        "id", "base", "scale", "png")
      Multimodal.mediaCard(structured.unionByName(jp).unionByName(pg))
        .orderBy("scope")
    },

    // Media card with the GIF header+pixel tier (q214 extended, r15):
    // media_header now parses GIF87a/89a — logical-screen dims,
    // palette channels, and the FRAME COUNT from an image-descriptor
    // walk that SKIPS data sub-blocks by length arithmetic (animation
    // detection with zero decode) — and the card's decodability probe
    // carries the GIF arm, so a static GIF and an animated GIF both
    // count px_decodable (frame 1 decodes) while the frames column
    // separates them. Oracle: every header field and the decodability
    // split replayed from the fixture construction.
    sql("q224_media_card_gif",
      """WITH s AS (SELECT doc_id AS id,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 64
        |         WHEN 1 THEN 32 + doc_id % 80 END AS BIGINT) AS w,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 48
        |         WHEN 1 THEN 32 + doc_id % 100 END AS BIGINT) AS h,
        |    CAST(CASE doc_id % 3 WHEN 2 THEN 100 + doc_id % 50 ELSE 0 END AS BIGINT) AS fr,
        |    0 AS px
        |  FROM documents
        |  UNION ALL SELECT doc_id + 5000000, 'gif', 32, 32, 1, 1
        |    FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL SELECT doc_id + 6000000, 'gif', 32, 32, 2 + (doc_id // 50) % 5, 1
        |    FROM documents WHERE doc_id % 50 = 0)
        |SELECT CASE WHEN GROUPING(fmt) = 1 THEN '__all__' ELSE fmt END AS scope,
        |  CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(px) AS BIGINT) AS px_decodable,
        |  CAST(count(w) AS BIGINT) AS with_dims,
        |  CASE WHEN count(w) > 0 THEN CAST(sum(w) // count(w) AS BIGINT) END AS mean_w,
        |  CASE WHEN count(h) > 0 THEN CAST(sum(h) // count(h) AS BIGINT) END AS mean_h,
        |  CAST(sum(fr) AS BIGINT) AS audio_frames
        |FROM s GROUP BY ROLLUP (fmt) ORDER BY scope""".stripMargin) { (s, d) =>
      import graft.operators.Multimodal
      val structured = Multimodal.synthesizeStructured(documents(s, d), "doc_id")
        .select("media_id", "payload")
      val mixBase = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 50 === 0)
      val gifStatic = udf { (base: Long) =>
        Multimodal.gifGrayPayload(base, 1, interlaced = false) }
      val gifAnim = udf { (base: Long) =>
        // (base / 50) varies where base % 5 cannot: the mix arm filters
        // doc_id % 50 = 0, so a % 5 modulus is constant 2 and the frame
        // walk would never see 3+ frames (review find)
        Multimodal.gifAnimatedPayload(base, 1, frames = (2 + (base / 50) % 5).toInt) }
      val gs = mixBase.select((col("doc_id") + 5000000L).as("media_id"),
        gifStatic(col("doc_id")).as("payload"))
      val ga = mixBase.select((col("doc_id") + 6000000L).as("media_id"),
        gifAnim(col("doc_id")).as("payload"))
      Multimodal.mediaCard(structured.unionByName(gs).unionByName(ga))
        .orderBy("scope")
    },

    // AUTO-SIZED PCM near-dup (r12 verdict item 4): q196 with the
    // signature space derived from the corpus size — bands = max(8,
    // smallest b with 2^b ≥ ⌈n/16⌉) — so the planted twins survive
    // ANY corpus scale with default parameters instead of silently
    // saturating the hot-bucket cap at 100× (SCALE.md's r12 note).
    // The oracle replays the derivation itself (count → ceil-log2 →
    // bands) and then the whole banded pipeline at that width.
    sql("q204_pcm_neardup_auto",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base, 1 AS scale FROM documents
        |  UNION ALL SELECT doc_id + 1000000, doc_id, 2 FROM documents WHERE doc_id < 30
        |  UNION ALL SELECT doc_id + 2000000, doc_id, 1 FROM documents WHERE doc_id < 30),
        |nn AS (SELECT count(*) AS n FROM ids),
        |bd AS (SELECT GREATEST(8, list_min([b FOR b IN range(63)
        |         IF (CAST(1 AS BIGINT) << b) >= GREATEST(1, (n + 15) // 16)])) AS bands
        |       FROM nn),
        |e AS (SELECT id, base, bands,
        |        [CAST(list_sum([abs((base * 31 + i * 17) % 2001 - 1000) * scale
        |                        FOR i IN range(64 + base % 33)
        |                        IF i * bands // (64 + base % 33) = b]) AS BIGINT)
        |         FOR b IN range(bands)] AS e
        |      FROM ids CROSS JOIN bd),
        |t AS (SELECT id, base, bands, e, CAST(list_sum(e) AS BIGINT) AS t FROM e),
        |k AS (SELECT id, e, t,
        |        '1:' || CAST(8000 + (base % 4) * 4000 AS VARCHAR) || '|' ||
        |        CAST(CAST(list_sum([CASE WHEN e[b+1] * bands >= t THEN 1<<b ELSE 0 END
        |                            FOR b IN range(bands)]) AS BIGINT) AS VARCHAR) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(CAST(x.e[i+1] AS HUGEINT) * y.t - CAST(y.e[i+1] AS HUGEINT) * x.t) FOR i IN range(len(x.e))]) AS HUGEINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, CAST(l1 AS VARCHAR) AS l1
        |FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
      val ids = base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("hv"))
        .unionByName(base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(2).as("scale"), lit(false).as("hv")))
        .unionByName(base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 2000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(true).as("hv")))
      val media = graft.operators.Multimodal.synthesizeWavPcm(
        ids, "id", "base", "scale", "hv")
      // canonical decimal STRING at the output edge, like q196 (see
      // the driver-hash note there); internal arithmetic stays DECIMAL
      graft.operators.Multimodal.pcmPerceptualCandidatesAuto(media,
          targetBucketSize = 16, maxBucketSize = 64, thrPermille = 10)
        .select(col("id1"), col("id2"), col("l1").cast("string").as("l1"))
        .orderBy("id1", "id2")
    },

    // PROGRESSIVE-JPEG perceptual near-dup (r14 verdict item 3 — the
    // q208 contract extended to the OTHER dominant web JPEG shape):
    // the kernel's multi-scan SOF2 path decodes a five-scan
    // progressive re-encode of the q208 DC-only image — DC first scan
    // at Al=1 with restarts, a DC refinement, and three all-EOB-run AC
    // band scans — to the IDENTICAL luma plane (q₀ = 4, coefficient =
    // 2·dc: every successive-approximation step is integer-exact), so
    // a progressive re-encode (+1M) and a progressive NN-resize (+2M)
    // pair their baseline original at L1 = 0 with zero shared entropy
    // bytes and a different frame type. Oracle: the q208 dc-formula
    // replay — the progressive decoder is correct iff the hashes meet.
    sql("q215_jpeg_progressive_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150
        |  UNION ALL SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150),
        |f AS (SELECT id,
        |  [(128 + ((base*31 + (b % 4)*(7 + base % 31) + (b // 4)*(13 + base % 29) + (b % 4)*(b // 4)*(11 + base % 23)) % 201) - 100) * 1000
        |   FOR b IN range(16)] AS f
        |  FROM ids),
        |t AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t FROM f),
        |k AS (SELECT id, f, t,
        |        CAST(list_sum([CASE WHEN f[b+1] * 16 >= t THEN 1<<b ELSE 0 END
        |                       FOR b IN range(16)]) AS BIGINT) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(16)]) AS BIGINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      val ids = base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(0).as("mode"))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 1000000L).as("id"), col("doc_id").as("base"),
            lit(1).as("scale"), lit(2).as("mode")))
        .unionByName(base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 2000000L).as("id"), col("doc_id").as("base"),
            lit(2).as("scale"), lit(2).as("mode")))
      val media = graft.operators.Multimodal.synthesizeJpegModes(
        ids, "id", "base", "scale", "mode")
      graft.operators.Multimodal.jpegPerceptualCandidates(media,
          grid = 4, maxBucketSize = 64, thrPermille = 10)
        .orderBy("id1", "id2")
    },

    // COLOR cross-format exactness (r14 verdict item 6 — the last
    // approximate case in the image tier made exact): the cross-format
    // pipeline with `bt601 = true` reduces COLOR PNG pixels with the
    // JPEG-encoder integer BT.601 luma, so a color PNG whose g channel
    // is SOLVED against jittered r/b to land every block on
    // t = 128 + dc — the construction guarantees
    // (19595r + 38470g + 7471b + 32768) >> 16 = t exactly — pairs its
    // grayscale-JPEG twin (+1M) and its NN-resized color sibling
    // (+2M) at L1 = 0. Oracle: the q208 dc-formula replay — the
    // BT.601 reduction and the solved-g construction are correct iff
    // the hashes meet.
    sql("q216_color_crossformat_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150
        |  UNION ALL SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150),
        |f AS (SELECT id,
        |  [(128 + ((base*31 + (b % 4)*(7 + base % 31) + (b // 4)*(13 + base % 29) + (b % 4)*(b // 4)*(11 + base % 23)) % 201) - 100) * 1000
        |   FOR b IN range(16)] AS f
        |  FROM ids),
        |t AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t FROM f),
        |k AS (SELECT id, f, t,
        |        CAST(list_sum([CASE WHEN f[b+1] * 16 >= t THEN 1<<b ELSE 0 END
        |                       FOR b IN range(16)]) AS BIGINT) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(16)]) AS BIGINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      val jp = graft.operators.Multimodal.synthesizeJpeg(
        base.select(col("doc_id").as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(false).as("variant")),
        "id", "base", "scale", "variant")
      val pg = graft.operators.Multimodal.synthesizePngColor(
        base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 1000000L).as("id"),
            col("doc_id").as("base"), lit(1).as("scale")),
        "id", "base", "scale")
      val pg2 = graft.operators.Multimodal.synthesizePngColor(
        base.filter(col("doc_id") < 150)
          .select((col("doc_id") + 2000000L).as("id"),
            col("doc_id").as("base"), lit(2).as("scale")),
        "id", "base", "scale")
      graft.operators.Multimodal.imagePerceptualCandidates(
          jp.unionByName(pg).unionByName(pg2),
          grid = 4, maxBucketSize = 64, thrPermille = 10, bt601 = true)
        .orderBy("id1", "id2")
    },

    // THREE-format image near-dup (the GIF pixel tier, r15): the same
    // grayscale content as a PNG, a baseline JPEG, an LZW-coded GIF,
    // and an INTERLACED GIF — the classic crawl format mix in one
    // signature space. The GIF kernel is a full hand-rolled GIF-LZW
    // decoder (variable-width LSB-first codes, dictionary growth,
    // KwKwK, CLEAR resets, 4-pass interlace), and on a gray-ramp
    // palette both luma models pass the pixel through, so all four
    // arms of a base share EXACT block means and pair at L1 = 0. One
    // format-blind f formula replays all three decoders (q212's
    // oracle pattern extended): the LZW kernel is correct iff the
    // hashes meet.
    sql("q222_gif_crossformat_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150
        |  UNION ALL SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150
        |  UNION ALL SELECT doc_id + 3000000, doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 150),
        |f AS (SELECT id,
        |  [(128 + ((base*31 + (b % 4)*(7 + base % 31) + (b // 4)*(13 + base % 29) + (b % 4)*(b // 4)*(11 + base % 23)) % 201) - 100) * 1000
        |   FOR b IN range(16)] AS f
        |  FROM ids),
        |t AS (SELECT id, f, CAST(list_sum(f) AS BIGINT) AS t FROM f),
        |k AS (SELECT id, f, t,
        |        CAST(list_sum([CASE WHEN f[b+1] * 16 >= t THEN 1<<b ELSE 0 END
        |                       FOR b IN range(16)]) AS BIGINT) AS key
        |      FROM t WHERE t >= 1),
        |g AS (SELECT key FROM k GROUP BY key HAVING count(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN g USING (key)),
        |p AS (SELECT x.id AS id1, y.id AS id2,
        |        CAST(list_sum([abs(x.f[i+1] * y.t - y.f[i+1] * x.t) FOR i IN range(16)]) AS BIGINT) AS l1,
        |        x.t AS t1, y.t AS t2
        |      FROM kk x JOIN kk y ON x.key = y.key AND x.id < y.id)
        |SELECT id1, id2, l1 FROM p WHERE l1 * 1000 <= 10 * t1 * t2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      def arm(offset: Long, fmt: String) = {
        val src = if (offset == 0L) base else base.filter(col("doc_id") < 150)
        src.select((col("doc_id") + offset).as("id"), col("doc_id").as("base"),
          lit(1).as("scale"), lit(fmt).as("fmt"))
      }
      val ids = arm(0L, "png")
        .unionByName(arm(1000000L, "jpeg"))
        .unionByName(arm(2000000L, "gif"))
        .unionByName(arm(3000000L, "gif_i"))
      val media = graft.operators.Multimodal.synthesizeImageFormats(
        ids, "id", "base", "scale", "fmt")
      graft.operators.Multimodal.imagePerceptualCandidates(media,
          grid = 4, maxBucketSize = 64, thrPermille = 10)
        .orderBy("id1", "id2")
    },

    // Exact phrase search over the q137 planted corpus: a phrase
    // starts at p iff every k-th term has a position at p+k, so the
    // operator intersects k-shifted position lists — no self-joins,
    // query-postings-sized throughout. The oracle counts contiguous
    // 3-windows directly per document: an independent formulation of
    // the same truth, so the hash pins the positional algebra.
    sql("q164_phrase_search",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu ' || text
        |         WHEN doc_id % 11 = 0 THEN text || ' alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |o AS (SELECT doc_id, len([i FOR i IN range(0, len(toks) - 2)
        |        IF toks[i+1] = 'beta' AND toks[i+2] = 'gamma' AND toks[i+3] = 'delta']) AS n
        |      FROM t)
        |SELECT doc_id AS id, CAST(n AS BIGINT) AS n_occurrences
        |FROM o WHERE n > 0 ORDER BY id""".stripMargin) { (s, d) =>
      val planted =
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      val corpus = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit(planted + " "), col("text")))
          .when(col("doc_id") % 11 === 0, concat(col("text"), lit(" " + planted)))
          .otherwise(col("text")).as("text"))
      graft.operators.Search.phraseSearch(corpus, "doc_id", "text",
          Seq("beta", "gamma", "delta"))
        .orderBy("id")
    },

    // Tokenizer fertility by language: the q125 merges applied via
    // q129's vocab-basis encode, rolled up per language — subwords per
    // token and chars per subword in exact e6 (the "how efficient is
    // this tokenizer on each language" number that drives per-language
    // vocab sizing). Oracle: the shared BPE replay + the same rollup.
    sql("q167_tokenizer_fertility",
      bpeEncodeCore(8).stripSuffix(",\n") + "\n" +
      """, l AS (SELECT d.lang, COALESCE(a.n_tokens, 0) AS n_tokens,
        |         COALESCE(a.n_chars, 0) AS n_chars, COALESCE(a.n_subwords, 0) AS n_subwords
        |       FROM documents d LEFT JOIN agg a USING (doc_id))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  CAST(sum(n_subwords) AS BIGINT) AS subwords,
        |  CAST((sum(n_subwords) * 1000000) // sum(n_tokens) AS BIGINT) AS fertility_e6,
        |  CAST((sum(n_chars) * 1000000) // sum(n_subwords) AS BIGINT) AS chars_per_sub_e6
        |FROM l GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val merges = graft.operators.Bpe.trainMerges(docs, "text", nMerges = 8)
      graft.operators.Bpe.encodeStats(docs, "doc_id", "text", merges)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens"),
          sum("n_subwords").as("subwords"),
          expr("(sum(n_subwords) * 1000000) div sum(n_tokens)").as("fertility_e6"),
          expr("(sum(n_chars) * 1000000) div sum(n_subwords)").as("chars_per_sub_e6"))
        .orderBy("lang")
    }
  )
}
