package graft.engine

import org.apache.spark.sql.functions._

/** Round-9 batch two: the warehouse-maintenance and analytics tier —
  * the ops a 100 TB training-data platform runs BETWEEN ingest waves
  * to keep its tables clean, searchable, and audited.
  *
  *  - corpus hygiene: q137 alignment-free substring-span dedup (Lee
  *    2022 re-expressed), q151 its incremental store-backed form,
  *    q144 NCD compression-distance near-dup, q157 prefix-filtering
  *    exact-recall similarity join;
  *  - dimension/warehouse: q138 SCD2 versioning, q150 as-of joins,
  *    q141 blocked entity resolution, q146 Bloom-pruned joins,
  *    q153 declarative DQ expectations;
  *  - search: q140 inverted-index build + conjunctive probe, q143
  *    incremental index upsert;
  *  - monitoring: q142 mergeable quantile sketches, q149 scalar KS
  *    drift, q158 embedding-centroid drift, q139 compression-ratio
  *    gate;
  *  - mixing/tokenizing: q145 waterfilling, q152 loss-aware
  *    reweighting, q147 PMI collocations, q148 unigram-LM pruning;
  *  - event analytics: q154 strict funnels, q155 cohort retention,
  *    q156 touch attribution.
  *
  * Scale shapes live in each operator's Scaladoc; every query here
  * carries a DuckDB oracle that replays the operator's procedure
  * move-for-move (q139/q144 are planted-contract oracles — the
  * deflate measure has no SQL mirror).
  */
object WarehouseQueries {
  import QueryDef._
  import Tables._

  /** The shared q137 planted-duplicate corpus: one 12-token phrase at
    * the HEAD of every %7 document and at the TAIL of every %11
    * document — same token sequence at different offsets, which the
    * chunk-ALIGNED line dedup (q127) cannot see and the span dedup
    * must.
    */
  private val plantedPhrase =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

  /** The q148 oracle: unigram-LM vocab pruning unrolled as chained
    * CTEs — word basis, substring candidates with a count floor, then
    * `maxWordLen` greedy longest-match segmentation steps (each one a
    * LEFT JOIN per piece length, longest wins via COALESCE order — the
    * match at a position is tie-free because a candidate piece IS the
    * substring it matches), usage union, utility floor. The q125
    * unrolled-replay pattern applied to segmentation.
    */
  private def unigramOracle(minPieceCount: Long, minUtility: Long,
      maxPieceLen: Int, maxWordLen: Int): String = {
    val lens = maxPieceLen to 2 by -1
    val sb = new StringBuilder
    sb ++= s"""WITH tok AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word FROM documents),
w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY word HAVING length(word) <= $maxWordLen),
sub AS (${(2 to maxPieceLen).map(l =>
      s"SELECT unnest([substr(word, i + 1, $l) FOR i IN range(0, length(word) - $l + 1)]) AS piece, freq FROM w WHERE length(word) >= $l")
      .mkString(" UNION ALL ")}),
cand AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cp FROM sub GROUP BY piece HAVING sum(freq) >= $minPieceCount),
s0 AS (SELECT word, freq, 0 AS pos FROM w)"""
    for (n <- 1 to maxWordLen) {
      val joins = lens.map(l =>
        s"LEFT JOIN cand c$l ON length(c$l.piece) = $l AND substr(a.word, a.pos + 1, $l) = c$l.piece")
        .mkString(" ")
      val ps = lens.map(l => s"c$l.piece AS p$l").mkString(", ")
      val co = lens.map(l => s"p$l").mkString(", ")
      val adv = lens.map(l => s"WHEN p$l IS NOT NULL THEN $l").mkString(" ")
      sb ++= s""",
m$n AS (SELECT a.word, a.freq, a.pos, $ps
        FROM (SELECT * FROM s${n - 1} WHERE pos < length(word)) a $joins),
u$n AS (SELECT coalesce($co) AS piece, freq FROM m$n WHERE coalesce($co) IS NOT NULL),
s$n AS (SELECT word, freq, pos + CASE $adv ELSE 1 END AS pos FROM m$n)"""
    }
    sb ++= s""",
uu AS (${(1 to maxWordLen).map(n => s"SELECT piece, freq FROM u$n").mkString(" UNION ALL ")}),
ut AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS utility FROM uu GROUP BY piece HAVING sum(freq) >= $minUtility)
SELECT cand.piece AS piece, cp, utility FROM cand JOIN ut USING (piece) ORDER BY piece"""
    sb.toString
  }

  /** The q160 oracle: unigram-LM EM training unrolled as chained CTEs
    * — the q148 replay pattern upgraded from greedy matching to the
    * full Viterbi DP. Per round: integer micro-nat costs from the
    * previous counts (the q88 IEEE-ln convention), a FORWARD min-plus
    * DP unrolled per code-point position (each step one `least` over
    * the ≤`maxPieceLen` incoming edges), the per-word dp vector
    * gathered into a list, then a BACKWARD walk unrolled the same way
    * (largest step whose edge lies on a min path — the
    * ViterbiPiecesExpr tie-break), usage summed with word frequency,
    * add-one smoothing. DuckDB `least` ignores NULL operands exactly
    * like Spark's, which is what lets an out-of-vocab edge drop out of
    * the min without a CASE.
    */
  private def unigramEmOracle(minPieceCount: Long, maxPieceLen: Int,
      maxWordLen: Int, rounds: Int, keepTop: Option[Int] = None): String = {
    val P = maxPieceLen
    val unk = graft.operators.Unigram.UnkCostE6
    val sb = new StringBuilder
    sb ++= s"""WITH tok AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word FROM documents),
w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY word HAVING length(word) <= $maxWordLen),
sub AS (${(1 to P).map(l =>
      s"SELECT unnest([substr(word, i + 1, $l) FOR i IN range(0, length(word) - $l + 1)]) AS piece, freq FROM w WHERE length(word) >= $l")
      .mkString(" UNION ALL ")}),
v0 AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM sub GROUP BY piece
       HAVING length(piece) = 1 OR sum(freq) >= $minPieceCount),
esp AS MATERIALIZED (SELECT word, pos, l, substr(word, pos - l + 1, l) AS piece FROM (${(1 to P).map(l =>
      s"SELECT word, unnest(range($l, length(word) + 1)) AS pos, $l AS l FROM w WHERE length(word) >= $l")
      .mkString(" UNION ALL ")}))"""
    for (r <- 1 to rounds) {
      val ks = (1 to P).map(l =>
        s"min(CASE WHEN e.l = $l THEN c.cost END) AS k$l").mkString(", ")
      sb ++= s""",
t$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v${r - 1}),
c$r AS (SELECT piece, CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT) AS cost
        FROM v${r - 1} CROSS JOIN t$r),
ep$r AS MATERIALIZED (SELECT e.word, e.pos, $ks
         FROM esp e LEFT JOIN c$r c ON c.piece = e.piece GROUP BY e.word, e.pos),
d${r}_0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS c FROM w)"""
      for (i <- 1 to maxWordLen) {
        val edges = (s"p1.c + coalesce(e.k1, $unk)") +:
          (2 to math.min(P, i)).map(l => s"p$l.c + e.k$l")
        val joins = (1 to math.min(P, i)).map(l =>
          s"JOIN d${r}_${i - l} p$l ON p$l.word = a.word").mkString(" ")
        sb ++= s""",
d${r}_$i AS MATERIALIZED (SELECT a.word, least(${edges.mkString(", ")}) AS c
  FROM w a JOIN ep$r e ON e.word = a.word AND e.pos = $i $joins
  WHERE length(a.word) >= $i)"""
      }
      sb ++= s""",
dp$r AS MATERIALIZED (SELECT word, list(c ORDER BY pos) AS dl FROM (${(0 to maxWordLen).map(i =>
        s"SELECT word, $i AS pos, c FROM d${r}_$i").mkString(" UNION ALL ")}) GROUP BY word),
s${r}_0 AS MATERIALIZED (SELECT w.word, w.freq, dl, CAST(length(w.word) AS BIGINT) AS pos FROM w JOIN dp$r USING (word))"""
      for (k <- 1 to maxWordLen) {
        val cases = (P to 2 by -1).map(l =>
          s"WHEN b.pos >= $l AND e.k$l IS NOT NULL AND dl[b.pos - ${l - 1}] + e.k$l = dl[b.pos + 1] THEN $l")
          .mkString(" ")
        sb ++= s""",
m${r}_$k AS MATERIALIZED (SELECT b.word, b.freq, b.dl, b.pos, CASE $cases ELSE 1 END AS step
  FROM (SELECT * FROM s${r}_${k - 1} WHERE pos > 0) b
  JOIN ep$r e ON e.word = b.word AND e.pos = b.pos),
u${r}_$k AS (SELECT substr(word, pos - step + 1, step) AS piece, freq FROM m${r}_$k),
s${r}_$k AS MATERIALIZED (SELECT word, freq, dl, pos - step AS pos FROM m${r}_$k)"""
      }
      sb ++= s""",
uu$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS u FROM (${(1 to maxWordLen).map(k =>
        s"SELECT piece, freq FROM u${r}_$k").mkString(" UNION ALL ")}) GROUP BY piece)"""
      sb ++= (keepTop match {
        case None => s""",
v$r AS MATERIALIZED (SELECT v0.piece, CAST(coalesce(u, 0) + 1 AS BIGINT) AS cnt FROM v0 LEFT JOIN uu$r USING (piece))"""
        case Some(kTop) => s""",
w$r AS (SELECT v.piece, CAST(coalesce(u, 0) + 1 AS BIGINT) AS cnt
        FROM v${r - 1} v LEFT JOIN uu$r USING (piece)),
v$r AS MATERIALIZED (SELECT piece, cnt FROM (
  SELECT piece, cnt,
    row_number() OVER (PARTITION BY length(piece) = 1 ORDER BY cnt DESC, piece) AS rk
  FROM w$r) x WHERE length(piece) = 1 OR rk <= $kTop)"""
      })
    }
    sb ++= (keepTop match {
      case None => s"""
SELECT v0.piece AS piece, v0.cnt AS cp${(1 to rounds).map(r =>
        s", v$r.cnt AS u$r").mkString}
FROM v0 ${(1 to rounds).map(r => s"JOIN v$r USING (piece)").mkString(" ")}
ORDER BY piece"""
      case Some(_) => s"""
SELECT piece, cnt FROM v$rounds ORDER BY piece"""
    })
    sb.toString
  }

  /** The q137/q151/q185 planted corpus: the shared phrase at offset 0
    * in %7 docs and at the tail in %11 docs. */
  private def q185Corpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(lit(plantedPhrase + " "), col("text")))
        .when(col("doc_id") % 11 === 0, concat(col("text"), lit(" " + plantedPhrase)))
        .otherwise(col("text")).as("text"))

  val all: Seq[QueryDef] = Seq(

    // Cross-document substring-span dedup: every 8-token window
    // appearing in >= 2 distinct documents is flagged, and all tokens
    // covered by a flagged window are stripped corpus-wide. The
    // planted phrase sits at token offset 0 in %7 docs and at the
    // tail in %11 docs, so its windows share digests across
    // misaligned positions — the alignment-free property under test.
    // The oracle replays the gram/df/coverage/strip procedure.
    sql("q137_span_dedup_strip",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN '$plantedPhrase ' || text
        |         WHEN doc_id % 11 = 0 THEN text || ' $plantedPhrase'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks FROM corpus),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM t WHERE len(toks) >= 8),
        |gd AS (SELECT doc_id, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 8), ' ')) AS dg FROM g),
        |f AS (SELECT dg FROM (SELECT DISTINCT doc_id, dg FROM gd) GROUP BY dg HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, list(DISTINCT gd.pos + u.u) AS cv
        |        FROM gd JOIN f USING (dg), (SELECT unnest(range(8)) AS u) u
        |        GROUP BY doc_id),
        |kept AS (SELECT t.doc_id, toks,
        |           [toks[i + 1] FOR i IN range(len(toks))
        |            IF NOT list_contains(coalesce(cv, CAST([] AS BIGINT[])), i)] AS kp
        |         FROM t LEFT JOIN cov USING (doc_id))
        |SELECT doc_id, COALESCE(array_to_string(kp, ' '), '') AS cleaned,
        |  CAST(len(toks) - len(kp) AS BIGINT) AS n_removed
        |FROM kept ORDER BY doc_id""".stripMargin) { (s, d) =>
      val corpus = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit(plantedPhrase + " "), col("text")))
          .when(col("doc_id") % 11 === 0, concat(col("text"), lit(" " + plantedPhrase)))
          .otherwise(col("text")).as("text"))
      graft.operators.TextOps.spanDedupStrip(corpus, "doc_id", "text",
          k = 8, minDocs = 2)
        .orderBy("doc_id")
    },

    // Exact-boundary span dedup (r10 verdict item 6): min-match length
    // DECOUPLED from the gram size. 4-gram anchors, minMatch = 6:
    // planted shared spans of 5 tokens (minMatch − 1) must survive
    // INTACT even though their 4-windows are shared, while 6- and
    // 7-token spans strip with exact boundaries — the lengths that
    // straddle the threshold. Coverage runs shorter than minMatch are
    // un-flagged by a gaps-and-islands pass (run id = pos − per-doc
    // rank); the oracle replays anchors, df, coverage, the run filter,
    // and the strip.
    sql("q181_span_dedup_minmatch",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'qz1 qz2 qz3 qz4 qz5 qz6 ' || text
        |         WHEN doc_id % 7 = 3 THEN text || ' qz1 qz2 qz3 qz4 qz5 qz6'
        |         WHEN doc_id % 11 = 5 THEN 'qy1 qy2 qy3 qy4 qy5 qy6 qy7 ' || text
        |         WHEN doc_id % 11 = 8 THEN text || ' qy1 qy2 qy3 qy4 qy5 qy6 qy7'
        |         WHEN doc_id % 13 = 2 THEN 'qx1 qx2 qx3 qx4 qx5 ' || text
        |         WHEN doc_id % 13 = 6 THEN text || ' qx1 qx2 qx3 qx4 qx5'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 3)) AS pos, toks FROM t WHERE len(toks) >= 4),
        |gd AS (SELECT doc_id, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 4), ' ')) AS dg FROM g),
        |f AS (SELECT dg FROM (SELECT DISTINCT doc_id, dg FROM gd) GROUP BY dg HAVING count(*) >= 2),
        |cp AS (SELECT DISTINCT doc_id, gd.pos + u.u AS p
        |       FROM gd JOIN f USING (dg), (SELECT unnest(range(4)) AS u) u),
        |rn AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cp),
        |keep AS (SELECT doc_id, p FROM (
        |           SELECT doc_id, p, count(*) OVER (PARTITION BY doc_id, grp) AS len
        |           FROM rn) x WHERE len >= 6),
        |cov AS (SELECT doc_id, list(p) AS cv FROM keep GROUP BY doc_id),
        |kept AS (SELECT t.doc_id, toks,
        |           [toks[i + 1] FOR i IN range(len(toks))
        |            IF NOT list_contains(coalesce(cv, CAST([] AS BIGINT[])), i)] AS kp
        |         FROM t LEFT JOIN cov USING (doc_id))
        |SELECT doc_id, COALESCE(array_to_string(kp, ' '), '') AS cleaned,
        |  CAST(len(toks) - len(kp) AS BIGINT) AS n_removed
        |FROM kept ORDER BY doc_id""".stripMargin) { (s, d) =>
      val corpus = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("qz1 qz2 qz3 qz4 qz5 qz6 "), col("text")))
          .when(col("doc_id") % 7 === 3,
            concat(col("text"), lit(" qz1 qz2 qz3 qz4 qz5 qz6")))
          .when(col("doc_id") % 11 === 5,
            concat(lit("qy1 qy2 qy3 qy4 qy5 qy6 qy7 "), col("text")))
          .when(col("doc_id") % 11 === 8,
            concat(col("text"), lit(" qy1 qy2 qy3 qy4 qy5 qy6 qy7")))
          .when(col("doc_id") % 13 === 2,
            concat(lit("qx1 qx2 qx3 qx4 qx5 "), col("text")))
          .when(col("doc_id") % 13 === 6,
            concat(col("text"), lit(" qx1 qx2 qx3 qx4 qx5")))
          .otherwise(col("text")).as("text"))
      graft.operators.TextOps.spanDedupStrip(corpus, "doc_id", "text",
          k = 4, minDocs = 2, minMatch = 6)
        .orderBy("doc_id")
    },

    // SCD2 dimension maintenance: the customer dimension's tracked
    // attribute (market segment at load time, then each order's
    // priority as an observed change) collapses into validity-interval
    // versions — no-op observations suppressed, last version open.
    // Both engines run the identical window procedure, so the hash
    // compare pins the whole semantics: dedup, (ts, attr) tie order,
    // lag suppression, lead interval close.
    sql("q138_scd2_versions",
      """WITH obs AS (
        |  SELECT c_custkey AS key, TIMESTAMP '1990-01-01' AS ts, c_mktsegment AS attr FROM customer
        |  UNION SELECT o_custkey, o_orderdate, o_orderpriority FROM orders),
        |chg AS (SELECT key, ts, attr,
        |          lag(attr) OVER (PARTITION BY key ORDER BY ts, attr) AS prev
        |        FROM obs),
        |k AS (SELECT key, ts, attr FROM chg WHERE prev IS NULL OR prev <> attr),
        |v AS (SELECT key, attr, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY key ORDER BY ts, attr) AS valid_to
        |      FROM k)
        |SELECT key, attr, valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM v ORDER BY key, valid_from, attr""".stripMargin) { (s, d) =>
      val base = customer(s, d).select(col("c_custkey").as("key"),
        lit("1990-01-01").cast("timestamp").as("ts"),
        col("c_mktsegment").as("attr"))
      val changes = orders(s, d).select(col("o_custkey").as("key"),
        col("o_orderdate").as("ts"), col("o_orderpriority").as("attr"))
      graft.operators.Scd.scd2(base.unionByName(changes),
          keyCols = Seq("key"), tsCol = "ts", attrCols = Seq("attr"))
        .orderBy("key", "valid_from", "attr")
    },

    // Blocked fuzzy entity resolution: every even customer arrives
    // again as a "dirty" record whose name is deterministically
    // perturbed (append / truncate / transpose / unchanged by
    // custkey % 8); blocking on (nation, acctbal-bucket) bounds the
    // candidate pairs, Levenshtein <= 2 verifies, and (dist, clean_id)
    // picks one best match per dirty record. The oracle replays
    // blocking, the edit-distance gate, and the tie order.
    sql("q141_entity_link",
      """WITH cl AS (SELECT c_custkey AS clean_id, c_name AS cn, c_nationkey AS nk,
        |              CAST(floor(c_acctbal / 100) AS BIGINT) AS bb FROM customer),
        |dr AS (SELECT c_custkey + 1000000 AS dirty_id,
        |         CASE WHEN c_custkey % 8 = 0 THEN c_name || 'x'
        |              WHEN c_custkey % 8 = 2 THEN substr(c_name, 1, length(c_name) - 1)
        |              WHEN c_custkey % 8 = 4 THEN substr(c_name, 1, length(c_name) - 2)
        |                     || substr(c_name, length(c_name), 1)
        |                     || substr(c_name, length(c_name) - 1, 1)
        |              ELSE c_name END AS dn,
        |         c_nationkey AS nk, CAST(floor(c_acctbal / 100) AS BIGINT) AS bb
        |       FROM customer WHERE c_custkey % 2 = 0),
        |cand AS (SELECT dirty_id, clean_id, CAST(levenshtein(dn, cn) AS BIGINT) AS dist
        |         FROM dr JOIN cl USING (nk, bb)
        |         WHERE levenshtein(dn, cn) <= 2),
        |r AS (SELECT cand.*, row_number() OVER (PARTITION BY dirty_id ORDER BY dist, clean_id) AS rn
        |      FROM cand)
        |SELECT dirty_id, clean_id, dist FROM r WHERE rn = 1 ORDER BY dirty_id""".stripMargin) {
      (s, d) =>
        val withBlock = customer(s, d)
          .withColumn("nk", col("c_nationkey"))
          .withColumn("bb", floor(col("c_acctbal") / 100).cast("long"))
        val dirty = withBlock.filter(col("c_custkey") % 2 === 0)
          .select((col("c_custkey") + 1000000L).as("dirty_id"),
            when(col("c_custkey") % 8 === 0, concat(col("c_name"), lit("x")))
              .when(col("c_custkey") % 8 === 2,
                expr("substring(c_name, 1, length(c_name) - 1)"))
              .when(col("c_custkey") % 8 === 4,
                expr("concat(substring(c_name, 1, length(c_name) - 2), " +
                  "substring(c_name, length(c_name), 1), " +
                  "substring(c_name, length(c_name) - 1, 1))"))
              .otherwise(col("c_name")).as("dname"),
            col("nk"), col("bb"))
        val clean = withBlock.select(col("c_custkey").as("clean_id"),
          col("c_name").as("cname"), col("nk"), col("bb"))
        graft.operators.Linkage.blockedLink(
            dirty, "dirty_id", "dname", clean, "clean_id", "cname",
            blockCols = Seq("nk", "bb"), maxDist = 2)
          .orderBy("dirty_id")
    },

    // Mergeable quantile-histogram maintenance: order totals arrive as
    // 4 waves, each contributing a (bin, cnt) log-histogram sketch;
    // the folded store's p50/p90/p99 read-outs must carry the 1/16
    // relative-error bound vs the exact order statistics, and the
    // merged histogram must EQUAL the whole-corpus histogram (counts
    // add — the quantile counterpart of q133's HLL union law). The
    // binning is integer-exact, so the oracle replays the sketch AND
    // the quantile extraction bit-for-bit — a full hash oracle, not
    // just a contract oracle.
    sql("q142_quantile_sketch",
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |b AS (SELECT v, CAST(floor(log2(CAST(v AS DOUBLE))) AS BIGINT) AS msb FROM c),
        |h AS (SELECT msb * 16 + ((v >> CASE WHEN msb >= 4 THEN msb - 4 ELSE 0 END) & 15) AS bin,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM b GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q),
        |r AS (SELECT q, (q * n + 99) // 100 AS rk, n FROM qs, n),
        |cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cm FROM h),
        |sel AS (SELECT q, rk, n, min(bin) AS bin FROM r JOIN cum ON cm >= rk GROUP BY q, rk, n),
        |est AS (SELECT q, n AS n_total,
        |          CASE WHEN bin // 16 < 4 THEN bin % 16
        |               ELSE (bin % 16 + 16) * (CAST(1 AS BIGINT) << (bin // 16 - 4)) END AS est_cents
        |        FROM sel),
        |dv AS (SELECT v, count(*) AS c FROM c GROUP BY v),
        |dcum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cm FROM dv),
        |ex AS (SELECT q, min(v) AS exact_cents FROM r JOIN dcum ON dcum.cm >= r.rk GROUP BY q)
        |SELECT q, n_total, est_cents, exact_cents, TRUE AS merge_consistent,
        |  (est_cents <= exact_cents AND exact_cents * 16 <= est_cents * 17) AS within_bound
        |FROM est JOIN ex USING (q) ORDER BY q""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val P = graft.operators.Profiling
      val cents = orders(s, d)
        .select(floor(col("o_totalprice") * 100).cast("long").as("v"))
      // four independent wave scans, folded by adding counts per bin
      val waves = (0 until 4).map(i =>
        P.histSketch(cents.filter(pmod(col("v"), lit(4)) === i), col("v")))
      val merged = P.mergeHists(waves)
      val whole = P.histSketch(cents, col("v"))
      val consistent = merged
        .join(whole.withColumnRenamed("cnt", "cnt2"), Seq("bin"), "full")
        .select((coalesce(col("cnt"), lit(-1L)) =!=
          coalesce(col("cnt2"), lit(-1L))).cast("int").as("bad"))
        .agg((sum("bad") === 0).as("merge_consistent"))
      val est = P.histQuantiles(merged, Seq(50, 90, 99))
      val ranks = cents.agg(count(lit(1)).as("n"))
        .select(explode(lit(Array(50, 90, 99))).as("q"), col("n"))
        .select(col("q").cast("long").as("q"), expr("(q * n + 99) div 100").as("rk"))
      // exact arm via the banded two-level prefix (the rankVocab /
      // packCounts shape): totalprice cents are near-unique, so a bare
      // Window.orderBy(v) would run ~|orders| distinct values through
      // ONE task. floor(log2(v)) is monotone in v, so band-ascending
      // refines the value order: the cross-band count offset is a
      // window over ≤64 band rows, and the value-level cumsum is
      // PARTITIONED by band — same cm, no corpus-sized single task.
      val dv = cents.groupBy("v").agg(count(lit(1)).as("c"))
        .withColumn("band", when(col("v") > 0L,
          floor(log2(col("v").cast("double"))).cast("long")).otherwise(-1L))
      val wb = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = dv.groupBy("band").agg(sum("c").as("bc"))
        .withColumn("cnt_off", coalesce(sum("bc").over(wb), lit(0L)))
        .select("band", "cnt_off")
      val wv = Window.partitionBy("band").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dcum = dv.join(broadcast(offsets), "band")
        .withColumn("cm", sum("c").over(wv) + col("cnt_off"))
      val exact = ranks.join(dcum, col("cm") >= col("rk"))
        .groupBy("q").agg(min("v").as("exact_cents"))
      est.join(exact, "q").crossJoin(consistent)
        .select(col("q"), col("n_total"), col("est_cents"), col("exact_cents"),
          col("merge_consistent"),
          (col("est_cents") <= col("exact_cents") &&
            col("exact_cents") * 16 <= col("est_cents") * 17).as("within_bound"))
        .orderBy("q")
    },

    // Compression-ratio quality gate: DEFLATE ratio as an entropy
    // proxy. DuckDB has no deflate-length function, so this is a
    // CONTRACT oracle (the q44/q65 pattern): planted repetitive docs
    // (one token repeated 60x) must compress strictly below EVERY
    // natural document (separation_ok), and all ratios must sit in
    // (0, 1.05] with at least one output byte (bounds_ok) — the
    // oracle asserts the class counts exactly and the booleans TRUE.
    sql("q139_compression_gate",
      """SELECT 'natural' AS grp, CAST(count(*) AS BIGINT) AS n_docs,
        |       TRUE AS separation_ok, TRUE AS bounds_ok
        |FROM documents WHERE length(text) > 0
        |UNION ALL
        |SELECT 'repetitive', CAST(count(*) AS BIGINT), TRUE, TRUE
        |FROM documents WHERE doc_id < 50
        |ORDER BY grp""".stripMargin) { (s, d) =>
      val T = graft.operators.TextOps
      val docs = documents(s, d)
      val nat = T.compressionStats(
          docs.filter(length(col("text")) > 0).select("doc_id", "text"),
          "doc_id", "text")
        .withColumn("grp", lit("natural"))
      val rep = T.compressionStats(
          docs.filter(col("doc_id") < 50)
            .select(col("doc_id"), expr("repeat('spam ', 60)").as("text")),
          "doc_id", "text")
        .withColumn("grp", lit("repetitive"))
      val all = nat.unionByName(rep)
        .withColumn("ratio", col("deflate_bytes").cast("double") / col("raw_bytes"))
      val sep = all.agg(
        max(when(col("grp") === "repetitive", col("ratio"))).as("repmax"),
        min(when(col("grp") === "natural", col("ratio"))).as("natmin"))
      all.groupBy("grp")
        .agg(count(lit(1)).as("n_docs"), min("ratio").as("mn"),
          max("ratio").as("mx"), min("deflate_bytes").as("mind"))
        .crossJoin(broadcast(sep))
        .select(col("grp"), col("n_docs"),
          (col("repmax") < col("natmin")).as("separation_ok"),
          (col("mn") > 0 && col("mx") <= 1.05 && col("mind") >= 1).as("bounds_ok"))
        .orderBy("grp")
    },

    // Inverted-index conjunctive search: posting lists (term, id, tf)
    // built once, then an AND query over three terms — coverage test
    // by posting count, score by summed tf. The oracle replays
    // tokenize/postings/filter/having directly.
    sql("q140_inverted_search",
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |p AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
        |q AS (SELECT doc_id, count(*) AS n, CAST(sum(tf) AS BIGINT) AS score
        |      FROM p WHERE tok IN ('join', 'hash', 'vector') GROUP BY doc_id)
        |SELECT doc_id AS id, score FROM q WHERE n = 3 ORDER BY id""".stripMargin) {
      (s, d) =>
        val postings = graft.operators.Search.buildPostings(
          documents(s, d), "doc_id", "text")
        graft.operators.Search.conjunctive(postings, Seq("join", "hash", "vector"))
          .orderBy("id")
    },

    // Incremental inverted-index maintenance: every %10 document is
    // UPDATED (two new tokens appended) and 30 new documents insert;
    // upsertPostings must drop the stale postings of updated ids and
    // land the fresh ones — pinned by replaying the index build over
    // the post-update corpus and comparing the full per-term (df,
    // total_tf) catalog.
    sql("q143_index_upsert",
      """WITH eff AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT doc_id, text || ' zulu99 yankee88' FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 30),
        |t AS (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term FROM eff),
        |p AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY term, doc_id)
        |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
        |FROM p GROUP BY term ORDER BY term""".stripMargin) { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" zulu99 yankee88")).as("text"))
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val index = graft.operators.Search.buildPostings(docs, "doc_id", "text")
      graft.operators.Search.upsertPostings(index, delta, "doc_id", "text")
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
        .orderBy("term")
    },

    // SQL DOOR phase 2 (r12 verdict item 2): the dedup/search/ranking
    // artifact probes run from PURE SQL TEXT — a digest-store
    // incremental exact-dedup probe (the q98 flow), a conjunctive
    // inverted-index search, and BM25 over a saved postings +
    // doc-length pair — and must hash-match the full DuckDB replay.
    // The TVFs return the Scala surface's exact logical plans: the
    // dedup store side stays bucket-sorted with no exchange, the
    // postings term filter reaches the scan (both spec-pinned FROM
    // SQL in QueryCliSpec). Delta plant: odd docs are novel, every
    // %10==0 catalog doc is re-offered under a new id (dropped
    // against the store), and every odd %9==1 doc arrives twice
    // (min-id keeper wins).
    sqlWithSetup("q201_sql_door_curation",
      """WITH cat AS (SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 2 = 0),
        |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 2 = 1 AND doc_id % 9 = 1),
        |dd AS (SELECT doc_id, md5(text) AS dg FROM delta),
        |keep AS (SELECT dg, min(doc_id) AS kid FROM dd GROUP BY dg),
        |ded AS (SELECT d.doc_id AS id FROM dd d JOIN keep k ON d.doc_id = k.kid
        |        WHERE d.dg NOT IN (SELECT dg FROM cat)),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |p AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
        |srch AS (SELECT doc_id AS id, CAST(sum(tf) AS BIGINT) AS score
        |         FROM p WHERE tok IN ('join', 'hash', 'vector') GROUP BY doc_id
        |         HAVING count(*) = 3),
        |s2 AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
        |        CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf1,
        |        CAST(len(list_filter(toks, x -> x = 'query')) AS DOUBLE) AS tf2,
        |        CAST(len(list_filter(toks, x -> x = 'stream')) AS DOUBLE) AS tf3 FROM t),
        |g2 AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |        CAST(sum(CASE WHEN tf1>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |        CAST(sum(CASE WHEN tf2>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
        |        CAST(sum(CASE WHEN tf3>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3 FROM s2),
        |bm AS (SELECT doc_id AS id,
        | CAST(floor((
        |   CASE WHEN tf1>0 THEN ln(1.0+(n-df1+0.5)/(df1+0.5)) * tf1*2.2/(tf1 + 1.2*(0.25+0.75*dl/avgdl)) ELSE 0.0 END +
        |   CASE WHEN tf2>0 THEN ln(1.0+(n-df2+0.5)/(df2+0.5)) * tf2*2.2/(tf2 + 1.2*(0.25+0.75*dl/avgdl)) ELSE 0.0 END +
        |   CASE WHEN tf3>0 THEN ln(1.0+(n-df3+0.5)/(df3+0.5)) * tf3*2.2/(tf3 + 1.2*(0.25+0.75*dl/avgdl)) ELSE 0.0 END
        | ) * 10000.0) AS BIGINT) AS val
        | FROM s2 CROSS JOIN g2 WHERE tf1>0 OR tf2>0 OR tf3>0)
        |SELECT src, id, val FROM (
        |  SELECT 'dedup' AS src, id, CAST(0 AS BIGINT) AS val FROM ded
        |  UNION ALL SELECT 'search', id, score FROM srch
        |  UNION ALL SELECT 'bm25', id, val FROM bm)
        |ORDER BY src, id""".stripMargin) { (s, d) =>
      import graft.operators.{Dedup, Search, Stores, TextOps}
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      Stores.dropStoreTable(s, "graft_q201_digests")
      Dedup.writeDigestStore(docs.filter(col("doc_id") % 2 === 0), "text",
        "graft_q201_digests", buckets = 8)
      docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 2 === 1 &&
            col("doc_id") % 9 === 1)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
        .createOrReplaceTempView("graft_q201_delta")
      Stores.dropStoreTable(s, "graft_q201_postings")
      Search.writePostingsStore(Search.buildPostings(docs, "doc_id", "text"),
        "graft_q201_postings",
        s.conf.get("spark.sql.warehouse.dir") + "/graft_q201_postings",
        buckets = 8)
      Stores.dropStoreTable(s, "graft_q201_doclens")
      TextOps.docLengths(docs, "doc_id", "text")
        .write.mode("overwrite").saveAsTable("graft_q201_doclens")
    } { (s, d) =>
      graft.cli.QueryCommand.run(s,
        """SELECT src, id, val FROM (
          |  SELECT 'dedup' AS src, doc_id AS id, CAST(0 AS BIGINT) AS val
          |  FROM graft_dedup_delta('graft_q201_digests', 'graft_q201_delta', 'doc_id', 'text')
          |  UNION ALL
          |  SELECT 'search' AS src, id, score AS val
          |  FROM graft_search_conjunctive('graft_q201_postings', 'join hash vector')
          |  UNION ALL
          |  SELECT 'bm25' AS src, id, CAST(floor(score * 10000.0) AS BIGINT) AS val
          |  FROM graft_bm25('graft_q201_postings', 'graft_q201_doclens', 'table query stream')
          |) ORDER BY src, id""".stripMargin, dataDir = Some(d))
    },

    // NCD near-dup verify: 50 planted near-copies (text + ' x') must
    // ALL surface as (id, id+1000000) pairs with normalized
    // compression distance <= 0.4 — compression-based similarity over
    // the LSH candidate tier. The deflate measure has no SQL replay,
    // so the oracle is the planted-recall contract (q44/q65 pattern).
    sql("q144_ncd_neardup",
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |       CAST(count(*) AS BIGINT) AS n_found,
        |       TRUE AS recall_ok, TRUE AS ncd_bounds_ok
        |FROM documents WHERE doc_id < 50""".stripMargin) { (s, d) =>
      val base = documents(s, d).select("doc_id", "text")
      val planted = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" x")).as("text"))
      val pairs = graft.operators.Dedup.ncdVerifiedPairs(
        base.unionByName(planted), "doc_id", "text", maxNcdE3 = 400L)
      val nPlanted = base.filter(col("doc_id") < 50)
        .agg(count(lit(1)).as("n_planted"))
      // ONE aggregate consumes the pair tier (r15): the planted-pair
      // count and the bounds flag fold in the same pass, so the
      // minhash + per-pair deflate pipeline — previously duplicated
      // under the two aggregate subtrees — runs once.
      val stats = pairs.agg(
        count(when(col("id2") === col("id1") + 1000000L && col("id1") < 50,
          lit(1))).as("n_found"),
        coalesce(min("ncd_e3") >= 0 && max("ncd_e3") <= 400,
          lit(false)).as("ncd_bounds_ok"))
      nPlanted.crossJoin(stats)
        .select(col("n_planted"), col("n_found"),
          (col("n_planted") === col("n_found")).as("recall_ok"),
          col("ncd_bounds_ok"))
    },

    // Waterfilling budget allocation: 300-doc budget across sources —
    // max-min fair, exact integer level + remainder, Σ alloc = budget.
    // Full replay oracle (both engines run the identical closed-form
    // sorted-prefix procedure).
    sql("q145_waterfill",
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY source),
        |o AS (SELECT source, c, CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS i,
        |        sum(c) OVER (ORDER BY c, source ROWS UNBOUNDED PRECEDING) AS p FROM s),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(c) AS BIGINT) AS t FROM o),
        |jj AS (SELECT coalesce(max(i), 0) AS j FROM o, tot WHERE p + (k - i) * c <= 300),
        |pj AS (SELECT j, CAST(coalesce((SELECT p FROM o WHERE i = j), 0) AS BIGINT) AS pjv FROM jj),
        |lvl AS (SELECT j, k, t,
        |          CASE WHEN k > j THEN (300 - pjv) // (k - j) END AS lev,
        |          CASE WHEN k > j THEN (300 - pjv) % (k - j) END AS r
        |        FROM pj, tot)
        |SELECT source, c AS n_docs,
        |  CAST(CASE WHEN t <= 300 THEN c WHEN i <= j THEN c
        |       ELSE lev + (CASE WHEN i - j <= r THEN 1 ELSE 0 END) END AS BIGINT) AS alloc
        |FROM o, lvl ORDER BY source""".stripMargin) { (s, d) =>
      val counts = documents(s, d).groupBy("source").agg(count(lit(1)).as("c"))
      graft.operators.Mixing.waterfill(counts, "source", "c", budget = 300L)
        .orderBy("source")
    },

    // Bloom-pruned fact-dim join: a selective orders dim prunes the
    // lineitem fact BEFORE the shuffle via a driver-built Bloom
    // filter; the exact join then drops false positives, so the
    // result — and the oracle — is simply the plain join. Revenue in
    // integer e4 units keeps the double-summation order out of the
    // hash compare.
    sql("q146_bloom_join",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val dim = orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000)
        .select("o_orderkey")
      val fact = lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_returnflag"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - floor(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      graft.operators.Salting.bloomPrunedJoin(fact, dim, "o_orderkey")
        .groupBy("l_returnflag")
        .agg(sum("rev_e4").as("revenue_e4"), count(lit(1)).as("n_items"))
        .orderBy("l_returnflag")
    },

    // PMI collocation mining: top-32 adjacent-token pairs by
    // pointwise mutual information with a count-5 floor — micro-nat
    // floored scores (the q88/q135 convention), replayed bit-for-bit.
    sql("q147_pmi_collocations",
      """WITH t AS (SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |bi AS (SELECT unnest([{'l': toks[i], 'r': toks[i+1]} FOR i IN range(1, len(toks))]) AS p FROM t WHERE len(toks) >= 2),
        |b AS (SELECT p.l AS l, p.r AS r FROM bi),
        |bc AS (SELECT l, r, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY l, r),
        |cl AS (SELECT l, CAST(sum(cb) AS BIGINT) AS cl FROM bc GROUP BY l),
        |cr AS (SELECT r, CAST(sum(cb) AS BIGINT) AS cr FROM bc GROUP BY r),
        |n AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM bc),
        |s AS (SELECT bc.l, bc.r, cb,
        |        CAST(floor(ln(CAST(cb AS DOUBLE) * n / (CAST(cl AS DOUBLE) * cr)) * 1000000.0) AS BIGINT) AS pmi_e6
        |      FROM bc JOIN cl USING (l) JOIN cr USING (r) CROSS JOIN n
        |      WHERE cb >= 5)
        |SELECT l, r, cb, pmi_e6 FROM s
        |ORDER BY pmi_e6 DESC, l, r LIMIT 32""".stripMargin) { (s, d) =>
      graft.operators.TextOps.pmiCollocations(documents(s, d), "text",
        minCount = 5L, k = 32)
    },

    // Unigram-LM vocabulary pruning: substring candidates with a
    // count-300 floor, greedy longest-match segmentation of the word
    // basis, utility-300 prune — tokenizer training's OTHER family
    // (start-big-and-prune), replayed end-to-end by the unrolled
    // oracle above.
    sql("q148_unigram_prune", unigramOracle(300L, 300L, 4, 16)) { (s, d) =>
      graft.operators.Unigram.pruneVocab(documents(s, d), "text",
          minPieceCount = 300L, minUtility = 300L,
          maxPieceLen = 4, maxWordLen = 16)
        .orderBy("piece")
    },

    // Two-sample KS drift gate: snapshots alternate by doc-id block
    // (ids are assigned round-robin by source, so a plain parity
    // split would leave every source single-snapshot); src3's B-side
    // lengths shift +1000 — fully disjoint ranges, D = 1 — and the
    // gate is D > 0.6, above the worst small-sample ECDF noise a
    // 12-vs-13 split can produce (~0.52 here) at ANY scale factor. The oracle replays the conditional counts,
    // the per-source cumulative ECDFs, and the integer max-gap.
    sql("q149_ks_drift",
      """WITH s AS (SELECT source, (doc_id // 20) % 2 AS snap,
        |             CASE WHEN source = 'src3' AND (doc_id // 20) % 2 = 1
        |                  THEN n_chars + 1000 ELSE n_chars END AS v
        |           FROM documents),
        |c AS (SELECT source, v,
        |        CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |      FROM s GROUP BY source, v),
        |cum AS (SELECT source, v, c1, c2,
        |          sum(c1) OVER (PARTITION BY source ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
        |          sum(c2) OVER (PARTITION BY source ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
        |        FROM c),
        |t AS (SELECT source, CAST(sum(c1) AS BIGINT) AS n_a, CAST(sum(c2) AS BIGINT) AS n_b FROM c GROUP BY source)
        |SELECT cum.source, n_a, n_b,
        |  CAST(max(abs(cum1 * n_b - cum2 * n_a)) AS BIGINT) AS d_num,
        |  CAST(max(abs(cum1 * n_b - cum2 * n_a)) AS BIGINT) * 10 > n_a * n_b * 6 AS drifted
        |FROM cum JOIN t USING (source)
        |GROUP BY cum.source, n_a, n_b ORDER BY source""".stripMargin) { (s, d) =>
      val snaps = documents(s, d).select(col("source"),
        expr("(doc_id div 20) % 2").as("snap"),
        when(col("source") === "src3" && expr("(doc_id div 20) % 2") === 1,
          col("n_chars") + 1000).otherwise(col("n_chars")).as("v"))
      graft.operators.Profiling.ksDrift(snaps, "source", "snap", "v",
          driftTenths = 6)
        .orderBy("source")
    },

    // As-of dimension join: every order joins the SCD2 customer
    // version (the q138 chain) in effect AT its order date —
    // from-inclusive interval containment, so an order matches the
    // version its own observation opened. The interval predicate
    // filters inside version-bounded key groups; the oracle replays
    // the chain and the containment join.
    sql("q150_asof_dimension",
      """WITH obs AS (
        |  SELECT c_custkey AS key, TIMESTAMP '1990-01-01' AS ts, c_mktsegment AS attr FROM customer
        |  UNION SELECT o_custkey, o_orderdate, o_orderpriority FROM orders),
        |chg AS (SELECT key, ts, attr,
        |          lag(attr) OVER (PARTITION BY key ORDER BY ts, attr) AS prev
        |        FROM obs),
        |k AS (SELECT key, ts, attr FROM chg WHERE prev IS NULL OR prev <> attr),
        |v AS (SELECT key, attr, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY key ORDER BY ts, attr) AS valid_to
        |      FROM k)
        |SELECT v.attr, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o JOIN v ON o.o_custkey = v.key
        |  AND o.o_orderdate >= v.valid_from
        |  AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
        |GROUP BY v.attr ORDER BY v.attr""".stripMargin) { (s, d) =>
      val base = customer(s, d).select(col("c_custkey").as("key"),
        lit("1990-01-01").cast("timestamp").as("ts"),
        col("c_mktsegment").as("attr"))
      val changes = orders(s, d).select(col("o_custkey").as("key"),
        col("o_orderdate").as("ts"), col("o_orderpriority").as("attr"))
      val dim = graft.operators.Scd.scd2(base.unionByName(changes),
        keyCols = Seq("key"), tsCol = "ts", attrCols = Seq("attr"))
      val facts = orders(s, d).select(col("o_custkey").as("key"),
        col("o_orderdate").as("fts"))
      graft.operators.Scd.asOfVersion(facts, dim, Seq("key"), "fts")
        .filter(col("attr").isNotNull)
        .groupBy("attr").agg(count(lit(1)).as("n_orders"))
        .orderBy("attr")
    },

    // Incremental substring-span dedup: the q137 planted corpus splits
    // into catalog (2/3) and delta (1/3); the delta strips against the
    // catalog's (dg, df) store WITHOUT touching catalog text, and the
    // oracle replays the FULL recompute over catalog ∪ delta
    // restricted to delta ids — the store-additivity equivalence
    // (disjoint id sets ⇒ distinct-doc counts add) is the contract.
    sql("q151_incremental_span_dedup",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN '$plantedPhrase ' || text
        |         WHEN doc_id % 11 = 0 THEN text || ' $plantedPhrase'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks FROM corpus),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM t WHERE len(toks) >= 8),
        |gd AS (SELECT doc_id, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 8), ' ')) AS dg FROM g),
        |f AS (SELECT dg FROM (SELECT DISTINCT doc_id, dg FROM gd) GROUP BY dg HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, list(DISTINCT gd.pos + u.u) AS cv
        |        FROM gd JOIN f USING (dg), (SELECT unnest(range(8)) AS u) u
        |        WHERE gd.doc_id % 3 = 0
        |        GROUP BY doc_id),
        |kept AS (SELECT t.doc_id, toks,
        |           [toks[i + 1] FOR i IN range(len(toks))
        |            IF NOT list_contains(coalesce(cv, CAST([] AS BIGINT[])), i)] AS kp
        |         FROM t LEFT JOIN cov USING (doc_id)
        |         WHERE t.doc_id % 3 = 0)
        |SELECT doc_id, COALESCE(array_to_string(kp, ' '), '') AS cleaned,
        |  CAST(len(toks) - len(kp) AS BIGINT) AS n_removed
        |FROM kept ORDER BY doc_id""".stripMargin) { (s, d) =>
      val corpus = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit(plantedPhrase + " "), col("text")))
          .when(col("doc_id") % 11 === 0, concat(col("text"), lit(" " + plantedPhrase)))
          .otherwise(col("text")).as("text"))
      val catalog = corpus.filter(col("doc_id") % 3 =!= 0)
      val delta = corpus.filter(col("doc_id") % 3 === 0)
      val store = graft.operators.TextOps.gramDf(catalog, "doc_id", "text", k = 8)
      graft.operators.TextOps.incrementalSpanDedupStrip(store, delta,
          "doc_id", "text", k = 8, minDocs = 2)
        .orderBy("doc_id")
    },

    // Loss-aware domain reweighting (the DoReMi skeleton): each
    // source scores its average per-bigram surprisal under the
    // corpus bigram LM (the q135 machinery), and a 1M-token budget
    // splits proportionally — exact-integer weights, remainder to the
    // highest scorers, Σ alloc = budget. The oracle chains the full
    // LM replay into the reweight arithmetic.
    sql("q152_domain_reweight",
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |bi AS (SELECT doc_id, unnest([{'l': toks[i], 'r': toks[i+1]} FOR i IN range(1, len(toks))]) AS p FROM t),
        |b AS (SELECT doc_id, p.l AS l, p.r AS r FROM bi),
        |bc AS (SELECT l, r, CAST(count(*) AS DOUBLE) AS cb FROM b GROUP BY l, r),
        |cc AS (SELECT l, CAST(sum(cb) AS DOUBLE) AS cl FROM bc GROUP BY l),
        |v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM (SELECT unnest(toks) AS token FROM t)),
        |w AS (SELECT bc.l, bc.r,
        |        CAST(floor(-ln((cb + 0.5) / (cl + 0.5 * v.v)) * 1000000.0) AS BIGINT) AS s_e6
        |      FROM bc JOIN cc USING (l) CROSS JOIN v),
        |agg AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS nb,
        |          CAST(sum(w.s_e6) AS BIGINT) AS nll
        |        FROM b JOIN w USING (l, r) GROUP BY b.doc_id),
        |ds AS (SELECT d.source, CAST(sum(a.nll) AS BIGINT) AS nll, CAST(sum(a.nb) AS BIGINT) AS nb
        |       FROM documents d JOIN agg a USING (doc_id) GROUP BY d.source),
        |sc AS (SELECT source, nll // nb AS score FROM ds WHERE nb > 0),
        |tot AS (SELECT CAST(sum(score) AS BIGINT) AS t FROM sc),
        |rk AS (SELECT source, score,
        |         CAST(row_number() OVER (ORDER BY score DESC, source) AS BIGINT) AS i,
        |         CASE WHEN t > 0 THEN (1000000 * score) // t END AS base,
        |         CASE WHEN t > 0 THEN (score * 1000000) // t END AS w6
        |       FROM sc, tot),
        |rm AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS r FROM rk)
        |SELECT source, CAST(score AS BIGINT) AS score, CAST(w6 AS BIGINT) AS weight_e6,
        |  CAST(base + (CASE WHEN i <= r THEN 1 ELSE 0 END) AS BIGINT) AS alloc
        |FROM rk, rm ORDER BY source""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val sur = graft.operators.TextOps.bigramSurprisal(docs, "doc_id", "text")
      val scores = docs.select("doc_id", "source").join(sur, "doc_id")
        .groupBy("source")
        .agg(sum("nll_e6").as("nll"), sum("n_bigrams").as("nb"))
        .filter(col("nb") > 0)
        .select(col("source"), expr("nll div nb").as("score"))
      graft.operators.Mixing.scoreReweight(scores, "source", "score",
          budget = 1000000L)
        .orderBy("source")
    },

    // Declarative data-quality expectations: six rules over orders in
    // ONE aggregate pass — completeness, uniqueness (o_custkey
    // honestly FAILS with its duplicate surplus), and value bounds
    // (the tight price bound honestly fails too). The oracle computes
    // the identical conditional aggregates.
    sql("q153_expectations",
      """WITH m AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS dk,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS dc,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |  CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND
        |    (CAST(floor(o_totalprice) AS BIGINT) < 0 OR CAST(floor(o_totalprice) AS BIGINT) > 1000000)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND
        |    (CAST(floor(o_totalprice) AS BIGINT) < 0 OR CAST(floor(o_totalprice) AS BIGINT) > 100000)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM orders),
        |rows_ AS (
        |  SELECT 'between' AS rule, 'o_totalprice_floor' AS "column", v1 AS metric FROM m
        |  UNION ALL SELECT 'between', 'o_totalprice_floor', v2 FROM m
        |  UNION ALL SELECT 'complete', 'o_orderkey', nk FROM m
        |  UNION ALL SELECT 'complete', 'o_orderpriority', np FROM m
        |  UNION ALL SELECT 'unique', 'o_custkey',
        |    n - dc - (CASE WHEN nc > 0 THEN 1 ELSE 0 END) FROM m
        |  UNION ALL SELECT 'unique', 'o_orderkey',
        |    n - dk - (CASE WHEN nk > 0 THEN 1 ELSE 0 END) FROM m)
        |SELECT rule, "column", metric, metric = 0 AS pass
        |FROM rows_ ORDER BY rule, "column", metric""".stripMargin) { (s, d) =>
      import graft.operators.Profiling.Expectation
      val o = orders(s, d)
        .withColumn("o_totalprice_floor", floor(col("o_totalprice")).cast("long"))
      graft.operators.Profiling.expectations(o, Seq(
        Expectation("complete", "o_orderkey"),
        Expectation("complete", "o_orderpriority"),
        Expectation("unique", "o_orderkey"),
        Expectation("unique", "o_custkey"),
        Expectation("between", "o_totalprice_floor", lo = 0L, hi = 1000000L),
        Expectation("between", "o_totalprice_floor", lo = 0L, hi = 100000L)))
    },

    // Strict-sequence funnel: view → click-after-view →
    // purchase-after-that-click, per user; stage counts only events
    // strictly after the previous stage's completion. The oracle
    // replays the chained min-after aggregates.
    sql("q154_funnel",
      """WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
        |u2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN u1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY e.user_id),
        |u3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN u2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
        |       CAST((SELECT count(*) FROM u1) AS BIGINT) AS n_entities
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM u2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM u3)
        |ORDER BY stage_idx""".stripMargin) { (s, d) =>
      val stages = Seq("view", "click", "purchase")
      val f = graft.operators.Funnels.funnel(events(s, d), "user_id",
        "event_type", "ts", stages)
      val counts = f.agg(
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("__n1"),
        sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("__n2"),
        sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("__n3"))
      counts.select(explode(array(stages.zipWithIndex.map { case (st, i) =>
          struct(lit(i + 1L).as("stage_idx"), lit(st).as("stage"),
            coalesce(col(s"__n${i + 1}"), lit(0L)).as("n_entities"))
        }: _*)).as("__r"))
        .select(col("__r.stage_idx"), col("__r.stage"), col("__r.n_entities"))
        .orderBy("stage_idx")
    },

    // Cohort retention matrix: cohort = first-activity epoch-week,
    // cells count distinct active users per weeks-since — exact
    // integer week bucketing (no calendar-week engine quirks).
    sql("q155_cohort_retention",
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
        |f AS (SELECT user_id, min(s) AS f FROM e GROUP BY user_id)
        |SELECT f.f // 604800 AS cohort_w, (e.s - f.f) // 604800 AS week_n,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, d) =>
        graft.operators.Funnels.cohortRetention(events(s, d), "user_id", "ts")
          .orderBy("cohort_w", "week_n")
    },

    // First-/last-touch attribution: every purchase credits the first
    // and the most recent preceding view/click in the user's stream —
    // one window, no joins; the oracle runs the identical
    // ignore-nulls frame.
    sql("q156_touch_attribution",
      """SELECT user_id, ts, first_touch, last_touch FROM (
        |  SELECT user_id, ts, event_type,
        |    first_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY user_id, ts""".stripMargin) { (s, d) =>
      graft.operators.Funnels.touchAttribution(events(s, d), "user_id",
          "event_type", "ts", "event_id",
          touchTypes = Seq("view", "click"), conversionType = "purchase")
        .orderBy("user_id", "ts")
    },

    // Prefix-filtering set-similarity join (AllPairs/PPJoin family):
    // EXACT Jaccard >= 0.9 pairs with recall 1 by construction —
    // only each set's rarest-token prefix enters the candidate join.
    // 30 planted near-copies plus any organic pairs, over a 1/5
    // corpus slice: this synthetic corpus draws every document from
    // ONE ~45-token vocabulary, so organic J >= 0.9 pairs are
    // corpus-quadratic by construction — the degenerate case the
    // algorithm's rare-prefix premise is explicitly not built for
    // (real vocabularies are corpus-sized). The oracle replays the
    // df order, the prefix arithmetic, and the integer verify gate.
    sql("q157_prefix_join",
      """WITH m AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, text || ' x' FROM documents WHERE doc_id < 30),
        |tk AS (SELECT doc_id, unnest(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS tok FROM m),
        |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY tok),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS mm FROM tk GROUP BY doc_id),
        |rk AS (SELECT tk.doc_id, tk.tok,
        |         row_number() OVER (PARTITION BY tk.doc_id ORDER BY df, tok) AS rn, mm
        |       FROM tk JOIN dfq USING (tok) JOIN sz USING (doc_id)),
        |pf AS (SELECT doc_id, tok, mm FROM rk WHERE rn <= mm - (90 * mm + 99) // 100 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |           AND a.mm * 90 <= b.mm * 100 AND b.mm * 90 <= a.mm * 100),
        |st AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS s FROM m),
        |ver AS (SELECT id1, id2,
        |          CAST(len(list_intersect(s1.s, s2.s)) AS BIGINT) AS inter,
        |          CAST(len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s)) AS BIGINT) AS un
        |        FROM cand JOIN st s1 ON s1.doc_id = cand.id1 JOIN st s2 ON s2.doc_id = cand.id2)
        |SELECT id1, id2, inter * 1000000 // un AS j_e6 FROM ver
        |WHERE inter * 100 >= un * 90 ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val base = documents(s, d).select("doc_id", "text")
      val corpus = base.filter(col("doc_id") % 5 === 0)
        .unionByName(base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
      graft.operators.Dedup.prefixFilterPairs(corpus, "doc_id", "text",
          tPct = 90)
        .orderBy("id1", "id2")
    },

    // Embedding-centroid drift per label — the vector complement of
    // q149: snapshots alternate by vec id, label 2's B-side vectors
    // shift +0.1 per dimension (centroid L1 gap 6.4 in e6 units vs
    // sub-1.0 sampling noise), and only it must cross the 3.0 gate.
    // Label 5's B-side is dropped entirely (a vanished source): the
    // full-outer path must SURFACE it with n_b = 0, d_num = 0,
    // both_snapshots = false, drifted = true — the r9-ADVICE case an
    // inner join silently swallowed. Exact integers end to end
    // (floor(x·1e6) quantization, cross-multiplied means) — a full
    // hash oracle.
    sql("q158_embedding_drift",
      """WITH s AS (SELECT label, vec_id % 2 AS snap,
        |             CASE WHEN label = 2 AND vec_id % 2 = 1
        |               THEN list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.1)
        |               ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS vec
        |           FROM embeddings
        |           WHERE NOT (label = 5 AND vec_id % 2 = 1)),
        |ex AS (SELECT label, snap, i, CAST(floor(vec[i + 1] * 1000000.0) AS BIGINT) AS v
        |       FROM s, (SELECT unnest(range(64)) AS i) r),
        |sm AS (SELECT label, snap, i, CAST(sum(v) AS BIGINT) AS sv FROM ex GROUP BY label, snap, i),
        |ns AS (SELECT label,
        |        CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |        CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |       FROM s GROUP BY label),
        |a AS (SELECT label, i, sv FROM sm WHERE snap = 0),
        |b AS (SELECT label, i, sv FROM sm WHERE snap = 1),
        |j AS (SELECT COALESCE(a.label, b.label) AS label,
        |        COALESCE(a.sv, 0) AS sa, COALESCE(b.sv, 0) AS sb
        |      FROM a FULL OUTER JOIN b ON a.label = b.label AND a.i = b.i)
        |SELECT j.label, n_a, n_b,
        |  CAST(sum(abs(sa * n_b - sb * n_a)) AS BIGINT) AS d_num,
        |  n_a > 0 AND n_b > 0 AS both_snapshots,
        |  n_a = 0 OR n_b = 0 OR
        |    CAST(sum(abs(sa * n_b - sb * n_a)) AS BIGINT) > n_a * n_b * 3000000 AS drifted
        |FROM j JOIN ns ON ns.label = j.label
        |GROUP BY j.label, n_a, n_b ORDER BY j.label""".stripMargin) { (s, d) =>
      val snaps = embeddings(s, d)
        .filter(!(col("label") === 5 && col("vec_id") % 2 === 1))
        .select(col("label"),
          (col("vec_id") % 2).as("snap"),
          when(col("label") === 2 && col("vec_id") % 2 === 1,
            expr("transform(embedding, x -> CAST(x AS DOUBLE) + 0.1d)"))
            .otherwise(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
            .as("vec"))
      graft.operators.Similarity.centroidDriftE6(snaps, "label", "snap",
          "vec", thresholdE6 = 3000000L)
        .orderBy("label")
    },

    // Unigram-LM EM training, 2 full rounds: Viterbi E-step (min-cost
    // DP with largest-piece tie-break), add-one M-step, vocab fixed at
    // floored multi-char substrings + every corpus character. The
    // oracle replays BOTH rounds move-for-move — forward DP and
    // backward walk unrolled per code-point position — so the hash
    // pins the entire EM trajectory, not just the final counts.
    sql("q160_unigram_em", unigramEmOracle(300L, 4, 16, 2)) { (s, d) =>
      graft.operators.Unigram.emTrain(documents(s, d), "text", rounds = 2,
          minPieceCount = 300L, maxPieceLen = 4, maxWordLen = 16)
        .orderBy("piece")
    },

    // Pruned unigram EM — the full Kudo loop: after each round's
    // M-step only the 64 highest-usage multi-char pieces survive
    // (single chars never pruned), and the next round's costs
    // renormalize over the shrunken vocab. Both rounds AND both prunes
    // replay in the oracle (the q160 DP machinery with a per-round
    // rank gate), so the hash pins the full train-prune-retrain
    // trajectory.
    sql("q176_unigram_em_pruned",
      unigramEmOracle(300L, 4, 16, 2, keepTop = Some(64))) { (s, d) =>
      graft.operators.Unigram.emTrainPruned(documents(s, d), "text",
          rounds = 2, keepTop = 64, minPieceCount = 300L, maxPieceLen = 4,
          maxWordLen = 16)
        .orderBy("piece")
    },

    // Store-lifecycle audit — the daily ops dashboard over the three
    // incremental stores. Planted lifecycle: catalog write + waves 1
    // and 2, then wave 1 lands AGAIN (an at-least-once crash replay);
    // the band store is then compacted, the other two are not. The
    // audit must report, per store, total rows, distinct keys, the
    // dead weight a compaction would fold (exact e6 fraction), the
    // landed wave depth (from the bucketed layout's one-file-per-
    // bucket-per-wave law — file metadata only), and the compaction
    // flag. The oracle predicts every number from the planted
    // construction: per-wave distinct digests/grams for the append-
    // dedup stores, bands × distinct doc ids for the compacted band
    // store, and the wave counts as planted (4 landings / 1 rewrite).
    sqlWithSetup("q163_store_audit",
      """WITH cat AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |w1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
        |w2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
        |dg AS (SELECT
        |  (SELECT count(DISTINCT md5(text)) FROM cat) AS dc,
        |  (SELECT count(DISTINCT md5(text)) FROM w1) AS d1,
        |  (SELECT count(DISTINCT md5(text)) FROM w2) AS d2,
        |  (SELECT count(DISTINCT md5(text)) FROM documents) AS dall),
        |gw AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |gg AS (SELECT doc_id, md5(array_to_string(list_slice(toks, pos + 1, pos + 8), ' ')) AS g
        |       FROM (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM gw WHERE len(toks) >= 8)),
        |gr AS (SELECT
        |  (SELECT count(DISTINCT g) FROM gg WHERE doc_id % 3 = 0) AS gc,
        |  (SELECT count(DISTINCT g) FROM gg WHERE doc_id % 3 = 1) AS g1,
        |  (SELECT count(DISTINCT g) FROM gg WHERE doc_id % 3 = 2) AS g2,
        |  (SELECT count(DISTINCT g) FROM gg) AS gall),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |rows_ AS (
        |  SELECT 'band' AS store, 8 * n AS total_rows, 8 * n AS distinct_keys,
        |         CAST(0 AS BIGINT) AS dead_rows, CAST(0 AS BIGINT) AS dead_e6,
        |         CAST(1 AS BIGINT) AS waves, TRUE AS compacted FROM nd
        |  UNION ALL
        |  SELECT 'digest', dc + d1 + d2 + d1, dall,
        |         dc + d1 + d2 + d1 - dall,
        |         ((dc + d1 + d2 + d1 - dall) * 1000000) // (dc + d1 + d2 + d1),
        |         4, FALSE FROM dg
        |  UNION ALL
        |  SELECT 'gram_df', gc + g1 + g2 + g1, gall,
        |         gc + g1 + g2 + g1 - gall,
        |         ((gc + g1 + g2 + g1 - gall) * 1000000) // (gc + g1 + g2 + g1),
        |         4, FALSE FROM gr)
        |SELECT store, CAST(total_rows AS BIGINT) AS total_rows,
        |  CAST(distinct_keys AS BIGINT) AS distinct_keys,
        |  CAST(dead_rows AS BIGINT) AS dead_rows, CAST(dead_e6 AS BIGINT) AS dead_e6,
        |  CAST(waves AS BIGINT) AS waves, compacted
        |FROM rows_ ORDER BY store""".stripMargin) { (s, d) =>
      // SETUP (untimed in Bench — the audit must not be benchmarked as
      // the 12-write fixture it reads): plant the three-store lifecycle
      import graft.operators.{Dedup, Stores}
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val cat = docs.filter(col("doc_id") % 3 === 0)
      val w1 = docs.filter(col("doc_id") % 3 === 1)
      val w2 = docs.filter(col("doc_id") % 3 === 2)
      val (tD, tG, tB) = ("graft_q163_digest", "graft_q163_gram", "graft_q163_band")
      // drop locations too: a previous SESSION's tables are gone from
      // the in-memory catalog but their warehouse dirs persist
      Seq(tD, tG, tB, s"${tB}__compact").foreach(t => Stores.dropStoreTable(s, t))
      Dedup.writeDigestStore(cat, "text", tD, buckets = 8)
      Seq(w1, w2, w1).foreach(w =>
        Dedup.appendToDigestStore(w, "text", tD, buckets = 8))
      graft.operators.TextOps.writeGramDfStore(cat, "doc_id", "text", tG,
        k = 8, buckets = 8)
      Seq(w1, w2, w1).foreach(w => graft.operators.TextOps
        .appendToGramDfStore(w, "doc_id", "text", tG, k = 8, buckets = 8))
      Dedup.writeBandStore(cat, "doc_id", "text", tB, buckets = 8)
      Seq(w1, w2, w1).foreach(w =>
        Dedup.appendToBandStore(w, "doc_id", "text", tB, buckets = 8))
      Dedup.compactBandStore(s, tB, buckets = 8)
      ()
    } { (s, _) =>
      // TIMED: the audit itself — three key-distinct aggregates plus
      // directory listings over the stores setup planted
      graft.operators.Stores.auditStores(s, Seq(
        ("graft_q163_band", "band", Seq("band_key", "id")),
        ("graft_q163_digest", "digest", Seq("digest")),
        ("graft_q163_gram", "gram_df", Seq("dg"))))
    },

    // Wave-layered store lifecycle (r10 verdict item 3): three waves
    // land as wave=N partitions of a bucketed digest store — including
    // a CORRUPTED wave 2 that is rolled back before the clean wave
    // re-lands, and a crash REPLAY of wave 1 that replaces its
    // partition instead of duplicating. The as-of reads then rebuild
    // history: per wave n, rows (Σ per-wave distinct digests — the
    // layered layout keeps cross-wave dups as separate rows) and
    // distinct digests over waves ≤ n. The oracle predicts every
    // number from the CLEAN construction alone — the whole point: the
    // bad wave and the replay must leave zero trace.
    sqlWithSetup("q184_layered_store",
      """WITH w AS (SELECT doc_id % 3 AS wv, md5(text) AS dg FROM documents),
        |per AS (SELECT wv, count(DISTINCT dg) AS dw FROM w GROUP BY wv),
        |ns AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS wave)
        |SELECT wave,
        |  (SELECT CAST(sum(dw) AS BIGINT) FROM per WHERE wv <= wave) AS rows_asof,
        |  (SELECT CAST(count(DISTINCT dg) AS BIGINT) FROM w WHERE wv <= wave) AS distinct_asof
        |FROM ns ORDER BY wave""".stripMargin) { (s, d) =>
      import graft.operators.Stores
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      def dg(df: org.apache.spark.sql.DataFrame) =
        df.select(unhex(md5(col("text"))).as("digest")).distinct()
      val waves = (0 to 2).map(i => docs.filter(col("doc_id") % 3 === i))
      val t = "graft_q184_layer"
      Stores.dropStoreTable(s, t)
      Stores.appendWave(dg(waves(0)), t, 0L, "digest", buckets = 8)
      Stores.appendWave(dg(waves(1)), t, 1L, "digest", buckets = 8)
      // bad wave 2 lands, is rolled back, clean wave 2 re-lands
      Stores.appendWave(
        dg(waves(2).withColumn("text", concat(col("text"), lit(" CORRUPT")))),
        t, 2L, "digest", buckets = 8)
      Stores.rollbackTo(s, t, 1L)
      Stores.appendWave(dg(waves(2)), t, 2L, "digest", buckets = 8)
      // crash replay of wave 1: partition replaced, not duplicated
      Stores.appendWave(dg(waves(1)), t, 1L, "digest", buckets = 8)
      ()
    } { (s, _) =>
      (0 to 2).map { n =>
        graft.operators.Stores.asOf(s, "graft_q184_layer", n.toLong)
          .agg(count(lit(1)).as("rows_asof"),
            count_distinct(col("digest")).as("distinct_asof"))
          .select(lit(n.toLong).as("wave"), col("rows_asof"), col("distinct_asof"))
      }.reduce(_ unionByName _).orderBy("wave")
    },

    // Layered-store COMPACTION with an as-of horizon (q184's missing
    // lifecycle end): five waves land, then waves <= 2 fold into one
    // base partition. The timed reads rebuild history AT AND ABOVE the
    // horizon — which the fold must leave row-identical (the folded
    // rows re-land under the highest folded wave id) — and the oracle
    // predicts every number from the clean five-wave construction
    // alone, so any fold that loses, duplicates, or re-waves a row
    // breaks the hash.
    sqlWithSetup("q195_compacted_asof",
      """WITH w AS (SELECT doc_id % 5 AS wv, md5(text) AS dg FROM documents),
        |per AS (SELECT wv, count(DISTINCT dg) AS dw FROM w GROUP BY wv),
        |ns AS (SELECT CAST(unnest([2, 3, 4]) AS BIGINT) AS wave)
        |SELECT wave,
        |  (SELECT CAST(sum(dw) AS BIGINT) FROM per WHERE wv <= wave) AS rows_asof,
        |  (SELECT CAST(count(DISTINCT dg) AS BIGINT) FROM w WHERE wv <= wave) AS distinct_asof
        |FROM ns ORDER BY wave""".stripMargin) { (s, d) =>
      import graft.operators.Stores
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      def dg(df: org.apache.spark.sql.DataFrame) =
        df.select(unhex(md5(col("text"))).as("digest")).distinct()
      val t = "graft_q195_layer"
      Stores.dropStoreTable(s, t)
      (0 to 4).foreach(i => Stores.appendWave(
        dg(docs.filter(col("doc_id") % 5 === i)), t, i.toLong, "digest", buckets = 8))
      Stores.compactWaves(s, t, horizon = 2L, "digest", buckets = 8)
      ()
    } { (s, _) =>
      (2 to 4).map { n =>
        graft.operators.Stores.asOf(s, "graft_q195_layer", n.toLong)
          .agg(count(lit(1)).as("rows_asof"),
            count_distinct(col("digest")).as("distinct_asof"))
          .select(lit(n.toLong).as("wave"), col("rows_asof"), col("distinct_asof"))
      }.reduce(_ unionByName _).orderBy("wave")
    },

    // Layered store × incremental span dedup: the gram-df store lands
    // as wave=N partitions, and the SAME delta is stripped against
    // each historical as-of view — as-of 0 sees only wave 0's grams,
    // as-of 1 sees both, so a phrase shared delta↔wave-1 strips only
    // under the later view. The oracle rebuilds each view's
    // distinct-doc frequencies from the wave construction (delta docs
    // + catalog docs with wave class ≤ n) and replays the full strip —
    // pinning both that the as-of read equals a rebuild from waves ≤ n
    // AND the q151 incremental equivalence on top of it.
    sqlWithSetup("q185_layered_span_asof",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN '$plantedPhrase ' || text
        |         WHEN doc_id % 11 = 0 THEN text || ' $plantedPhrase'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks FROM corpus),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM t WHERE len(toks) >= 8),
        |gd AS (SELECT doc_id, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 8), ' ')) AS dg FROM g),
        |ns AS (SELECT CAST(unnest([0, 1]) AS BIGINT) AS n),
        |f AS (SELECT ns.n, dd.dg
        |      FROM ns CROSS JOIN (SELECT DISTINCT doc_id, dg FROM gd) dd
        |      WHERE (dd.doc_id % 3) - 1 <= ns.n
        |      GROUP BY ns.n, dd.dg HAVING count(*) >= 2),
        |cov AS (SELECT f.n, gd.doc_id, list(DISTINCT gd.pos + u.u) AS cv
        |        FROM gd JOIN f ON gd.dg = f.dg
        |        CROSS JOIN (SELECT unnest(range(8)) AS u) u
        |        WHERE gd.doc_id % 3 = 0
        |        GROUP BY f.n, gd.doc_id),
        |kept AS (SELECT ns.n AS asof_wave, t.doc_id, toks,
        |           [toks[i + 1] FOR i IN range(len(toks))
        |            IF NOT list_contains(coalesce(cv, CAST([] AS BIGINT[])), i)] AS kp
        |         FROM ns CROSS JOIN t
        |         LEFT JOIN cov ON cov.n = ns.n AND cov.doc_id = t.doc_id
        |         WHERE t.doc_id % 3 = 0)
        |SELECT asof_wave, doc_id, COALESCE(array_to_string(kp, ' '), '') AS cleaned,
        |  CAST(len(toks) - len(kp) AS BIGINT) AS n_removed
        |FROM kept ORDER BY asof_wave, doc_id""".stripMargin) { (s, d) =>
      import graft.operators.{Stores, TextOps}
      val corpus = q185Corpus(s, d)
      val t = "graft_q185_gram_layer"
      Stores.dropStoreTable(s, t)
      Stores.appendWave(TextOps.gramDf(
        corpus.filter(col("doc_id") % 3 === 1), "doc_id", "text", k = 8),
        t, 0L, "dg", buckets = 8)
      Stores.appendWave(TextOps.gramDf(
        corpus.filter(col("doc_id") % 3 === 2), "doc_id", "text", k = 8),
        t, 1L, "dg", buckets = 8)
      ()
    } { (s, d) =>
      import graft.operators.{Stores, TextOps}
      val delta = q185Corpus(s, d).filter(col("doc_id") % 3 === 0)
      (0 to 1).map { n =>
        TextOps.incrementalSpanDedupStrip(
            Stores.asOf(s, "graft_q185_gram_layer", n.toLong).select("dg", "df"),
            delta, "doc_id", "text", k = 8, minDocs = 2)
          .select(lit(n.toLong).as("asof_wave"), col("doc_id"),
            col("cleaned"), col("n_removed"))
      }.reduce(_ unionByName _).orderBy("asof_wave", "doc_id")
    },

    // A/B exposure-conversion lift: md5-derandomized arms, strict
    // order (a purchase before first view is not attributable — the
    // q154 funnel rule), verdict cross-multiplied so the lift flag is
    // pure integer arithmetic. One entity-keyed aggregate + a 1-row
    // rollup — no window, no join.
    sql("q166_ab_lift",
      """WITH pe AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS fe,
        |  max(CASE WHEN event_type = 'purchase' THEN ts END) AS lc
        |  FROM events GROUP BY user_id HAVING fe IS NOT NULL),
        |f AS (SELECT substr(md5(CAST(user_id AS VARCHAR)),1,1) < '8' AS a,
        |        (lc IS NOT NULL AND lc > fe) AS c FROM pe)
        |SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN a AND c THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |  CAST(sum(CASE WHEN a AND c THEN 1 ELSE 0 END) * 1000000
        |    // sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS rate_a_e6,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN NOT a AND c THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
        |  CAST(sum(CASE WHEN NOT a AND c THEN 1 ELSE 0 END) * 1000000
        |    // sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS rate_b_e6,
        |  sum(CASE WHEN NOT a AND c THEN 1 ELSE 0 END) * sum(CASE WHEN a THEN 1 ELSE 0 END) >
        |  sum(CASE WHEN a AND c THEN 1 ELSE 0 END) * sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS b_lifts
        |FROM f""".stripMargin) { (s, d) =>
      graft.operators.Funnels.abLift(events(s, d), "user_id", "event_type",
        "ts", exposureType = "view", conversionType = "purchase")
    },

    // Top session paths: 30-minute sessions (the q31 rule), each
    // session's type sequence slides a 3-step window, corpus-wide
    // counts rank the top 16 — deterministic tie order everywhere.
    // The oracle replays sessionization, the ordered collect, the
    // slide, and the ranking.
    sql("q159_session_paths",
      """WITH flagged AS (
        | SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        | SELECT user_id, event_id, ts, event_type,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM flagged),
        |seqs AS (SELECT user_id, session_id,
        |           list(event_type ORDER BY ts, event_id) AS types
        |         FROM sessions GROUP BY user_id, session_id),
        |paths AS (SELECT unnest([array_to_string(types[i:i+2], '>')
        |                        FOR i IN range(1, len(types) - 1)]) AS path
        |          FROM seqs WHERE len(types) >= 3)
        |SELECT path, CAST(count(*) AS BIGINT) AS cnt FROM paths
        |GROUP BY path ORDER BY cnt DESC, path LIMIT 16""".stripMargin) { (s, d) =>
      graft.operators.Funnels.topSessionPaths(events(s, d), "user_id",
        "event_type", "ts", "event_id", gapSeconds = 1800L,
        pathLen = 3, k = 16)
    }
  )
}
