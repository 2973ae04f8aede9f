package graft.engine

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Embedding-similarity and probabilistic-dedup surface. Everything
  * whose math is deterministic arithmetic carries a full DuckDB
  * oracle: the exact formulations (brute-force cosine top-k,
  * threshold near-dup) via `list_cosine_similarity` over
  * DOUBLE[]-cast vectors, AND the sign-LSH family (q42 ANN, q66
  * near-dup, q76 banded near-dup — a sign bucket is plain
  * bit-arithmetic over element signs, no hash seed) and IVF (q43 —
  * centroids are elementwise label means). Only the genuinely
  * hash-seeded family (MinHash LSH q44, SimHash q45 — xxhash64
  * seeds are engine-internal) takes the driver's rows-only check,
  * pinned by ScalaTest specs instead (recall vs the exact baseline,
  * banding behavior).
  */
object PipelineQueries {
  import QueryDef._
  import Tables._

  val all: Seq[QueryDef] = Seq(

    sql("q40_cosine_topk",
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS sim FROM q, c WHERE cid <> qid)
        |SELECT qid, cid, round(sim, 4) AS sim, rn FROM (
        | SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        | FROM s) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) {
      (s, d) =>
        val emb = embeddings(s, d)
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
          .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"), col("rn"))
          .orderBy(col("qid"), col("rn"))
    },

    sql("q41_embedding_neardup",
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.2
        |ORDER BY id1, id2""".stripMargin) {
      (s, d) =>
        import graft.functions.VectorFunctions.{dot, norm}
        val a = embeddings(s, d).select(col("vec_id").as("id1"),
          col("label"), col("embedding").as("va"), norm(col("embedding")).as("na"))
        val b = embeddings(s, d).select(col("vec_id").as("id2"),
          col("label"), col("embedding").as("vb"), norm(col("embedding")).as("nb"))
        a.join(b, Seq("label"))
          .filter(col("id1") < col("id2"))
          .withColumn("sim0", dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .filter(col("sim0") > 0.2)
          .select(col("id1"), col("id2"), round(col("sim0"), 4).as("sim"))
          .orderBy(col("id1"), col("id2"))
    },

    // The 100-TB routing of q41: sign-LSH buckets generate candidates,
    // exact cosine verifies. The sign bucket is NOT hash-seeded — bit i
    // is simply sign(embedding[i]) over the leading `bits` dims — so
    // the whole pipeline is ANSI-SQL-expressible and carries a full
    // DuckDB oracle, INCLUDING the 4096 hot-bucket cap (QUALIFY
    // window count — an unmirrored cap would diverge the moment any
    // bucket trips it). OperatorsSpec additionally pins
    // precision/recall against the exact all-pairs set.
    sql("q66_embedding_neardup_ann",
      """WITH kb0 AS (
        | SELECT vec_id, embedding,
        |  list_sum(list_transform(range(6),
        |    i -> CASE WHEN embedding[CAST(i+1 AS INT)] >= 0 THEN 1<<i ELSE 0 END)) AS key
        | FROM embeddings),
        |kb AS (
        | SELECT * FROM kb0
        | QUALIFY count(*) OVER (PARTITION BY key) <= 4096),
        |cand AS (
        | SELECT a.vec_id AS id1, b.vec_id AS id2, a.embedding AS ea, b.embedding AS eb
        | FROM kb a JOIN kb b ON a.key = b.key AND a.vec_id < b.vec_id)
        |SELECT id1, id2,
        | round(list_cosine_similarity(ea::DOUBLE[], eb::DOUBLE[]), 4) AS sim
        |FROM cand WHERE list_cosine_similarity(ea::DOUBLE[], eb::DOUBLE[]) > 0.2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Similarity.nearDupesAnn(embeddings(s, d), threshold = 0.2, bits = 6)
        .orderBy(col("id1"), col("id2"))
    },

    // Banded sign-LSH near-dup (MinHash-banding recall curve over
    // disjoint dimension slices): the high-recall scale formulation.
    // Sign-bucket band keys are plain sign arithmetic → full DuckDB
    // oracle; the banded-vs-single recall spec pins behavior.
    sql("q76_embedding_neardup_banded",
      """WITH kb0 AS (
        | SELECT vec_id, embedding, t.b AS band,
        |  list_sum(list_transform(range(8),
        |    i -> CASE WHEN embedding[CAST(t.b*8+i+1 AS INT)] >= 0 THEN 1<<i ELSE 0 END)) AS key
        | FROM embeddings, range(8) AS t(b)),
        |kb AS (
        | SELECT * FROM kb0
        | QUALIFY count(*) OVER (PARTITION BY band, key) <= 4096),
        |cand AS (
        | SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        | FROM kb a JOIN kb b
        |   ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
        |SELECT id1, id2,
        | round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 4) AS sim
        |FROM cand
        |JOIN embeddings e1 ON e1.vec_id = id1
        |JOIN embeddings e2 ON e2.vec_id = id2
        |WHERE list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) > 0.2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Similarity.nearDupesAnnBanded(embeddings(s, d), threshold = 0.2,
          bits = 8, bands = 8)
        .orderBy(col("id1"), col("id2"))
    },

    // AUTO-SIZED banded sign-LSH near-dup — the oracle for q76's scale
    // remedy (SCALE.md's "fixed per-band bits → 100× pairs per bucket"
    // lesson; the fixed form is regime-bounded by design, measured at
    // 617M candidate pairs on the 100× corpus): per-band bits derived
    // from the corpus size — bits = max(1, min(24, ceil-log2(⌈n/64⌉)))
    // clamped to dim/bands so a band never slices past the vector —
    // holds expected per-bucket population (so per-band pair volume)
    // ~constant under growth. The oracle replays the DERIVATION
    // (count → ceil-log2 → clamp) and the full banded pipeline at
    // that width, like q204/q211 for their tiers.
    sql("q217_embedding_neardup_banded_auto",
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |dm AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |bt AS (SELECT CAST(LEAST(
        |         GREATEST(1, LEAST(24,
        |           list_min([b FOR b IN range(0, 25)
        |                     IF (CAST(1 AS BIGINT) << b) >= GREATEST(1, (n + 63) // 64)]))),
        |         dim // 4) AS INT) AS bits
        |       FROM nn CROSS JOIN dm),
        |kb0 AS (
        | SELECT vec_id, t.b AS band,
        |  list_sum(list_transform(range(bits),
        |    i -> CASE WHEN embedding[CAST(t.b*bits+i+1 AS INT)] >= 0 THEN 1<<i ELSE 0 END)) AS key
        | FROM embeddings CROSS JOIN bt, range(4) AS t(b)),
        |kb AS (
        | SELECT * FROM kb0
        | QUALIFY count(*) OVER (PARTITION BY band, key) <= 4096),
        |cand AS (
        | SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        | FROM kb a JOIN kb b
        |   ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
        |SELECT id1, id2,
        | round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 4) AS sim
        |FROM cand
        |JOIN embeddings e1 ON e1.vec_id = id1
        |JOIN embeddings e2 ON e2.vec_id = id2
        |WHERE list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) > 0.2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Similarity.nearDupesAnnBandedAuto(embeddings(s, d), threshold = 0.2,
          bands = 4, targetBucketSize = 64)
        .orderBy(col("id1"), col("id2"))
    },

    sql("q42_ann_sign_lsh",
      """WITH kb AS (
        | SELECT vec_id, embedding,
        |  list_sum(list_transform(range(6),
        |    i -> CASE WHEN embedding[CAST(i+1 AS INT)] >= 0 THEN 1<<i ELSE 0 END)) AS key
        | FROM embeddings),
        |s AS (
        | SELECT q.vec_id AS qid, c.vec_id AS cid,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        | FROM kb q JOIN kb c ON q.key = c.key AND c.vec_id <> q.vec_id
        | WHERE q.vec_id < 10)
        |SELECT qid, cid, round(sim, 4) AS sim, rn FROM (
        | SELECT qid, cid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        | FROM s) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity.annSignLsh(emb, emb.filter(col("vec_id") < 10), k = 5, bits = 6)
        .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // Multi-probe sign-LSH: q42's probe widened to the bits+1 buckets
    // within Hamming distance 1 of the query's — the recall of extra
    // hash tables without duplicating the index. Same bit arithmetic,
    // so the oracle mirrors the probe set exactly (xor per flipped
    // bit) and the hash pins candidate generation + exact rerank.
    sql("q169_ann_multiprobe",
      """WITH kb AS (
        | SELECT vec_id, embedding,
        |  list_sum(list_transform(range(6),
        |    i -> CASE WHEN embedding[CAST(i+1 AS INT)] >= 0 THEN 1<<i ELSE 0 END)) AS key
        | FROM embeddings),
        |pr AS (
        | SELECT vec_id AS qid, embedding AS qe,
        |  unnest(list_prepend(key, [xor(key, 1 << i) FOR i IN range(6)])) AS pkey
        | FROM kb WHERE vec_id < 10),
        |s AS (
        | SELECT pr.qid, c.vec_id AS cid,
        |  list_cosine_similarity(pr.qe::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        | FROM pr JOIN kb c ON c.key = pr.pkey AND c.vec_id <> pr.qid)
        |SELECT qid, cid, round(sim, 4) AS sim, rn FROM (
        | SELECT qid, cid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        | FROM s) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity.annSignLshMultiProbe(emb, emb.filter(col("vec_id") < 10),
          k = 5, bits = 6)
        .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // Prefix-dimension (Matryoshka) retrieval audit: per query, how
    // many exact top-10 neighbors survive when retrieval uses only the
    // first 16 of 64 dimensions — the go/no-go table for a truncated
    // (4× smaller) index with full-dim rerank. Both rankings and the
    // intersection replay in SQL.
    sql("q177_prefix_dim_audit",
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
        |f AS (SELECT qid, cid FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY list_cosine_similarity(qv, cv) DESC, cid) AS rn
        |  FROM q, c WHERE cid <> qid) x WHERE rn <= 10),
        |p AS (SELECT qid, cid FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY list_cosine_similarity(qv[1:16], cv[1:16]) DESC, cid) AS rn
        |  FROM q, c WHERE cid <> qid) x WHERE rn <= 10)
        |SELECT f.qid, CAST(count(*) AS BIGINT) AS n_overlap,
        |  CAST(count(*) * 10000 // 10 AS BIGINT) AS overlap_bp
        |FROM f JOIN p USING (qid, cid) GROUP BY f.qid ORDER BY qid""".stripMargin) {
      (s, d) =>
        val emb = embeddings(s, d)
        Similarity.prefixDimRetrievalAudit(emb, emb.filter(col("vec_id") < 10),
            k = 10, prefixDim = 16)
          .orderBy("qid")
    },

    // Two-stage Matryoshka retrieval (r10 verdict item 9 — ACTING on
    // q177's audit): prefix-16 shortlist of 40, full-dim exact rerank
    // to top-5. Each query gets 20 PLANTED separable neighbors (its
    // own vector with only the LAST dimension perturbed, so the
    // 16-dim prefix is byte-identical and stage 1 cannot miss them);
    // the in_full_topk flag then pins the headline property — the
    // two-stage result EQUALS the full-dimension top-k — inside the
    // hash, alongside the full two-stage procedure replay.
    sql("q183_matryoshka_rerank",
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qv FROM base WHERE vec_id < 8),
        |planted AS (
        |  SELECT 1000000 + qid * 100 + i AS vec_id,
        |         list_append(qv[1:63], qv[64] + 0.05 * i) AS e
        |  FROM q, (SELECT unnest(range(1, 21)) AS i) ii),
        |corpus AS (SELECT vec_id, e FROM base UNION ALL SELECT vec_id, e FROM planted),
        |short AS (SELECT qid, cid FROM (
        |  SELECT q.qid, c.vec_id AS cid,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(qv[1:16], e[1:16]) DESC, c.vec_id) AS rn
        |  FROM q, corpus c WHERE c.vec_id <> q.qid) x WHERE rn <= 40),
        |ts AS (SELECT qid, cid, sim, rn FROM (
        |  SELECT s.qid, s.cid, list_cosine_similarity(q.qv, c.e) AS sim,
        |    row_number() OVER (PARTITION BY s.qid
        |      ORDER BY list_cosine_similarity(q.qv, c.e) DESC, s.cid) AS rn
        |  FROM short s JOIN q ON q.qid = s.qid JOIN corpus c ON c.vec_id = s.cid) x
        |  WHERE rn <= 5),
        |full_ AS (SELECT qid, cid FROM (
        |  SELECT q.qid, c.vec_id AS cid,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(qv, e) DESC, c.vec_id) AS rn
        |  FROM q, corpus c WHERE c.vec_id <> q.qid) x WHERE rn <= 5)
        |SELECT ts.qid, ts.cid, round(ts.sim, 4) AS sim, ts.rn,
        |  (f.cid IS NOT NULL) AS in_full_topk
        |FROM ts LEFT JOIN full_ f ON f.qid = ts.qid AND f.cid = ts.cid
        |ORDER BY ts.qid, ts.rn""".stripMargin) { (s, d) =>
      val embD = embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val qs = embD.filter(col("vec_id") < 8)
      val planted = qs
        .select(col("vec_id"), col("embedding"),
          explode(expr("sequence(1, 20)")).as("i"))
        .select((lit(1000000L) + col("vec_id") * 100 + col("i")).as("vec_id"),
          expr("concat(slice(embedding, 1, 63), " +
            "array(element_at(embedding, 64) + 0.05 * i))").as("embedding"))
      val corpus = embD.unionByName(planted)
      val ts = Similarity.prefixRerankTopK(corpus, qs, k = 5,
        prefixDim = 16, shortlist = 40)
      val full = Similarity.cosineTopK(corpus, qs, k = 5)
        .select(col("qid"), col("cid"), lit(true).as("in_full_topk"))
      ts.join(full, Seq("qid", "cid"), "left")
        .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"), col("rn"),
          coalesce(col("in_full_topk"), lit(false)).as("in_full_topk"))
        .orderBy("qid", "rn")
    },

    // IVF is SQL-expressible too: centroids are elementwise per-label
    // means (parallel unnest zips value with position), probes the
    // nprobe nearest centroids, exact cosine within probed lists.
    //
    // FP-determinism note: centroid avg() summation order is unpinned
    // on both engines, so only the PROBE SELECTION could in principle
    // diverge; measured on the gate dataset the crn=3/crn=4 cosine
    // gap is >= 2.4e-4 against ~1e-13 summation noise (9 orders of
    // margin), and the output sims come from raw embeddings via
    // pinned-order dot products (q40/q41 precedent). The final rows
    // are therefore engine-stable.
    sql("q43_ann_ivf",
      """WITH cent AS (
        | SELECT label AS list_id, list(m ORDER BY pos) AS centroid FROM (
        |  SELECT label, pos, avg(x) AS m FROM (
        |   SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |          unnest(range(1, len(embedding)+1)) AS pos
        |   FROM embeddings) u
        |  GROUP BY label, pos) g
        | GROUP BY label),
        |probes AS (
        | SELECT qid, list_id FROM (
        |  SELECT q.vec_id AS qid, c.list_id,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.centroid) DESC,
        |              c.list_id) AS crn
        |  FROM embeddings q, cent c WHERE q.vec_id < 10) p
        | WHERE crn <= 3)
        |SELECT qid, cid, round(sim, 4) AS sim, rn FROM (
        | SELECT p.qid, e.vec_id AS cid,
        |  list_cosine_similarity(qe.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS sim,
        |  row_number() OVER (PARTITION BY p.qid
        |    ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
        |             e.vec_id) AS rn
        | FROM probes p
        | JOIN embeddings e ON e.label = p.list_id AND e.vec_id <> p.qid
        | JOIN embeddings qe ON qe.vec_id = p.qid) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity.annIvf(emb, emb.filter(col("vec_id") < 10), k = 5, nprobe = 3)
        .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // MinHash-LSH candidate generation under a CONTRACT oracle (the
    // q61/q73 pattern): the xxhash64-seeded signatures are engine-
    // internal, but the operator's guarantees are not. A planted
    // fixture (a copy of every doc_id < 40 re-inserted at
    // doc_id + 10^6) makes the contract non-vacuous at every SF:
    //  - n_dup_pairs: EXACT count of identical-text pairs drawn from
    //    text groups of size 2..8 — DuckDB recomputes it from the
    //    same planted corpus (the 2..8 cap keeps every such pair's
    //    band buckets far below maxBucketSize=64, so the hot-bucket
    //    guard provably cannot drop them);
    //  - dup_recall_ok: every one of those pairs IS an LSH candidate
    //    (identical text ⇒ identical signature ⇒ all bands collide —
    //    deterministic, not probabilistic);
    //  - precision_ok: ≥ 60% of ALL candidate pairs have exact
    //    3-shingle Jaccard ≥ 0.5 (recomputed from raw text, planted
    //    pairs at J=1 plus banding false positives; measured ≥ 0.9
    //    at sf0.001/0.01/0.1 and the 10× corpus — 0.6 is the pinned
    //    slack bound). Deterministic on fixed data: fails loudly,
    //    never flakes. The raw candidate set stays differentially
    //    spec'd against the HOF mirror in OperatorsSpec.
    sql("q44_minhash_lsh_candidates",
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 40),
        |g AS (SELECT text, count(*) AS n FROM corpus GROUP BY text)
        |SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_dup_pairs,
        |       TRUE AS dup_recall_ok, TRUE AS precision_ok
        |FROM g WHERE n BETWEEN 2 AND 8""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(
        docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val cand = Dedup.minHashCandidates(corpus, "doc_id", "text",
        bands = 8, rowsPerBand = 4)
      val smallGroups = corpus.groupBy(col("text"))
        .agg(count(lit(1)).as("n")).filter(col("n").between(2, 8))
      val members = corpus.join(smallGroups.select(col("text")), Seq("text"))
      val dupPairs = members.alias("x")
        .join(members.alias("y"),
          col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      val nDup = dupPairs.agg(count(lit(1)).as("n_dup_pairs"))
      val recall = dupPairs
        .join(cand.select(col("id1"), col("id2")), Seq("id1", "id2"), "left_anti")
        .agg((count(lit(1)) === 0).as("dup_recall_ok"))
      val texts1 = corpus.select(col("doc_id").as("id1"), col("text").as("t1"))
      val texts2 = corpus.select(col("doc_id").as("id2"), col("text").as("t2"))
      val prec = cand.join(texts1, "id1").join(texts2, "id2")
        .select(graft.plans.ArrayJaccardExpr.array_jaccard(
          graft.plans.TokenShinglesExpr.token_shingles(col("t1"), 3),
          graft.plans.TokenShinglesExpr.token_shingles(col("t2"), 3)).as("j"))
        .agg((coalesce(sum(when(col("j") >= 0.5, 1L).otherwise(0L)), lit(0L)) >=
          count(lit(1)) * 0.6).as("precision_ok"))
      nDup.crossJoin(recall).crossJoin(prec)
    },

    // SimHash under the same contract pattern: the 32-bit codes are
    // engine-internal, their properties are not. Checked booleans:
    //  - native_hof_agree: the codegen SimHash32Expr kernel and the
    //    independent higher-order-function implementation (different
    //    tokenizer path, no shared kernel) agree code-for-code on a
    //    deterministic 5% sample (doc_id % 20 = 0) — the differential
    //    spec promoted onto real data (full-corpus HOF is the
    //    documented interpreted-mode tax; specs cover both codegen
    //    modes on fixtures);
    //  - in_u32_range: every code is in [0, 2^32) — pins the 32-bit
    //    domain;
    //  - small_lt_large: mean Hamming distance to a one-token-append
    //    perturbation (text + ' qq') is strictly below mean distance
    //    to an unrelated same-length-scale text (md5 hex of text) —
    //    the locality property that makes SimHash a near-dup sketch.
    //    Measured margins ~2 vs ~16 bits; deterministic on fixed data.
    sql("q45_simhash",
      """SELECT count(*) AS n_docs, TRUE AS native_hof_agree,
        | TRUE AS in_u32_range, TRUE AS small_lt_large
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val h = Dedup.simHash32(col("text"))
      def ham(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        bit_count(a.bitwiseXOR(b))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        bool_and(h >= 0L && h < 4294967296L).as("in_u32_range"),
        avg(ham(h, Dedup.simHash32(concat(col("text"), lit(" qq"))))).as("avg_s"),
        avg(ham(h, Dedup.simHash32(md5(col("text"))))).as("avg_l"))
      val hof = docs.filter(col("doc_id") % 20 === 0)
        .agg(bool_and(h === Dedup.simHash32Hof(col("text"))).as("native_hof_agree"))
      base.crossJoin(hof)
        .select(col("n_docs"), col("native_hof_agree"), col("in_u32_range"),
          (col("avg_s") < col("avg_l")).as("small_lt_large"))
    },

    // Multimodal plumbing: documents → binary payload + typed metadata
    // → partition-batched stub decode → checked feature column. The
    // decode is a documented deterministic fake (no codecs in this
    // environment), but it is PURE BYTE ARITHMETIC — a histogram of
    // payload bytes mod 8 — so it has a full DuckDB oracle: the corpus
    // is ASCII (verified 0 non-ASCII chars at every SF), hence payload
    // byte i == character code at i, and the bucket-0 count is the
    // number of chars whose code ≡ 0 (mod 8). The checked column is
    // that INTEGER count, recovered from the normalized float feature
    // by f0 × n_bytes (float c/n carries ~6e-8 relative error, so
    // round() recovers c exactly for any document < 10^6 bytes) —
    // integer-exact compares, immune to the float-vs-double round()
    // divergence that rules out comparing f0 itself. Normalization and
    // batch shape stay pinned in OperatorsSpec.
    sql("q50_multimodal_features",
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'image/fake' AS mime,
        | CAST(length(text) AS BIGINT) AS n_bytes,
        | CAST(len(list_filter(range(1, length(text)+1),
        |      i -> ascii(text[i:i]) % 8 = 0)) AS BIGINT) AS b0
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = graft.operators.Multimodal.synthesize(
        documents(s, d), "doc_id", "text")
      val feats = graft.operators.Multimodal.decodeStub(media, dim = 8)
      feats.select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.n_bytes").as("n_bytes"),
          round(element_at(col("features"), 1).cast("double") *
            greatest(length(col("payload")), lit(1))).cast("long").as("b0"))
        .orderBy(col("media_id"))
    },

    // Winnowed-fingerprint near-dup candidates (Schleimer 2003, the
    // MOSS scheme): per doc, 4-gram md5 digests → min-per-4-window
    // selection with rightmost tie-break → candidate pairs sharing
    // ≥ 3 surviving fingerprints (digests in > 8 docs dropped before
    // the self-join — the band-join discipline). Digests are md5, so
    // unlike the seeded MinHash family (q44) the WHOLE selection is
    // engine-replayable: the oracle re-runs gram digesting, window
    // mins, tie-breaks, the df cap, and the pair count. Prefix-edited
    // +1M replicas of every %19 doc plant guaranteed near-dup pairs
    // whose gram POSITIONS are all shifted — exactly the offset
    // robustness winnowing's local-window guarantee provides and
    // stride sampling lacks.
    sql("q188_winnow_candidates",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'prefix edit ' || text FROM documents WHERE doc_id % 19 = 0),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 3)) AS pos, toks FROM t WHERE len(toks) >= 4),
        |gd AS (SELECT doc_id, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 4), ' ')) AS dg FROM g),
        |ng AS (SELECT doc_id, count(*) AS n FROM gd GROUP BY doc_id),
        |ex AS (SELECT gd.doc_id, gd.pos, gd.dg,
        |         unnest(range(greatest(gd.pos - 3, 0), least(gd.pos, greatest(ng.n - 4, 0)) + 1)) AS wid
        |       FROM gd JOIN ng USING (doc_id)),
        |mn AS (SELECT doc_id, wid, min(dg) AS mdg FROM ex GROUP BY doc_id, wid),
        |sel AS (SELECT e.doc_id, e.wid, m.mdg AS dg, max(e.pos) AS pos
        |        FROM ex e JOIN mn m ON e.doc_id = m.doc_id AND e.wid = m.wid AND e.dg = m.mdg
        |        GROUP BY e.doc_id, e.wid, m.mdg),
        |fp AS (SELECT DISTINCT doc_id, dg FROM sel),
        |keep AS (SELECT dg FROM fp GROUP BY dg HAVING count(*) <= 8),
        |fpk AS (SELECT fp.doc_id, fp.dg FROM fp JOIN keep USING (dg))
        |SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM fpk a JOIN fpk b ON a.dg = b.dg AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 3
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      import graft.operators.TextOps
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs.unionByName(docs.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("prefix edit "), col("text")).as("text")))
      val fps = TextOps.winnowedFingerprints(planted, "doc_id", "text",
        k = 4, w = 4)
      TextOps.winnowedCandidatePairs(fps, "doc_id", minShared = 3, maxDf = 8)
        .orderBy("a", "b")
    },

    // Incremental winnow-store probe: catalog fingerprints persist as
    // a dg-bucketed store (setup, untimed); the DELTA wave — natural
    // %3=0 docs plus prefix-edited +1M replicas of catalog %3=1 docs —
    // winnows itself and probes the store, with the boilerplate df cap
    // summed across store + delta. The oracle is the FULL recompute
    // over catalog ∪ delta restricted to cross pairs — the q151
    // store-equivalence contract for the winnowing family: probing a
    // store must equal re-winnowing the world.
    sqlWithSetup("q189_winnow_store_probe",
      """WITH corpus AS (
        |  SELECT doc_id, text, 0 AS cl FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'prefix edit ' || text, 1 FROM documents WHERE doc_id % 3 = 1),
        |t AS (SELECT doc_id, cl, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |g AS (SELECT doc_id, cl, unnest(range(0, len(toks) - 3)) AS pos, toks FROM t WHERE len(toks) >= 4),
        |gd AS (SELECT doc_id, cl, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 4), ' ')) AS dg FROM g),
        |ng AS (SELECT doc_id, count(*) AS n FROM gd GROUP BY doc_id),
        |ex AS (SELECT gd.doc_id, gd.cl, gd.pos, gd.dg,
        |         unnest(range(greatest(gd.pos - 3, 0), least(gd.pos, greatest(ng.n - 4, 0)) + 1)) AS wid
        |       FROM gd JOIN ng USING (doc_id)),
        |mn AS (SELECT doc_id, wid, min(dg) AS mdg FROM ex GROUP BY doc_id, wid),
        |sel AS (SELECT e.doc_id, e.cl, e.wid, m.mdg AS dg, max(e.pos) AS pos
        |        FROM ex e JOIN mn m ON e.doc_id = m.doc_id AND e.wid = m.wid AND e.dg = m.mdg
        |        GROUP BY e.doc_id, e.cl, e.wid, m.mdg),
        |-- the side CLASS rides the construction (a magnitude rule like
        |-- doc_id >= 1000000 misreads 10x ScaleGen's strided catalog ids
        |-- as delta replicas -- sweep-caught, the q171 lesson again)
        |fp AS (SELECT DISTINCT doc_id, dg, cl FROM sel),
        |keep AS (SELECT dg FROM fp GROUP BY dg HAVING count(*) <= 8),
        |fpk AS (SELECT fp.doc_id, fp.dg, fp.cl FROM fp JOIN keep USING (dg))
        |SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM fpk a JOIN fpk b ON a.dg = b.dg AND a.cl = 0 AND b.cl = 1
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 3
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      import graft.operators.{Stores, TextOps}
      val t = "graft_q189_winnow"
      Stores.dropStoreTable(s, t)
      TextOps.writeWinnowStore(
        documents(s, d).filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", t, k = 4, w = 4, buckets = 8)
    } { (s, d) =>
      import graft.operators.TextOps
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val delta = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("prefix edit "), col("text")).as("text")))
      val deltaFps = TextOps.winnowedFingerprints(delta, "doc_id", "text",
        k = 4, w = 4)
      TextOps.winnowedCrossPairs(s.table("graft_q189_winnow"), deltaFps,
          minShared = 3, maxDf = 8)
        .orderBy("a", "b")
    },

    // ADMISSION-pair semantics as a driver-gated contract (the r15
    // stream-probe upgrade, q189's shape extended): the delta carries
    // (a) natural docs, (b) +1M prefix edits of catalog docs (cross
    // pairs), (c) RE-DELIVERED catalog docs verbatim — same doc_id on
    // both sides — and (d) +2M prefix edits of natural delta docs
    // (WITHIN-delta pairs). The operator must emit cross AND
    // within-delta pairs order-normalized, never pair a re-delivered
    // id with itself, and count a shared digest ONCE per unordered
    // pair even when an id sits on both sides (one vote per
    // (pair, digest)). The oracle replays the winnowing, the
    // side-summed df cap (a re-delivered doc counts on BOTH sides —
    // the operator's documented conservative arithmetic), both pair
    // legs, the normalization, and the per-(pair, digest) dedup.
    sqlWithSetup("q218_winnow_admission_pairs",
      """WITH corpus AS (
        |  SELECT doc_id, text, 0 AS cl FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'prefix edit ' || text, 1 FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 3 = 1 AND doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'prefix edit ' || text, 1 FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 0),
        |t AS (SELECT doc_id, cl, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |g AS (SELECT doc_id, cl, unnest(range(0, len(toks) - 3)) AS pos, toks FROM t WHERE len(toks) >= 4),
        |gd AS (SELECT doc_id, cl, pos, md5(array_to_string(list_slice(toks, pos + 1, pos + 4), ' ')) AS dg FROM g),
        |ng AS (SELECT doc_id, count(*) AS n FROM gd WHERE cl = 0 GROUP BY doc_id
        |       UNION SELECT doc_id, count(*) FROM gd WHERE cl = 1 GROUP BY doc_id),
        |ex AS (SELECT gd.doc_id, gd.cl, gd.pos, gd.dg,
        |         unnest(range(greatest(gd.pos - 3, 0), least(gd.pos, greatest(ng.n - 4, 0)) + 1)) AS wid
        |       FROM gd JOIN ng USING (doc_id)),
        |mn AS (SELECT doc_id, wid, min(dg) AS mdg FROM ex GROUP BY doc_id, wid),
        |sel AS (SELECT e.doc_id, e.cl, e.wid, m.mdg AS dg, max(e.pos) AS pos
        |        FROM ex e JOIN mn m ON e.doc_id = m.doc_id AND e.wid = m.wid AND e.dg = m.mdg
        |        GROUP BY e.doc_id, e.cl, e.wid, m.mdg),
        |fp AS (SELECT DISTINCT doc_id, dg, cl FROM sel),
        |keep AS (SELECT dg FROM fp GROUP BY dg HAVING count(*) <= 8),
        |fpk AS (SELECT fp.doc_id, fp.dg, fp.cl FROM fp JOIN keep USING (dg)),
        |raw AS (
        |  SELECT a.dg, a.doc_id AS u, b.doc_id AS v
        |  FROM fpk a JOIN fpk b ON a.dg = b.dg AND a.cl = 0 AND b.cl = 1
        |  UNION ALL
        |  SELECT a.dg, a.doc_id, b.doc_id
        |  FROM fpk a JOIN fpk b ON a.dg = b.dg AND a.cl = 1 AND b.cl = 1 AND a.doc_id < b.doc_id),
        |norm AS (SELECT DISTINCT dg, least(u, v) AS a, greatest(u, v) AS b
        |         FROM raw WHERE u <> v)
        |SELECT a, b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM norm GROUP BY a, b HAVING count(*) >= 3
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      import graft.operators.{Stores, TextOps}
      val t = "graft_q218_winnow"
      Stores.dropStoreTable(s, t)
      TextOps.writeWinnowStore(
        documents(s, d).filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", t, k = 4, w = 4, buckets = 8)
    } { (s, d) =>
      import graft.operators.TextOps
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val delta = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("prefix edit "), col("text")).as("text")))
        .unionByName(docs
          .filter(col("doc_id") % 3 === 1 && col("doc_id") % 17 === 0))
        .unionByName(docs
          .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(lit("prefix edit "), col("text")).as("text")))
      val deltaFps = TextOps.winnowedFingerprints(delta, "doc_id", "text",
        k = 4, w = 4)
      TextOps.winnowedAdmissionPairs(s.table("graft_q218_winnow"), deltaFps,
          minShared = 3, maxDf = 8)
        .orderBy("a", "b")
    },

    // Cross-corpus overlap WITHOUT a join (KMV/theta sketch algebra,
    // CorpusOverlap scaladoc): two planted crawls — A = doc_id%4∈{0,1,2},
    // B = doc_id%4∈{1,2,3}, ~2/3 shared — are each reduced map-side to
    // k=128 smallest distinct 60-bit md5 hashes; |A|,|B|,|A∩B|,|A∪B|,
    // |B∖A| and Jaccard are then estimated from 256 longs. The sketch
    // chain is a FULL hash oracle (md5 hex → positional 60-bit integer
    // → per-corpus k smallest → common-theta set counts → one IEEE
    // division each — all exactly replayed in SQL), unlike HLL's
    // contract-only q133. The `ok_*` columns additionally assert the
    // estimator law against the exact counts (err ≤ 4σ; σ ≈ 1/√(k−2)
    // for the cardinalities — measured max across sf0.01/10×/100× is
    // well inside; SCALE.md r15).
    sql("q220_corpus_overlap_kmv",
      """WITH tagged AS (
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
        |    CAST(len([x FOR x IN akmv IF list_contains(bkmv, x) AND x < theta]) AS BIGINT) AS common_below,
        |    CAST(len([x FOR x IN akmv IF x < theta]) + len([x FOR x IN bkmv IF x < theta AND NOT list_contains(akmv, x)]) AS BIGINT) AS union_below
        |  FROM th),
        |est AS (SELECT theta, common_below, union_below,
        |    CASE WHEN len(akmv) < 128 THEN CAST(len(akmv) AS BIGINT)
        |         ELSE CAST(floor(127.0 * 1152921504606846976.0 / CAST(akmv[128] AS DOUBLE)) AS BIGINT) END AS est_a,
        |    CASE WHEN len(bkmv) < 128 THEN CAST(len(bkmv) AS BIGINT)
        |         ELSE CAST(floor(127.0 * 1152921504606846976.0 / CAST(bkmv[128] AS DOUBLE)) AS BIGINT) END AS est_b,
        |    CAST(floor(CAST(common_below AS DOUBLE) * 1152921504606846976.0 / CAST(theta AS DOUBLE)) AS BIGINT) AS est_inter,
        |    CAST(floor(CAST(union_below AS DOUBLE) * 1152921504606846976.0 / CAST(theta AS DOUBLE)) AS BIGINT) AS est_union,
        |    CASE WHEN union_below > 0
        |         THEN CAST(floor(CAST(common_below AS DOUBLE) * 1000000.0 / CAST(union_below AS DOUBLE)) AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS jaccard_e6
        |  FROM cnt),
        |ex AS (SELECT
        |    count(DISTINCT CASE WHEN corpus = 'A' THEN h END) AS exact_a,
        |    count(DISTINCT CASE WHEN corpus = 'B' THEN h END) AS exact_b,
        |    count(DISTINCT h) AS exact_union
        |  FROM hd)
        |SELECT est_a, est_b, est_inter, est_union,
        |  GREATEST(0, est_union - est_a) AS est_b_new, jaccard_e6,
        |  exact_a, exact_b, exact_a + exact_b - exact_union AS exact_inter, exact_union,
        |  abs(est_a - exact_a) * 1000 <= 360 * exact_a AS ok_a,
        |  abs(est_b - exact_b) * 1000 <= 360 * exact_b AS ok_b,
        |  abs(est_union - exact_union) * 1000 <= 360 * exact_union AS ok_union,
        |  abs(est_inter - (exact_a + exact_b - exact_union)) * 1000
        |    <= 500 * (exact_a + exact_b - exact_union) AS ok_inter
        |FROM est, ex""".stripMargin) { (s, d) =>
      import graft.operators.CorpusOverlap
      val k = 128
      val docs = documents(s, d).filter(col("text").isNotNull)
      val tagged = docs.filter(col("doc_id") % 4 < 3)
        .withColumn("corpus", lit("A"))
        .unionByName(docs.filter(col("doc_id") % 4 > 0)
          .withColumn("corpus", lit("B")))
      val sk = CorpusOverlap.kmvSketches(tagged, "corpus", col("text"), k)
      val card = CorpusOverlap.overlapPair(sk, "corpus", "A", "B", k)
      val ex = tagged
        .select(col("corpus"), CorpusOverlap.kmvHash(col("text")).as("h"))
        .agg(
          countDistinct(when(col("corpus") === "A", col("h"))).as("exact_a"),
          countDistinct(when(col("corpus") === "B", col("h"))).as("exact_b"),
          countDistinct(col("h")).as("exact_union"))
        .withColumn("exact_inter",
          col("exact_a") + col("exact_b") - col("exact_union"))
      card.crossJoin(broadcast(ex))
        .select(
          col("est_a"), col("est_b"), col("est_inter"), col("est_union"),
          col("est_b_new"), col("jaccard_e6"),
          col("exact_a"), col("exact_b"), col("exact_inter"), col("exact_union"),
          (abs(col("est_a") - col("exact_a")) * 1000 <= lit(360) * col("exact_a")).as("ok_a"),
          (abs(col("est_b") - col("exact_b")) * 1000 <= lit(360) * col("exact_b")).as("ok_b"),
          (abs(col("est_union") - col("exact_union")) * 1000 <= lit(360) * col("exact_union")).as("ok_union"),
          (abs(col("est_inter") - col("exact_inter")) * 1000 <= lit(500) * col("exact_inter")).as("ok_inter"))
    }
  )
}
