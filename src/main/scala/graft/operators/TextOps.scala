package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-level text operators (beyond the per-row functions in
  * TextFunctions): TF-IDF scoring, top-terms extraction, and
  * gaps-and-islands sessionization. These are the library forms of the
  * oracle-checked catalog queries q39/q31 — a user composes them over
  * any DataFrame with the right columns.
  */
object TextOps {

  /** (id, term, tf, df, score) for every term occurrence.
    * One explode + two aggregations. The document-frequency side is
    * deliberately NOT broadcast-hinted: the vocabulary is usually tiny
    * relative to the corpus, but at web scale a distinct-token table
    * can exceed broadcast limits — AQE sees the df aggregate's real
    * shuffle size at runtime and picks broadcast when it fits, sort-
    * merge when it doesn't (the size guard a static hint cannot give).
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // df from the already-distinct tf rows, not the raw token stream —
    // a plain count, and one less O(tokens) shuffle
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("id"), col("term"), col("tf"), col("df"),
        (col("tf") * log(col("n_docs") / col("df"))).as("score"))
  }

  /** Top-k highest-TF-IDF terms per document (deterministic term
    * tiebreak).
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("term"))
    tfidf(docs, idCol, textCol)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Token-set (1-gram) Jaccard near-dup pairs within blocking
    * buckets — the library form of catalog query q38. Explode distinct
    * tokens, self-join on token within the blocking columns, count
    * intersections, derive |A∪B| = |A|+|B|−|A∩B|: the token join
    * shuffles on the token key and never materializes the O(n²) pair
    * space outside the blocks.
    *
    * `maxDfFraction` is the skew guard: tokens whose document
    * frequency exceeds this fraction of the corpus are dropped BEFORE
    * the self-join (from both the intersection counts and the set
    * sizes, so the Jaccard is consistently over the pruned
    * vocabulary). Without it a corpus-wide stopword forms one join
    * group of ~all documents in its block, and hot-token groups grow
    * quadratically with corpus size even though blocking bounds the
    * total; high-df tokens carry ~no Jaccard signal, so the standard
    * fix is to prune them, which bounds every join group at
    * `maxDfFraction × docs`. Returns (id1, id2, jaccard), id1 < id2,
    * for pairs sharing at least one surviving token.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String] = Nil, maxDfFraction: Double = 0.5): DataFrame = {
    val blocks = blockCols.map(col)
    val allToks = docs.select(col(idCol).as("id") +: blocks :+
      explode(TextFunctions.tokenSet(col(textCol))).as("tok"): _*)
    // document frequency from the distinct (doc, tok) stream; the
    // vocabulary-sized df side is AQE-broadcast into the pruning join
    val dfreq = allToks.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val toks = allToks.join(dfreq, "tok").crossJoin(broadcast(nDocs))
      .filter(col("df") <= col("n_docs") * maxDfFraction)
      .select(col("id") +: blocks :+ col("tok"): _*)
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val a = toks.alias("a")
    val b = toks.alias("b")
    val cond = blockCols.foldLeft(
      col("a.tok") === col("b.tok") && col("a.id") < col("b.id")) {
      (acc, c) => acc && col(s"a.$c") === col(s"b.$c")
    }
    a.join(b, cond)
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_both"))
      .join(sizes.select(col("id").as("id1"), col("n").as("na")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n").as("nb")), "id2")
      .select(col("id1"), col("id2"),
        (col("n_both").cast("double") / (col("na") + col("nb") - col("n_both")))
          .as("jaccard"))
  }

  /** Near-CONTAINMENT pairs (Broder 1997's containment coefficient
    * C(A,B) = |S(A)∩S(B)| / |S(A)| over `n`-token shingle sets): finds
    * the quote-expansion / subset near-dups that symmetric Jaccard
    * misses — a short document fully embedded in a long one has
    * Jaccard |A|/|B| (tiny) but containment ~1. Returns
    * (id1, id2, c1_e6, c2_e6), id1 < id2, both directions in exact
    * integer micro-units, for pairs where EITHER direction reaches
    * `minContainment`.
    *
    * Scale shape: the q38 blocked-token-join skeleton over shingle
    * DIGESTS — distinct md5 shingles per doc (32-byte keys on the
    * wire, one string build per shingle), document-frequency pruning
    * before the self-join, and blocking (language here) keeps pairs
    * inside their slice. The pruning is consistent: df-pruned shingles
    * leave both the intersection counts AND the set sizes, so the
    * coefficient stays a true containment over the surviving
    * vocabulary.
    *
    * The df cap is the MINIMUM of a corpus fraction and an ABSOLUTE
    * bound (`maxDf`). The fraction alone is not a scale guard: it
    * LOOSENS as the corpus grows (0.5 × 500 k admits a shingle in a
    * quarter-million documents — a 3×10¹⁰-pair join group), which
    * measured as 7.7× growth per 10× of data at the 100× probe. The
    * absolute bound pins the largest join group at C(maxDf, 2)
    * REGARDLESS of corpus size — boilerplate shared by thousands of
    * documents carries no containment signal, exactly like q38's hot
    * tokens — making the pair join O(shingles × maxDf), linear in the
    * corpus. With the cap the same probe measured ~linear (10.8 s at
    * 10×, ~30 s at 100×).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, blockCols: Seq[String] = Nil, maxDfFraction: Double = 0.5,
      maxDf: Int = 2500, minContainment: Double = 0.8): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    // digests ride as 16-byte BINARY (unhex of the md5 hex), not the
    // 32-char string: the digest is internal join plumbing and the
    // hex → binary map is bijective, so df counts and join groups are
    // IDENTICAL (oracle untouched) while the spill-bound merge join
    // sorts half the key bytes — measured on the 100× probe where
    // this join is the catalog's top cost
    // the shingle-digest frame is referenced by the df aggregate, the
    // size aggregate and the pair join legs — inline, each reference
    // re-ran the per-shingle md5 HOF over the corpus; a lazy checkpoint
    // (r15, guide §3.3) runs it once. (id, blocks, d) rows only. The
    // interleaved A/B at sf0.1 (local[4], 10 rounds) read checkpoint
    // med 2.65 s vs inline 3.11 s, quartiles apart.
    // containmentPairsFromStore does NOT get this treatment: its input
    // is the bucketed store whose exchange-free sort-merge joins a
    // checkpoint would destroy.
    val allSh = docs.select(col(idCol).as("id") +: blockCols.map(col) :+
      explode(array_distinct(
        transform(Dedup.shingles(col(textCol), n), s => unhex(md5(s))))).as("d"): _*)
      .localCheckpoint(false)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    containmentFromShingles(allSh, nDocs, blockCols, maxDfFraction, maxDf, minContainment)
  }

  /** Persist the `(id, blocks…, d)` shingle-digest table BUCKETED and
    * bucket-sorted on the digest — the production layout for repeated
    * containment runs over a growing corpus. Everything downstream of
    * the shingle explosion in [[containmentPairs]] is digest-keyed
    * (the df count, the df-cap join, the pair self-join), so a store
    * bucketed on `d` runs ALL of it without a single exchange or sort
    * on the corpus side (plan-pinned in DigestStoreSpec) — where the
    * inline form re-shingles, re-shuffles and re-sorts the 60M-row
    * digest table on every run (the r7 verdict's q96 `weak` finding,
    * with its 24–79 s session variance from the spilling sort).
    * `repartition(buckets, d)` matches Spark's bucket hash, so each
    * bucket is one file and the on-disk sort survives into the plan.
    * A one-row `<table>_meta` sidecar carries the corpus size for the
    * df-fraction cap (so the probe never rescans ids to count docs).
    */
  def writeContainmentStore(docs: DataFrame, idCol: String, textCol: String,
      table: String, n: Int = 3, blockCols: Seq[String] = Nil,
      buckets: Int = 64): Unit = {
    require(n >= 1, "shingle size must be positive")
    val allSh = docs.select(col(idCol).as("id") +: blockCols.map(col) :+
      explode(array_distinct(
        transform(Dedup.shingles(col(textCol), n), s => unhex(md5(s))))).as("d"): _*)
    allSh.repartition(buckets, col("d"))
      .write.mode("overwrite")
      .bucketBy(buckets, "d").sortBy(("d" +: blockCols).head, ("d" +: blockCols).tail: _*)
      .saveAsTable(table)
    docs.agg(count(lit(1)).as("n_docs"))
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** [[containmentPairs]] over a persisted [[writeContainmentStore]]
    * table: identical output (differential-spec'd), zero exchanges and
    * zero sorts up to and including the pair self-join.
    */
  def containmentPairsFromStore(spark: org.apache.spark.sql.SparkSession,
      table: String, blockCols: Seq[String] = Nil, maxDfFraction: Double = 0.5,
      maxDf: Int = 2500, minContainment: Double = 0.8): DataFrame =
    containmentFromShingles(spark.table(table), spark.table(s"${table}_meta"),
      blockCols, maxDfFraction, maxDf, minContainment)

  private def containmentFromShingles(allSh: DataFrame, nDocs: DataFrame,
      blockCols: Seq[String], maxDfFraction: Double,
      maxDf: Int, minContainment: Double): DataFrame = {
    require(maxDf >= 2, "maxDf below 2 would drop every shared shingle")
    require(minContainment > 0 && minContainment <= 1, "minContainment in (0, 1]")
    val blocks = blockCols.map(col)
    val dfreq = allSh.groupBy("d").agg(count(lit(1)).as("df"))
    // The df cap is applied as a broadcast ANTI-join against the HOT
    // blacklist, not an equi-join with the full df table: the
    // blacklist is bounded by shingle_count / maxDf entries (only
    // boilerplate shared by > maxDf docs), so it always broadcasts,
    // the corpus-sized shingle table never shuffles for the cap, and —
    // decisive for the bucketed-store path — a broadcast hash join
    // preserves the streamed side's sort order, where the old
    // join+crossJoin route (BroadcastNestedLoopJoin) erased it and
    // forced the pair join to re-sort the whole digest table.
    val hot = dfreq.crossJoin(broadcast(nDocs))
      .filter(col("df") > least(col("n_docs") * maxDfFraction, lit(maxDf.toDouble)))
      .select("d")
    val sh = allSh.join(broadcast(hot), Seq("d"), "left_anti")
      .select(col("id") +: blocks :+ col("d"): _*)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("ns"))
    val cond = blockCols.foldLeft(
      col("a.d") === col("b.d") && col("a.id") < col("b.id")) {
      (acc, c) => acc && col(s"a.$c") === col(s"b.$c")
    }
    val minE6 = math.floor(minContainment * 1000000.0).toLong
    // merge hint on both sides: identical exchanges → ReuseExchange
    // evaluates the shingle projection ONCE (AQE would broadcast one
    // side at small scale and tokenize the corpus twice). Sort-merge,
    // NOT shuffle_hash: a hash join builds one whole partition of the
    // corpus-sized shingle table in memory per task — 32 concurrent
    // tasks ≈ the entire table resident at once, which OOM'd the 100×
    // probe; the merge sort spills gracefully at any scale.
    sh.as("a").hint("merge").join(sh.as("b").hint("merge"), cond)
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_both"))
      .join(sizes.select(col("id").as("id1"), col("ns").as("na")), "id1")
      .join(sizes.select(col("id").as("id2"), col("ns").as("nb")), "id2")
      .select(col("id1"), col("id2"),
        expr("n_both * 1000000 div na").as("c1_e6"),
        expr("n_both * 1000000 div nb").as("c2_e6"))
      .filter(greatest(col("c1_e6"), col("c2_e6")) >= minE6)
  }

  /** Fixed-size token chunking for training-data preparation: each
    * document becomes ceil(n_tokens / chunkSize) chunks of up to
    * `chunkSize` tokens, id'd 0-based in token order. Fully relational
    * — explode tokens with position, group by (doc, pos / chunkSize) —
    * so a 100 TB corpus chunks in one shuffle with no per-document
    * driver logic; chunk text is reassembled order-stable via
    * array_sort over (pos, token) structs. Empty documents yield no
    * chunks.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int): DataFrame =
    // native per-row chunking (r15): chunks are per-document local, so
    // the token posexplode, the (id, chunk_id) exchange and the
    // per-group sort of the aggregate formulation (kept below as the
    // differential oracle) were never inherent — one kernel call per
    // row emits every chunk in order, and posexplode's position IS the
    // chunk id.
    docs.select(col(idCol).as("id"),
      posexplode(graft.plans.ChunkTokensExpr.chunk_tokens(col(textCol), chunkSize))
        .as(Seq("chunk_id", "__c")))
      // the otherwise-less `when` (pos >= 0 always holds) is a
      // value-level no-op that keeps chunk_id NULLABLE, exactly as the
      // aggregate formulation's floor-of-divide emitted it — the
      // driver gate hashes the output schema, so nullability is part
      // of the contract (a lit(true) branch folds at analysis and
      // loses the nullability again)
      .select(col("id"),
        when(col("chunk_id") >= 0, col("chunk_id").cast("long")).as("chunk_id"),
        col("__c.chunk_text").as("chunk_text"), col("__c.n_tokens").as("n_tokens"))

  /** The pre-r15 explode-aggregate chunking — [[chunkTokens]]'s
    * differential oracle (the [[Dedup.shinglesHof]] convention: the
    * oracle shares no kernel with the formulation it checks beyond the
    * tokenizer differential-pinned elsewhere).
    */
  private[graft] def chunkTokensAgg(docs: DataFrame, idCol: String,
      textCol: String, chunkSize: Int): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
    tok.groupBy(col("id"), floor(col("pos") / chunkSize).cast("long").as("chunk_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          _.getField("tok")), " ").as("chunk_text"),
        count(lit(1)).as("n_tokens"))
  }

  /** Okapi BM25 scores for a FIXED term set (the ad-hoc-search shape:
    * a handful of query terms against the whole corpus). Per-term
    * term frequencies are counted inside the row projection
    * (`filter(tokens, _ = term)` — codegen, no explode), and the only
    * non-scan work is ONE tiny global aggregate (corpus size, average
    * document length, per-term document frequencies) that is broadcast
    * back — so the whole query is two scans and zero wide shuffles,
    * the plan that survives a 100-TB corpus. Docs matching no term are
    * dropped.
    *
    * Output: (id, tf_<term>..., score) with
    * score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) — the standard
    * non-negative BM25+ idf.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    // ALL per-term counts from ONE compiled pass (multi-set hits
    // kernel). The per-term `size(filter(tokens, _ === term))` form
    // re-walked the token array per term, and — worse — the any-hit
    // filter below pushes into the parquet scan, where each naive tf
    // re-ran AGAIN per row; with one deterministic kernel call the
    // scan filter and the projection share a single evaluation under
    // codegen subexpression elimination (measured ~2× on the 100×
    // corpus).
    val hits = graft.plans.TokenSetHitsExpr.token_set_hits(
      col(textCol), terms.map(Seq(_)))
    val tfCols = terms.indices.map(i =>
      hits.getItem(i).cast("double").as(s"__tf$i"))
    val s = docs.select((col(idCol).as("id") +:
      size(TextFunctions.tokens(col(textCol))).cast("double").as("__dl") +: tfCols): _*)
    val gAggs = count(lit(1)).cast("double").as("__n") +: avg("__dl").as("__avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1).otherwise(0)).cast("double").as(s"__df$i"))
    val g = s.agg(gAggs.head, gAggs.tail: _*)
    val perTerm = terms.indices.map { i =>
      val tf = col(s"__tf$i"); val df = col(s"__df$i")
      when(tf > 0,
        log(lit(1.0) + (col("__n") - df + 0.5) / (df + 0.5)) *
          tf * (k1 + 1.0) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }
    val anyHit = terms.indices.map(i => col(s"__tf$i") > 0).reduce(_ || _)
    s.crossJoin(broadcast(g))
      .filter(anyHit)
      .select((col("id") +:
        terms.indices.map(i => col(s"__tf$i").cast("long").as(s"tf_${terms(i)}")) :+
        perTerm.reduce(_ + _).as("score")): _*)
  }

  /** Per-document token length — the doc-side stats artifact BM25
    * needs next to a postings store: `(id, dl)`. Built once per
    * corpus; [[bm25FromStores]] reads it instead of rescanning text.
    */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      size(graft.functions.TextFunctions.tokens(col(textCol)))
        .cast("long").as("dl"))

  /** Okapi BM25 over SAVED ARTIFACTS — a postings store `(term, id,
    * tf)` ([[Search.buildPostings]]) plus a doc-length store `(id,
    * dl)` ([[docLengths]]) — instead of the corpus text: the serving
    * path for a long-lived index, and the SQL door's `graft_bm25`.
    * Score-identical to [[bm25]] over the same corpus (the per-term
    * expression is copied verbatim and summed in term order, so even
    * the float rounding matches — differential-spec-pinned).
    *
    * Scale shape: the term filter reaches the postings scan (bucketed
    * store ⇒ |terms| posting lists, corpus-independent), one id-keyed
    * aggregate over those rows into positional tf columns, a join
    * with the doc-length store, and two broadcast one-row frames
    * (global stats, per-term df). Nothing rescans text; nothing
    * touches unmatched documents except the (id, dl) store's scalar
    * aggregate.
    */
  def bm25FromStores(postings: DataFrame, docLens: DataFrame,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(terms == terms.distinct, "query terms must be distinct")
    val p = postings.filter(col("term").isin(terms: _*))
    // per-doc tf vector: matched posting rows aggregate straight into
    // POSITIONAL __tf$i columns (never term-named columns — a term
    // equal to 'id', or carrying a backtick, must not be able to
    // collide with or break column resolution); only docs with >= 1
    // matched term appear, which IS bm25's any-hit filter
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("tf"))), lit(0L))
        .cast("double").as(s"__tf$i") }
    val tfs = p.groupBy("id").agg(tfAggs.head, tfAggs.tail: _*)
    // per-term document frequency: one posting row per (term, id)
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L))
        .cast("double").as(s"__df$i") }
    val dfs = p.agg(dfAggs.head, dfAggs.tail: _*)
    val g = docLens.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("dl").cast("double")).as("__avgdl"))
    val s = tfs
      .join(docLens.select(col("id"), col("dl").cast("double").as("__dl")), Seq("id"))
      .crossJoin(broadcast(g)).crossJoin(broadcast(dfs))
    val perTerm = terms.indices.map { i =>
      val tf = col(s"__tf$i"); val df = col(s"__df$i")
      when(tf > 0,
        log(lit(1.0) + (col("__n") - df + 0.5) / (df + 0.5)) *
          tf * (k1 + 1.0) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }
    s.select((col("id") +:
      terms.indices.map(i => col(s"__tf$i").cast("long").as(s"tf_${terms(i)}")) :+
      perTerm.reduce(_ + _).as("score")): _*)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): tokens are
    * feature-hashed into 256 buckets (md5 first byte), the per-bucket
    * log-likelihood ratio between a target slice and the whole corpus
    * is learned from counts, and a document's importance is the sum of
    * its tokens' bucket log-ratios. Returns (id, n_toks, imp_e6) with
    * the per-bucket ratio pre-floored to integer micro-units — from
    * there on everything is EXACT integer arithmetic, so the score is
    * invariant to aggregation order (the property that makes the
    * result reproducible across partitionings and engines).
    *
    * Scale shape: one explode, a map-side-combinable (id, bucket)
    * count, a 256-row weight table broadcast back, one final
    * aggregation on id. The weight learning itself is a 256-group
    * aggregate — constant-size regardless of corpus size.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val tok = docs.select(col(idCol).as("id"), isTarget.as("__t"),
      explode(TextFunctions.tokens(col(textCol))).as("__token"))
    val bucketed = tok.select(col("id"), col("__t"),
      substring(md5(col("__token")), 1, 2).as("__bucket"))
    // deliberately TWO passes over the exploded tokens: the weight
    // branch is a 256-group aggregate that combines map-side to
    // almost nothing, and the count branch's only wide movement is
    // docs×256 rows. The tempting "derive weights from the counts"
    // single-pass rewrite threads both branches through the
    // (id, bucket) aggregate — a second corpus-sized shuffle that
    // measured SLOWER at 100× (11.5 s vs 10.1 s) than re-scanning:
    // scans scale better than shuffles.
    val cnt = bucketed.groupBy("id", "__bucket").agg(count(lit(1)).as("__n"))
    val weights = bucketed.groupBy("__bucket")
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).cast("double").as("__tb"),
        count(lit(1)).cast("double").as("__cb"))
      .select(col("__bucket"),
        floor(log((col("__tb") + 0.5) / (col("__cb") + 0.5)) * 1000000.0)
          .cast("long").as("__w_e6"))
    cnt.join(broadcast(weights), "__bucket")
      .groupBy("id")
      .agg(sum(col("__n")).as("n_toks"),
        sum(col("__n") * col("__w_e6")).as("imp_e6"))
  }

  /** Pairwise n-gram Jaccard overlap between corpus GROUPS (sources,
    * languages, snapshots): for every group pair, |A∩B|, |A∪B| and the
    * Jaccard in integer micro-units over the groups' distinct
    * `n`-token shingle sets. The mixing-decision diagnostic — "how
    * much of source B is already in source A" — at group granularity
    * rather than document granularity (q44/q38 answer the latter).
    *
    * Scale shape: shingles are reduced to md5 digests and deduplicated
    * per group BEFORE the shuffle (the q83 move), so the self-join is
    * an equi-join on the digest whose groups are bounded by the NUMBER
    * OF GROUPS (≤ ~hundreds), never by corpus size; group sizes are a
    * tiny aggregate; the final matrix is groups² rows. Integer
    * division keeps `jaccard_e6` engine-exact. Zero-overlap pairs are
    * kept (n_inter = 0) so the matrix is complete.
    */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    val sh = docs.select(col(groupCol).as("g"),
      // binary digests: internal join keys, half the bytes of md5 hex
      explode(array_distinct(transform(Dedup.shingles(col(textCol), n),
        s => unhex(md5(s))))).as("d"))
      // materialized once (lazy localCheckpoint before the distinct —
      // exchange-free projection): the size aggregate and the
      // per-digest set aggregate both reference this frame, and each
      // would re-run the shingle/md5 HOF over the corpus (guide §3.3).
      // The interleaved A/B at sf0.1 (local[4], 10 rounds) read inline
      // med 2.52 s vs checkpoint 2.72 s, inside the checkpoint arm's
      // 2.51–2.94 s quartiles: a tie, so the checkpoint stays.
      .localCheckpoint(false)
      .distinct()
    val sizes = sh.groupBy("g").agg(count(lit(1)).as("n"))
    // digest merge self-join, NOT the r15 pairCounts member-set shape:
    // the r15 judge measured the pairCounts rewiring 1.32 → 2.43 s on
    // the driver box, and an interleaved same-JVM A/B (tools/AbProbe,
    // last in 027a381; 10 rounds) confirmed it — self-join med 1.46 s
    // vs pairCounts 1.75 s. The set aggregate pays an ObjectHashAggregate
    // over ~every digest to save the join's sort legs, but the digest
    // frame is checkpointed (narrow, deduped per group pre-shuffle) so
    // the second scan it saved was already cheap; the q142 revert
    // discipline says keep the measured winner.
    val inter = sh.as("a").hint("merge")
      .join(sh.as("b").hint("merge"),
        col("a.d") === col("b.d") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("src1"), col("b.g").as("src2"))
      .agg(count(lit(1)).as("n_inter"))
    sizes.select(col("g").as("src1"), col("n").as("n1"))
      .join(sizes.select(col("g").as("src2"), col("n").as("n2")),
        col("src1") < col("src2"))
      .join(inter, Seq("src1", "src2"), "left")
      .na.fill(0L, Seq("n_inter"))
      .select(col("src1"), col("src2"), col("n_inter"),
        (col("n1") + col("n2") - col("n_inter")).as("n_union"),
        expr("n_inter * 1000000 div (n1 + n2 - n_inter)").as("jaccard_e6"))
  }

  /** Per-document novelty against an already-ingested catalog: for
    * every delta document, the fraction of its DISTINCT `n`-token
    * shingle digests that the catalog has never seen — the
    * delta-ingest companion to [[Dedup.incrementalExact]] (which asks
    * "is this exact text new?"; novelty asks "how much of this text is
    * new?", the RefinedWeb/Dolma near-dup admission signal for
    * continuously-growing corpora).
    *
    * Scale shape: the catalog side reduces to its DISTINCT shingle
    * digest store — in production a persisted, append-maintained table
    * that the catalog text never has to be rescanned for. The join is
    * digest-keyed: the delta explodes to (doc, digest) pairs, the
    * store is probed once per distinct delta shingle, and the result
    * re-aggregates to one row per delta document. No sort, no window;
    * everything is hash exchanges bounded by the delta's shingle
    * volume plus one one-time distinct over the store. Counts are
    * integers and `novelty_e4` is integer division — engine-exact.
    */
  /** Binary shingle digests: internal probe keys, half the bytes of
    * md5 hex. */
  private def shingleDigests(c: Column, n: Int): Column =
    array_distinct(transform(Dedup.shingles(c, n), s => unhex(md5(s))))

  def noveltyVsCatalog(catalog: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    val store = catalog.select(explode(shingleDigests(col(textCol), n)).as("__d")).distinct()
    noveltyAgainstDigests(store, delta, idCol, textCol, n)
  }

  /** Persist the catalog's DISTINCT shingle-digest set `(d BINARY)` as
    * a bucketed table — [[noveltyVsCatalog]]'s store side, maintained
    * by appending each accepted delta's novel digests instead of
    * re-shingling the corpus per run (same store discipline as
    * [[graft.operators.Dedup.writeDigestStore]]).
    */
  def writeShingleDigestStore(catalog: DataFrame, textCol: String,
      table: String, n: Int = 3, buckets: Int = 64): Unit =
    catalog.select(explode(shingleDigests(col(textCol), n)).as("d")).distinct()
      .repartition(buckets, col("d"))
      .write.mode("overwrite")
      .bucketBy(buckets, "d").sortBy("d")
      .saveAsTable(table)

  /** [[noveltyVsCatalog]] against a persisted [[writeShingleDigestStore]]
    * table: identical output; the store side joins exchange-free.
    */
  def noveltyVsStore(spark: org.apache.spark.sql.SparkSession,
      storeTable: String, delta: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame =
    noveltyAgainstDigests(spark.table(storeTable).select(col("d").as("__d")),
      delta, idCol, textCol, n)

  private def noveltyAgainstDigests(store: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    val dd = delta.select(col(idCol), explode(shingleDigests(col(textCol), n)).as("__d"))
    dd.join(store.withColumn("__seen", lit(true)), Seq("__d"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_e4", expr("n_novel * 10000 div n_shingles"))
  }

  /** C4-style LINE-level corpus dedup (Raffel et al. 2020 §2.2: drop
    * any line occurring ≥ `dfThreshold` times in the corpus) —
    * q121/q122's per-source top-k spans generalized to a corpus-wide
    * df-threshold rule. "Lines" here are non-overlapping `lineTokens`-
    * token chunks (the q83 chunk convention — this corpus has no
    * newlines; a newline-delimited deployment swaps the chunker for
    * `split(text, '\n')` and nothing downstream changes).
    *
    * Scale shape:
    *  - df pass: per-doc DISTINCT line digests explode and hash-
    *    aggregate — md5 digests ONLY on the wire, never line text;
    *  - flagged set: digests with df ≥ threshold collect into a
    *    single-row array that BROADCASTS (by definition flagged lines
    *    are repeated ≥ threshold times, so the distinct flagged set is
    *    ≤ total_lines/threshold and in practice boilerplate-small —
    *    the same bound C4 relies on); corpus text never shuffles, the
    *    strip is a stateless per-row chunk filter;
    *  - membership is a per-chunk array_contains scan — linear in
    *    |flagged|, fine for boilerplate-sized sets; a deployment with
    *    a pathological flagged set (adversarial template spam) should
    *    pre-sort and binary-search or Bloom-prefilter (q77 shape).
    *
    * Returns (id, cleaned, n_removed); a removed FINAL partial chunk
    * counts like any line.
    */
  def lineDedupStrip(docs: DataFrame, idCol: String, textCol: String,
      lineTokens: Int = 8, dfThreshold: Int = 3): DataFrame = {
    require(lineTokens >= 1 && dfThreshold >= 2,
      "need lineTokens >= 1 and dfThreshold >= 2")
    val L = lineTokens
    val withChunks = docs
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .withColumn("__chunks",
        when(size(col("__toks")) === 0, expr("CAST(array() AS ARRAY<STRING>)"))
          .otherwise(expr(
            s"transform(sequence(0, CAST(ceil(size(__toks) / $L.0) AS INT) - 1), " +
              s"i -> array_join(slice(__toks, i * $L + 1, $L), ' '))")))
    val flagged = withChunks
      .select(explode(array_distinct(expr("transform(__chunks, c -> md5(c))")))
        .as("__dg"))
      .groupBy("__dg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= dfThreshold)
      .agg(collect_list("__dg").as("__flagged"))
    withChunks.crossJoin(broadcast(flagged))
      .withColumn("__kept",
        expr("filter(__chunks, c -> NOT array_contains(__flagged, md5(c)))"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("cleaned"),
        (size(col("__chunks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** URL-level dedup — the cheapest dedup tier in a web-crawl
    * pipeline, run BEFORE any content hashing: canonicalize each URL
    * ([[graft.plans.UrlCanonExpr]] — case, www, default ports,
    * fragments, tracking params, param order, trailing slash) and keep
    * the smallest id per canonical form. Output: every input row with
    * its `canon` and an `is_kept` verdict (the keeper is
    * deterministic, so re-crawls keep the same representative); a
    * null-URL row has no canonical form and passes through kept.
    *
    * Scale shape: the canonical form is one codegen'd kernel pass
    * inside the scan; dedup is one hash aggregate on `canon` plus a
    * co-keyed join back — both shuffle on the same key, no window,
    * no sort.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val withCanon = df.withColumn("canon",
      graft.plans.UrlCanonExpr.url_canon(col(urlCol)))
    val keepers = withCanon.filter(col("canon").isNotNull)
      .groupBy("canon").agg(min(col(idCol)).as("__keeper"))
    // LEFT join: a null-URL row has no canonical form and therefore
    // nothing to dedup against — it passes through kept, never
    // silently dropped as an unmatched join key
    withCanon.join(keepers, Seq("canon"), "left")
      .withColumn("is_kept",
        col("canon").isNull || col(idCol) === col("__keeper"))
      .drop("__keeper")
  }

  /** The HOST of a canonicalized URL — the domain key the
    * domain-level curation tier groups on. Runs on [[urlDedup]]'s
    * `canon` form (scheme://host[/...]), so the messy-surface
    * variants (case, www, ports) have already collapsed.
    */
  def hostOf(canon: Column): Column =
    // scheme grammar matches url_canon's (letters, digits, +, -, .) —
    // a narrower pattern would silently pool s3:// or web+app:// URLs
    // into one '' pseudo-domain
    regexp_extract(canon, "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)

  /** DOMAIN-level data card: [[Profiling.dataCard]] keyed by the
    * canonical URL host instead of language — per-domain doc/token/
    * distinct/dup-rate/short-doc stats plus the ROLLUP total, the
    * audit a crawl pipeline reads before deciding which domains to
    * keep. One kernel pass for the canonical host, then the card's
    * single ROLLUP aggregate.
    */
  /** The shared per-(host, digest) pre-aggregate both [[domainCard]]
    * and [[domainFilter]] fold from (r16, guide §2.3/§3.3): tokenize +
    * md5 + URL canonicalization — the corpus-linear work — runs in ONE
    * subtree that the two relations reference IDENTICALLY, so when a
    * SQL-door text drives both audits over one source (q210), the
    * partial aggregate and its exchange canonicalize equal and AQE
    * reuse computes them once. Docs sharing a digest share the text,
    * so `__tok`/`__sh` are exact per-group constants × count; every
    * downstream field is an integer sum / count-distinct over these
    * rows — reassociation-safe, byte-identical to the flat aggregate
    * (and the same (key, dg) first phase Spark's own
    * count-distinct planning inserted anyway).
    */
  private def hostCardStats(hosted: DataFrame, textCol: String,
      shortTokens: Int): DataFrame =
    hosted
      .select(col("__host"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("__n"),
        md5(col(textCol)).as("__dg"))
      .groupBy("__host", "__dg")
      .agg(count(lit(1)).as("__c"), sum("__n").as("__tok"),
        sum(when(col("__n") < shortTokens, 1L).otherwise(0L)).as("__sh"))

  def domainCard(docs: DataFrame, urlCol: String, textCol: String,
      shortTokens: Int = 32): DataFrame = {
    val pre = hostCardStats(
      docs.withColumn("__host",
        hostOf(graft.plans.UrlCanonExpr.url_canon(col(urlCol)))),
      textCol, shortTokens)
    // Profiling.dataCard's rollup, folded from the pre-aggregate —
    // output byte-identical (all integer sums; n_distinct counts the
    // same distinct digests per scope and overall)
    val agg = pre.rollup("__host")
      .agg(sum("__c").as("n_docs"),
        sum("__tok").as("n_tokens"),
        count_distinct(col("__dg")).as("n_distinct"),
        sum("__sh").as("short_docs"),
        grouping(col("__host")).as("__total"))
    agg.select(when(col("__total") === 1, lit("__all__"))
        .otherwise(coalesce(agg("__host"), lit("__null__"))).as("scope"),
      col("n_docs"), col("n_tokens"), col("n_distinct"),
      expr("((n_docs - n_distinct) * 1000000) div n_docs").as("dup_e6"),
      col("short_docs"),
      expr("n_tokens div n_docs").as("mean_tokens"))
  }

  /** DOMAIN-level curation GATE — the enforcement action on
    * [[domainCard]]'s audit (the audit→enforce pattern: q187→q192 for
    * privacy, drift-monitor→retrain for ANN): entire domains whose
    * exact-duplicate rate exceeds `maxDupE6` (machine-generated /
    * mirrored content farms) or whose short-document rate exceeds
    * `maxShortPermille` (link farms, stub pages) are dropped
    * WHOLESALE — the RefinedWeb-style rule that a domain's pathology
    * condemns all its pages, not just the measured ones. Returns the
    * surviving rows with their `__host`, so downstream stages can keep
    * grouping by domain.
    *
    * Scale shape: one host-keyed card aggregate (domains ≪ docs), the
    * verdict joined back as a host-keyed semi-join whose build side AQE
    * sizes at runtime — the corpus side never shuffles on a normal
    * corpus (the verdict broadcasts; plan spec pins it). Deliberately
    * NO static `broadcast()` hint: the verdict relation is
    * host-cardinality-sized, and a web-scale crawl has tens of millions
    * of hosts — a hint bypasses the size check and collects that to the
    * driver REGARDLESS (the [[HotBuckets.dropOversized]] trap). Under
    * AQE a pathological host set degrades to a shuffled semi-join that
    * completes.
    */
  def domainFilter(docs: DataFrame, urlCol: String, textCol: String,
      maxDupE6: Long, maxShortPermille: Long,
      shortTokens: Int = 32): DataFrame = {
    val hosted = docs.withColumn("__host",
      hostOf(graft.plans.UrlCanonExpr.url_canon(col(urlCol))))
    // The gate folds from the SAME pre-aggregate subtree as domainCard
    // (r16), so the corpus-linear tokenize/md5/canon leg is canonically
    // identical to the card's and a SQL text driving both audits over
    // one source (q210) computes it once via AQE stage reuse. Three
    // deliberate shape choices make the subtrees match — each was
    // plan-verified against the Catalyst rule that would re-break it:
    //  - LEFT ANTI against the FAILING hosts over the WHOLE hosted
    //    frame, not the old withHost-semi-keep ∪ noHost split: any
    //    predicate on the probe side's join key (the withHost filter)
    //    is soundly inferred into the build subtree
    //    (InferFiltersFromConstraints, semi AND anti alike) below the
    //    pre-aggregate, where the card leg can't legally carry it.
    //    keep/fail partition the aggregated hosts, so anti-fail keeps
    //    exactly semi-keep's rows — and hostless rows ride through the
    //    anti join ungated (their key never enters `failing`), which
    //    deletes the old noHost union leg and its third corpus scan.
    //  - The hostless exclusion lives INSIDE one non-decomposable CASE
    //    over the aggregate's outputs (a bare `__host <> ''` conjunct
    //    would split off and push below the grouping key).
    //  - docs with no parseable host ('' — bare strings, null URLs)
    //    are NOT a domain: pooling them into one pseudo-domain would
    //    let a few hostless stubs condemn unrelated clean documents,
    //    so they pass ungated (pathology can't be attributed).
    // At scale the anti build (pathological domains, the minority by
    // construction) is also the SMALLER broadcast than keep-side.
    // the hostless flag is derived as an AGGREGATE OUTPUT (constant
    // per group), not a key predicate: a bare `__host <> ''` conjunct
    // — even one wrapped in a CASE, which SimplifyConditionalsInPredicate
    // re-splits — pushes below the grouping key into the shared
    // pre-aggregate; an agg-output reference cannot
    val failing = hostCardStats(hosted, textCol, shortTokens)
      .groupBy("__host")
      .agg(sum("__c").as("__docs"),
        count_distinct(col("__dg")).as("__distinct"),
        sum("__sh").as("__short"),
        max(when(col("__host").isNull || col("__host") === "", 1L)
          .otherwise(0L)).as("__hostless"))
      .filter(col("__hostless") === 0 &&
        (expr("((__docs - __distinct) * 1000000) div __docs") > maxDupE6 ||
          expr("(__short * 1000) div __docs") > maxShortPermille))
      .select("__host")
    // NULL-SAFE key: plain `=` soundly infers isnotnull into the anti
    // build subtree (below the pre-aggregate — the last identity
    // breaker); `<=>` admits null matches so nothing is inferred, and
    // `failing` is null-free by the gate above, so the matched set is
    // identical
    hosted.as("__dfl")
      .join(failing.as("__dfr"),
        col("__dfl.__host") <=> col("__dfr.__host"), "left_anti")
  }

  /** Crawl-POLICY audit (robots/licensing semantics): resolve each
    * document's URL against a rule table of `(host, pathPrefix, allow)`
    * entries by LONGEST-MATCHING-PREFIX within the canonical host —
    * the robots.txt resolution order — and emit the verdict alongside
    * the row. No rule matched ⇒ `defaultAllow` (crawl convention:
    * unlisted paths are allowed). A same-length allow/deny conflict is
    * impossible for well-formed rules (equal-length prefixes of one
    * path are equal), and a duplicated contradictory rule resolves to
    * ALLOW (max over the encoded score — documented, deterministic).
    *
    * Scale shape: a policy is operator-configuration-sized (thousands
    * of rules, not corpus-sized), so it ships as a LITERAL array baked
    * into one expression — the q122 broadcast-as-literal pattern. Per
    * row: one canon kernel pass, then |rules| integer/prefix compares
    * over attribute columns (host/path materialized FIRST so the HOF
    * lambda captures plain attributes, not re-evaluated regex — the
    * q117 capture lesson). ZERO joins, ZERO shuffles, gate fully
    * inside the scan stage. A host-keyed broadcast join would be the
    * shape for a genuinely huge rule set; that variant is
    * [[domainFilter]]'s semi-join shell with the verdict precomputed.
    *
    * Rule scores pre-encode `2·len(prefix) + allow` at build time so
    * the per-element lambda is two compares and a literal read.
    */
  def policyAudit(docs: DataFrame, urlCol: String,
      policy: Seq[(String, String, Boolean)],
      defaultAllow: Boolean = true): DataFrame = {
    require(policy.nonEmpty, "empty policy: gate everything by default instead")
    require(policy.forall(_._2.startsWith("/")), "path prefixes start at /")
    val rules = array(policy.map { case (h, p, a) =>
      struct(lit(h).as("h"), lit(p).as("p"),
        lit(2L * p.length + (if (a) 1L else 0L)).as("s"))
    }: _*)
    val canon = graft.plans.UrlCanonExpr.url_canon(col(urlCol))
    docs
      .withColumn("__host", hostOf(canon))
      .withColumn("__path",
        regexp_extract(canon, "^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)", 1))
      .withColumn("__rule_score",
        array_max(transform(
          filter(rules, r =>
            r("h") === col("__host") && col("__path").startsWith(r("p"))),
          r => r("s"))))
      .withColumn("__allow",
        coalesce(col("__rule_score") % 2 === 1, lit(defaultAllow)))
  }

  /** The enforcement half of [[policyAudit]] (the audit→enforce
    * pattern): only rows whose longest-prefix verdict allows them
    * survive; verdict columns stay attached for downstream audit. */
  def policyGate(docs: DataFrame, urlCol: String,
      policy: Seq[(String, String, Boolean)],
      defaultAllow: Boolean = true): DataFrame =
    policyAudit(docs, urlCol, policy, defaultAllow).filter(col("__allow"))

  /** INTRA-document repetition strip — the transform behind the
    * Gopher repetition signals (q78 measures dup-chunk fractions;
    * this removes them): within each document, split into `lineTokens`
    * aligned token chunks and keep only the FIRST occurrence of each
    * distinct chunk, preserving order — the "remove repeated
    * lines/paragraphs inside the page" cleanup every web-crawl
    * pipeline runs before corpus-level dedup (machine-generated pages
    * repeat their own content far more often than they repeat other
    * pages').
    *
    * Scale shape: the whole operator is ONE codegen'd per-row
    * projection ([[graft.plans.KeepFirstChunksExpr]]) — tokenize,
    * chunk, and hash-set keep-first in a single O(chunks) kernel pass.
    * (The original HOF formulation's first-occurrence test was
    * `array_position` per chunk — O(chunks²) per row, a straggler on
    * exactly the machine-generated million-token pages this operator
    * targets; it survives as [[intraDocRepetitionStripHof]], the
    * differential oracle.) Zero shuffles, zero state, embarrassing
    * parallelism at any corpus size; contrast [[lineDedupStrip]],
    * whose df aggregate is corpus-wide by design.
    */
  def intraDocRepetitionStrip(docs: DataFrame, idCol: String,
      textCol: String, lineTokens: Int = 8): DataFrame = {
    require(lineTokens >= 1, "need lineTokens >= 1")
    docs
      .withColumn("__s",
        graft.plans.KeepFirstChunksExpr.keep_first_chunks(col(textCol), lineTokens))
      .select(col(idCol),
        col("__s.cleaned").as("cleaned"),
        col("__s.n_removed").as("n_removed"))
  }

  /** The original HOF formulation of [[intraDocRepetitionStrip]] —
    * kept ONLY as the differential oracle for the native kernel (the
    * [[graft.functions.TextFunctions.tokensHof]] convention): same
    * outputs, but the keep-first test is `array_position` per chunk,
    * O(chunks²) per row.
    */
  private[graft] def intraDocRepetitionStripHof(docs: DataFrame, idCol: String,
      textCol: String, lineTokens: Int = 8): DataFrame = {
    require(lineTokens >= 1, "need lineTokens >= 1")
    val L = lineTokens
    docs
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .withColumn("__chunks",
        when(size(col("__toks")) === 0, expr("CAST(array() AS ARRAY<STRING>)"))
          .otherwise(expr(
            s"transform(sequence(0, CAST(ceil(size(__toks) / $L.0) AS INT) - 1), " +
              s"i -> array_join(slice(__toks, i * $L + 1, $L), ' '))")))
      .withColumn("__kept",
        expr("filter(__chunks, (c, i) -> array_position(__chunks, c) = i + 1)"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("cleaned"),
        (size(col("__chunks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Cross-document substring-span dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): flag
    * every k-token window whose exact token sequence appears in at
    * least `minDocs` DISTINCT documents, then remove every token
    * covered by a flagged window — in ALL documents that carry it.
    * Overlapping flagged windows merge naturally because removal is a
    * position-coverage union, so a 30-token shared passage disappears
    * as one span, not as disjoint chunks. This is the tier between
    * `lineDedupStrip` (chunk-ALIGNED duplicates only — a shared
    * passage at a different token offset slips through) and the
    * boilerplate span miner (per-source top-N): alignment-free,
    * corpus-wide, exact.
    *
    * Lee et al. build a monolithic suffix array; the distributed
    * re-expression is sliding k-gram digests — same duplicates found
    * for spans ≥ k (their "min match length"), but every stage is a
    * hash-partitioned aggregate/join a 1000-executor cluster runs
    * without a shared index.
    *
    * Scale shape:
    *  - gram pass: k-token windows become (id, pos, digest) rows —
    *    digests ONLY on the wire, never window text; ~|tokens| rows
    *    (one per start position);
    *  - doc-frequency: per-doc DISTINCT digests first (one shuffle
    *    that also dedups within-doc repeats), then a map-side-
    *    combinable count ≥ minDocs — never countDistinct over raw
    *    occurrences;
    *  - flagged digests join back to gram occurrences on the digest
    *    key; the flagged side is |duplicated content|-sized, so AQE
    *    broadcasts it when it fits and falls back to a shuffle join
    *    when a template-spam corpus makes it big — no static hint;
    *  - coverage: each flagged OCCURRENCE explodes to its k covered
    *    positions (bounded by duplicated-content size × k, not corpus
    *    size), collapses to a per-doc position set, and joins back to
    *    the corpus BY ID — corpus text shuffles zero times; the strip
    *    is a per-row index-lambda filter over the token array.
    *
    * Returns (id, cleaned, n_removed). Documents shorter than k
    * tokens have no windows and pass through untouched, matching the
    * paper's min-match-length semantics.
    *
    * `minMatch` (default = k) decouples the PAPER's min-match length
    * from the gram size (the r10 verdict's exact-boundary item): with
    * k-gram ANCHORS and `minMatch > k`, a covered-position run shorter
    * than `minMatch` is un-flagged — so a shared span of length
    * `minMatch − 1` survives intact while `minMatch` and `minMatch + 1`
    * strip with EXACT boundaries, independent of where k falls. (With
    * `minMatch = k` every covered run is ≥ k by construction and the
    * filter is the identity — the historical behavior, hash-pinned by
    * q137.) The run filter is a gaps-and-islands pass over covered
    * positions — |duplicated content|-bounded rows, windows
    * PARTITIONED by doc.
    */
  def spanDedupStrip(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2, minMatch: Int = 0): DataFrame = {
    require(k >= 2 && minDocs >= 2, "need k >= 2 and minDocs >= 2")
    val toks = spanToks(docs, idCol, textCol)
    val grams = spanGrams(docs, idCol, textCol, k)
    // per-doc distinct digests come out of the set kernel, so the
    // (id, dg) distinct SHUFFLE the df count used to need is gone —
    // the groupBy partial-aggregates map-side (guide §2.3)
    val flagged = docs.select(col(idCol).as("__id"),
        explode(graft.plans.GramDigestsExpr.md5_gram_set(col(textCol), k)).as("__dg"))
      .groupBy("__dg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("__dg")
    spanCoverageStrip(toks, grams, flagged, idCol, k, minMatch)
  }

  private def spanToks(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"),
      TextFunctions.tokens(col(textCol)).as("__toks"))

  /** (id, pos, digest) rows — one per k-token window start. Digests
    * are the RAW 16-byte md5 from the native gram kernel (order- and
    * equality-preserving vs the historical hex string, at half the
    * shuffle width and none of the per-gram slice/join/hex
    * allocations — guide §2.3 "narrower types" + §4 "native
    * kernels"); [[spanGramsHof]] keeps the HOF twin as the
    * differential oracle.
    */
  private def spanGrams(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol).as("__id"),
        explode(graft.plans.GramDigestsExpr.md5_grams(col(textCol), k)).as("__g"))
      .select(col("__id"), col("__g.pos").as("__pos"), col("__g.dg").as("__dg"))

  /** The pre-kernel HOF gram digester (hex digests) — differential
    * oracle for [[graft.plans.GramDigestsExpr]]. */
  private[graft] def spanGramsHof(toks: DataFrame, k: Int): DataFrame =
    toks.filter(size(col("__toks")) >= k)
      .select(col("__id"), explode(expr(
        s"transform(sequence(0, size(__toks) - $k), " +
          s"i -> struct(i AS pos, md5(array_join(slice(__toks, i + 1, $k), ' ')) AS dg))"))
        .as("__g"))
      .select(col("__id"), col("__g.pos").as("__pos"), col("__g.dg").as("__dg"))

  /** Position-coverage union + per-row index-lambda strip (the
    * spanDedupStrip tail, shared with the incremental form). With
    * `minMatch > k`, covered-position RUNS shorter than `minMatch`
    * are dropped before the strip (gaps-and-islands: run id =
    * position − per-doc rank — doc-partitioned windows over
    * duplicated-content-bounded rows).
    */
  private def spanCoverageStrip(toks: DataFrame, grams: DataFrame,
      flagged: DataFrame, idCol: String, k: Int, minMatch: Int): DataFrame = {
    val coveredPos = grams.join(flagged, "__dg")
      .select(col("__id"), explode(expr(s"sequence(__pos, __pos + ${k - 1})")).as("__p"))
    // r15: the minMatch run filter as ONE per-doc aggregate instead of
    // distinct + two doc-partitioned windows (each an exchange + sort):
    // covered positions collapse to a sorted distinct array (collect_set
    // dedups, array_sort orders — the distinct and the orderBy of the
    // old gaps-and-islands pass), and a single fold walks the array
    // keeping only maximal consecutive runs of length ≥ minMatch —
    // identical to grp = p − row_number(), count ≥ minMatch. Per-doc
    // state stays covered-content-bounded exactly as the window
    // partitions were.
    val covered =
      if (minMatch <= k)
        coveredPos.groupBy("__id").agg(collect_set(col("__p")).as("__cov"))
      else
        coveredPos.groupBy("__id")
          .agg(array_sort(collect_set(col("__p"))).as("__ps"))
          .select(col("__id"), expr(
            s"""aggregate(
               |  __ps,
               |  named_struct('res', CAST(array() AS ARRAY<INT>),
               |               'run', CAST(array() AS ARRAY<INT>)),
               |  (acc, x) -> CASE
               |    WHEN size(acc.run) = 0 OR x = element_at(acc.run, -1) + 1
               |      THEN named_struct('res', acc.res,
               |                        'run', array_append(acc.run, x))
               |    ELSE named_struct(
               |      'res', CASE WHEN size(acc.run) >= $minMatch
               |                  THEN concat(acc.res, acc.run)
               |                  ELSE acc.res END,
               |      'run', array(x)) END,
               |  acc -> CASE WHEN size(acc.run) >= $minMatch
               |              THEN concat(acc.res, acc.run)
               |              ELSE acc.res END)""".stripMargin).as("__cov"))
          .filter(size(col("__cov")) > 0)
    toks.join(covered, Seq("__id"), "left")
      .withColumn("__kept",
        when(col("__cov").isNull, col("__toks"))
          .otherwise(expr("filter(__toks, (t, i) -> NOT array_contains(__cov, i))")))
      .select(col("__id").as(idCol),
        array_join(col("__kept"), " ").as("cleaned"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Persist the per-gram distinct-doc-frequency store that backs
    * incremental substring-span dedup: one (dg, df) row per k-gram
    * digest seen in the catalog, bucketed AND sorted by digest (the
    * q96/q98/q124 store treatment — probes read it exchange-free).
    * Waves of admitted documents append via [[appendToGramDfStore]];
    * wave doc-id sets are disjoint, so per-wave distinct-doc counts
    * ADD, and the probe's read-side sum reconstructs the exact
    * whole-corpus distinct-doc frequency (the additivity the q151
    * full-recompute oracle pins).
    */
  def writeGramDfStore(catalog: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 8, buckets: Int = 64): Unit = {
    gramDf(catalog, idCol, textCol, k)
      .repartition(buckets, col("dg"))
      .write.mode("overwrite")
      .bucketBy(buckets, "dg").sortBy("dg")
      .saveAsTable(table)
    ()
  }

  /** Append one admitted wave's (dg, df) rows. Read-side sums per
    * digest fold the waves (hash agg over the bucketed column — no
    * exchange); rewrite via [[writeGramDfStore]] on the union to
    * compact when partition counts grow. */
  def appendToGramDfStore(accepted: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 8, buckets: Int = 64): Unit = {
    gramDf(accepted, idCol, textCol, k)
      .repartition(buckets, col("dg"))
      .write.mode("append")
      .bucketBy(buckets, "dg").sortBy("dg")
      .saveAsTable(table)
    ()
  }

  /** The (dg, df) distinct-doc frequency basis of one document set —
    * the store's row format, also usable inline for one-shot probes. */
  def gramDf(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame =
    docs.select(explode(
        graft.plans.GramDigestsExpr.md5_gram_set(col(textCol), k)).as("dg"))
      .groupBy(col("dg")).agg(count(lit(1)).as("df"))

  /** Incremental substring-span dedup: strip a DELTA wave against the
    * catalog WITHOUT touching catalog text — a window is flagged when
    * its distinct-doc count across (catalog store + delta) reaches
    * `minDocs`, exactly as a full recompute over catalog ∪ delta would
    * flag it (store df counts distinct catalog docs; delta ids are
    * disjoint from catalog ids, so the counts add). Output ≡ the full
    * recompute restricted to delta ids — the q151 oracle replays that
    * equivalence end-to-end.
    *
    * `storeDf` is any (dg, df) frame: `spark.table(storeTable)` for
    * the persisted store (store side aggregates and joins without an
    * exchange thanks to the bucket layout), or an inline aggregate for
    * one-shot use. Only digests PRESENT in the delta matter, so the
    * join is delta-df-sized on the probe side regardless of catalog
    * size.
    */
  def incrementalSpanDedupStrip(storeDf: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, k: Int = 8, minDocs: Int = 2,
      minMatch: Int = 0): DataFrame = {
    require(k >= 2 && minDocs >= 2, "need k >= 2 and minDocs >= 2")
    val toks = spanToks(delta, idCol, textCol)
    val grams = spanGrams(delta, idCol, textCol, k)
    val deltaDf = delta.select(explode(
        graft.plans.GramDigestsExpr.md5_gram_set(col(textCol), k)).as("__dg"))
      .groupBy("__dg").agg(count(lit(1)).as("__ddf"))
    val catDf = storeDf.groupBy("dg").agg(sum("df").as("__cdf"))
    val flagged = deltaDf
      .join(catDf, deltaDf("__dg") === catDf("dg"), "left")
      .filter(col("__ddf") + coalesce(col("__cdf"), lit(0L)) >= minDocs)
      .select("__dg")
    spanCoverageStrip(toks, grams, flagged, idCol, k, minMatch)
  }

  /** [[incrementalSpanDedupStrip]] against a persisted
    * [[writeGramDfStore]] table. */
  def incrementalSpanDedupStripVsStore(spark: org.apache.spark.sql.SparkSession,
      storeTable: String, delta: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2, minMatch: Int = 0): DataFrame =
    incrementalSpanDedupStrip(spark.table(storeTable), delta, idCol, textCol,
      k, minDocs, minMatch)

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS selection scheme): over each document's
    * k-token gram digests, slide a window of `w` consecutive grams
    * and keep the minimum digest per window, breaking ties by the
    * RIGHTMOST position (the paper's robust variant). Any run of at
    * least `w + k − 1` tokens shared between two documents is
    * guaranteed to contribute at least one shared fingerprint, and
    * fingerprint density is ~2/(w+1) of gram density — the selection
    * step that makes digest-join near-dup detection cheap without
    * the recall cliff of naive `pos % stride` sampling.
    *
    * Output: one row per selected (doc, pos, digest). Documents with
    * fewer than `w` grams winnow as a single whole-doc window (one
    * fingerprint), so no short document silently drops out.
    *
    * Scale shape: per-gram fan-out is ≤ `w` window memberships (a
    * bounded explode, like the span coverage union), followed by ONE
    * doc×window hash aggregate whose min-of-(digest, −pos) struct
    * resolves digest and tie-break in a single map-side-combined
    * pass — no per-doc window function, no sort. The gram-count join
    * is an id-keyed aggregate of the same gram frame.
    */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, "need k >= 2 and w >= 2")
    docs.select(col(idCol),
        explode(graft.plans.GramDigestsExpr.winnow_select(
          col(textCol), k, w)).as("__s"))
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.dg").as("dg"))
  }

  /** The r15 pre-kernel dataframe formulation of
    * [[winnowedFingerprints]] — the differential oracle for
    * [[graft.plans.WinnowSelectExpr]] (hex digests; the kernel's raw
    * 16-byte digests compare via `lower(hex(dg))`). Winnowing is
    * per-document, so the bounded window explode, the gram-count
    * join, and the doc×window shuffle-aggregate this shape pays are
    * not inherent — the kernel resolves the whole selection inside
    * the row (optimization guide §2.4: remove shuffles outright).
    */
  private[graft] def winnowedFingerprintsHof(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, "need k >= 2 and w >= 2")
    val grams = spanGramsHof(spanToks(docs, idCol, textCol), k)
    val nGrams = grams.groupBy("__id").agg(count(lit(1)).as("__ng"))
    grams.join(nGrams, "__id")
      .select(col("__id"), col("__pos"), col("__dg"),
        explode(expr(s"sequence(greatest(__pos - ${w - 1}, 0), " +
          s"least(__pos, greatest(__ng - $w, 0)))")).as("__wid"))
      .groupBy(col("__id"), col("__wid"))
      .agg(min(struct(col("__dg"), (-col("__pos")).as("__np"))).as("__m"))
      .select(col("__id").as(idCol), (-col("__m.__np")).as("pos"),
        col("__m.__dg").as("dg"))
      .distinct()
  }

  /** Candidate near-dup pairs from [[winnowedFingerprints]] output:
    * documents pair on shared fingerprint digests, keep pairs sharing
    * at least `minShared`. Digests present in more than `maxDf`
    * documents (boilerplate — headers, license blocks) are dropped,
    * so the pair space is bounded by `maxDf²`-per-digest, never
    * all-pairs (the band-join discipline every near-dup family member
    * follows). ONE aggregate does all of it (r15): `collect_set` per
    * digest dedups (id, dg) — the old standalone `.distinct()` —
    * its size IS the df cap, and the ≤ 8-member set expands its
    * sorted pairs group-locally, which is the exact pair multiset the
    * old keep-join + self-join produced without any of their three
    * exchanges or the checkpoint that fed them.
    */
  def winnowedCandidatePairs(fps: DataFrame, idCol: String,
      minShared: Int = 3, maxDf: Int = 8): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, "need minShared >= 1, maxDf >= 2")
    Dedup.pairCounts(fps.select(col(idCol).as("__id"), col("dg")),
        Seq("dg"), "__id", maxDf)
      .filter(col("n_shared") >= minShared)
  }

  /** Persist a catalog's winnowed fingerprints as a dg-bucketed store
    * (the digest/gram-df store discipline): incremental near-dup
    * admission then probes each DELTA wave against the store without
    * re-winnowing — or re-reading — catalog text. Positions are not
    * stored; pairing only needs (doc, digest). */
  def writeWinnowStore(catalog: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 4, w: Int = 4, buckets: Int = 64): Unit = {
    winnowedFingerprints(catalog, idCol, textCol, k, w)
      .select(col(idCol).as("doc_id"), col("dg")).distinct()
      .repartition(buckets, col("dg"))
      .write.mode("overwrite")
      .bucketBy(buckets, "dg").sortBy("dg")
      .saveAsTable(table)
    ()
  }

  /** Catalog×delta near-dup candidates from fingerprint frames — the
    * INCREMENTAL form of [[winnowedCandidatePairs]]: the document
    * frequency that feeds the boilerplate cap is summed across BOTH
    * sides (catalog ids are disjoint from delta ids, so the counts
    * add), making the cross-pair output exactly the full recompute
    * over catalog ∪ delta restricted to (catalog, delta) pairs — the
    * q151 store-equivalence contract, replayed by the q189 oracle.
    *
    * `catalogFps` is any (doc_id, dg) frame: `spark.table` of a
    * [[writeWinnowStore]] table (bucket layout → the per-digest count
    * and the probe join both run without a catalog-side exchange) or
    * an inline [[winnowedFingerprints]] selection. Only digests
    * PRESENT in the delta can pair, so probe cost tracks delta size
    * regardless of catalog size.
    */
  def winnowedCrossPairs(catalogFps: DataFrame, deltaFps: DataFrame,
      minShared: Int = 3, maxDf: Int = 8): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, "need minShared >= 1, maxDf >= 2")
    // grouped member-SET probe (r15, the winnowedAdmissionPairs shape
    // restricted to the cross leg): one collect_set per side per
    // digest — the catalog aggregate rides the dg-bucketed store
    // exchange-free, the delta aggregate is the only delta exchange
    // (collect_set IS the old standalone distinct) — an INNER dg join
    // (the old cap join kept delta-only digests, but the cross leg
    // dropped them anyway), the combined-df cap on the set sizes, and
    // a group-local catalog×delta product. Pairs stay (catalog a,
    // delta b) UN-normalized, exactly the old output (including a
    // re-delivered id pairing with itself — the admission variant is
    // the one that dedups).
    // hot-key guard (r16): per-side bounded collectors at the combined
    // cap — an overflowed side evaluates to the EMPTY array (so the
    // aggregate stays non-nullable like collect_set), and the
    // group-local cross product with an empty side emits no pairs,
    // exactly the rows the old over-cap gate dropped. No buffer ever
    // holds more than maxDf + 1 members (guide §2.5/§5).
    val catG = catalogFps.select(col("doc_id"), col("dg"))
      .groupBy("dg").agg(graft.plans.BoundedCollectSetAgg
        .bounded_collect_set(col("doc_id"), maxDf).as("__cs"))
    val dltG = deltaFps.select(col("doc_id"), col("dg"))
      .groupBy("dg").agg(graft.plans.BoundedCollectSetAgg
        .bounded_collect_set(col("doc_id"), maxDf).as("__ds"))
    dltG.join(catG, Seq("dg"))
      .filter(size(col("__ds")) + size(col("__cs")) <= maxDf)
      .select(explode(expr(
        "flatten(transform(__cs, u -> transform(__ds, v -> struct(u AS a, v AS b))))"))
        .as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Catalog×delta PLUS WITHIN-DELTA winnow pairs — the text admission
    * probe: [[winnowedCrossPairs]] alone misses two near-dup documents
    * arriving in the SAME delta, so the admission probe adds
    * delta-internal pairs (a < b) under the
    * SAME combined document-frequency cap — one `keep` digest set for
    * both legs. Output = every pair of the full recompute over
    * catalog ∪ delta with at least one delta member, so batch-sequential
    * replay accumulates the complete recompute pair set. An empty
    * catalog frame is valid (wave 0: delta self-pairs only).
    *
    * Pairs are ORDER-NORMALIZED (a < b) and shared-digest votes are
    * deduplicated per (pair, digest): a RE-DELIVERED doc_id (a
    * re-crawl landing an id that already sits in the catalog) would
    * otherwise vote its shared digests once through each leg and
    * inflate `n_shared` past the threshold — and pair with itself.
    */
  def winnowedAdmissionPairs(catalogFps: DataFrame, deltaFps: DataFrame,
      minShared: Int = 3, maxDf: Int = 8): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, "need minShared >= 1, maxDf >= 2")
    // grouped member-SET probe (r15, the pairCounts discipline applied
    // across two sides): one collect_set per side per digest — the
    // catalog aggregate rides the dg-bucketed store exchange-free, the
    // delta aggregate is the ONLY delta exchange (collect_set IS the
    // old standalone distinct) — then one dg-keyed join, and each
    // ≤ maxDf union-set expands its sorted pairs group-locally, kept
    // when at least one member is a delta doc (exactly the old
    // cross ∪ within legs: a pair with both members catalog-only never
    // arose there either). array_union dedups a RE-DELIVERED doc_id
    // across sides, so the (pair, digest) vote stays deduplicated and
    // no doc pairs with itself — the old union → distinct contract.
    // The df cap sums the per-side DISTINCT counts (double-counting a
    // re-delivered id), byte-identical to the old __ddf + __cdf gate.
    // hot-key guard (r16, the incrementalNearDupCandidates shape):
    // bounded collectors per side. A delta digest over the cap drops
    // pre-join (the catalog contributes ≥ 0 to the summed gate); a
    // catalog digest over the cap must drop the JOINED row — not
    // degrade to "not in catalog" — so overflow rides through the left join as (marker
    // present, set NULL) and is filtered there. Output identical; no
    // buffer ever holds more than maxDf+1 members (guide §2.5/§5).
    val catG = catalogFps.select(col("doc_id"), col("dg"))
      .groupBy("dg").agg(graft.plans.BoundedCollectSetAgg
        .bounded_collect_set_null(col("doc_id"), maxDf).as("__cs"))
      .withColumn("__chit", lit(true))
    val dltG = deltaFps.select(col("doc_id"), col("dg"))
      .groupBy("dg").agg(graft.plans.BoundedCollectSetAgg
        .bounded_collect_set_null(col("doc_id"), maxDf).as("__ds"))
      .filter(col("__ds").isNotNull)
    dltG.join(catG, Seq("dg"), "left")
      .filter(col("__chit").isNull || col("__cs").isNotNull)
      .filter(size(col("__ds")) + coalesce(size(col("__cs")), lit(0))
        <= maxDf)
      .select(col("__ds"),
        sort_array(array_union(col("__ds"),
          coalesce(col("__cs"), slice(col("__ds"), 1, 0)))).as("__m"))
      .filter(size(col("__m")) >= 2)
      .select(col("__ds"), explode(Dedup.sortedPairs("__m")).as("__p"))
      .filter(array_contains(col("__ds"), col("__p.a")) ||
        array_contains(col("__ds"), col("__p.b")))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-document compression statistics: UTF-8 byte length and native
    * DEFLATE(level 6) compressed length — the ratio is the entropy
    * proxy behind compression-based quality gates (near-0 = machine
    * repetition, near-1 = binary junk). See [[graft.plans.DeflateLenExpr]]
    * for determinism and the contract-oracle rationale. Byte length
    * comes from a binary cast (codegen'd) so multibyte text measures
    * bytes, not chars, matching what the deflater consumes.
    */
  def compressionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      length(col(textCol).cast("binary")).cast("long").as("raw_bytes"),
      graft.plans.DeflateLenExpr.deflateLen(col(textCol)).as("deflate_bytes"))

  /** TextRank keyword centrality (Mihalcea & Tarau, "TextRank:
    * Bringing Order into Text", EMNLP 2004): weighted PageRank over
    * the token-ADJACENCY graph — high-rank tokens are the corpus's
    * structural keywords, the graph upgrade of q39's tf-idf (which
    * scores tokens in isolation).
    *
    * Integer-exact so DuckDB replays the iterations bit-for-bit (the
    * q123/q128 convention): ranks start at `scale`, and one round is
    *
    *   r'(v) = (100−damp)·scale/100 + damp·(Σ_u (r(u)·w(u,v)) div wdeg(u)) div 100
    *
    * with truncating integer division at exactly those two points.
    *
    * Scale shape: the graph basis is VOCAB-sized (adjacent-pair hash
    * agg — the q125 pair-count shape; the corpus is tokenized once and
    * never reshuffled), and each iteration is one vocab-sized join +
    * hash agg. The edge+degree basis is PERSISTED before the loop:
    * without it every iteration's lineage re-reads and re-aggregates
    * the corpus (measured 28 scans / 66 exchanges in the 3-iteration
    * static plan — exchange reuse does NOT deduplicate it, because
    * each iteration nests the basis under a different join), and with
    * it the corpus is touched once while iterations read the cached
    * vocab-sized table. The cache is dropped in `finally` (the
    * Bpe.trainMerges discipline — no lingering RDD after the call):
    * that requires materializing the result INSIDE the function, so
    * the final vocab-sized rank table is collected under the
    * `maxNodes` limit+require guard (the Unigram.maxCandidates
    * pattern) and returned as a fully-evaluated local relation — a
    * corpus whose token vocabulary exceeds the guard should raise it
    * deliberately or pre-filter the vocab, not silently cache-leak.
    * Symmetrized edges mean no dangling nodes (every node has in- and
    * out-edges), so no rank mass correction term is needed.
    */
  def textRank(docs: DataFrame, textCol: String, iters: Int = 3,
      scale: Long = 1000000L, dampPct: Int = 85,
      maxNodes: Int = 1 << 22): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100)
    val pairs = docs
      .select(TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), (l, r) -> struct(l, r))"))
        .as("p"))
      .filter(col("p.l") =!= col("p.r"))
      .groupBy(col("p.l").as("u"), col("p.r").as("v"))
      .agg(count(lit(1)).as("w"))
    val edges = pairs
      .unionByName(pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy("u", "v").agg(sum("w").as("w"))
    val deg = edges.groupBy("u").agg(sum("w").as("wdeg"))
    // driver-local iterations under an edge ceiling (the r15 local-
    // rounds pattern: BPE / PQ / union-find): the rank table already
    // COLLECTS at the end of the distributed path, so when the edge
    // basis itself fits, running the damped-sum rounds locally saves
    // iters join+aggregate stages with identical integer arithmetic
    // (Long (r·w) div wdeg terms, commutative Long sums, same
    // base/damp floor). Conf `spark.graft.textrank.localMaxEdges`
    // (0 forces distributed — the differential pin); above the
    // ceiling the distributed rounds run unchanged.
    val localMax = docs.sparkSession.conf
      .getOption("spark.graft.textrank.localMaxEdges")
      .map(_.toLong).getOrElse(2000000L)
    if (localMax > 0) {
      val lim = math.min(localMax, (Int.MaxValue - 2).toLong).toInt
      val ewRows = edges.join(deg, "u")
        .select(col("u"), col("v"), col("w"), col("wdeg")).head(lim + 1)
      if (ewRows.length <= lim) {
        val base = (100 - dampPct) * scale / 100
        val es = ewRows.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        var ranks = scala.collection.mutable.HashMap.empty[String, Long]
        es.foreach { case (u, _, _, _) => ranks.update(u, scale) }
        for (_ <- 1 to iters) {
          val next = scala.collection.mutable.HashMap.empty[String, Long]
          es.foreach { case (u, v, w, wdeg) =>
            // inner-join semantics: a u absent from the current rank
            // table contributes nothing (cannot happen on the
            // symmetrized graph, but the distributed rounds drop it)
            ranks.get(u).foreach { ru =>
              next.update(v, next.getOrElse(v, 0L) + (ru * w) / wdeg)
            }
          }
          ranks = next.map { case (n, s) => n -> (base + (dampPct * s) / 100) }
        }
        require(ranks.size <= maxNodes,
          s"rank table exceeds maxNodes=$maxNodes — raise it or pre-filter the vocab")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val data = new java.util.ArrayList[org.apache.spark.sql.Row](ranks.size)
        ranks.foreach { case (n, s) =>
          data.add(org.apache.spark.sql.Row(n, s)) }
        return docs.sparkSession.createDataFrame(data, schema)
      }
    }
    val ew = edges.join(deg, "u").persist()
    try {
      val base = (100 - dampPct) * scale / 100
      // seed from the CACHED basis, not `deg` (whose lineage would
      // rescan the corpus a second time)
      var ranks = ew.select(col("u").as("node")).distinct()
        .select(col("node"), lit(scale).as("r"))
      for (_ <- 1 to iters) {
        ranks = ew.join(ranks, ew("u") === ranks("node"))
          .select(col("v"), expr("(r * w) div wdeg").as("c"))
          .groupBy("v").agg(sum("c").as("__s"))
          .select(col("v").as("node"),
            (lit(base) + expr(s"($dampPct * __s) div 100")).as("r"))
      }
      val rows = ranks.limit(maxNodes + 1).collect()
      require(rows.length <= maxNodes,
        s"rank table exceeds maxNodes=$maxNodes — raise it or pre-filter the vocab")
      docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), ranks.schema)
    } finally { ew.unpersist(); () }
  }

  /** Bigram-LM surprisal (the CCNet/KenLM perplexity-filter signal,
    * one order up from q88's unigram): add-0.5 conditional model
    * P(r|l) = (c(l,r)+0.5)/(c(l→·)+0.5·V), per-bigram surprisal
    * pre-floored to integer micro-nats (the q88 IEEE-ln convention),
    * per-doc totals. Docs with < 2 tokens report 0 bigrams and a
    * NULL average.
    *
    * Scale shape: the model basis is BIGRAM-VOCAB-sized (one pair
    * hash agg — the TextRank edge shape); the probe side joins
    * occurrences on (l, r) — unlike q88's broadcastable unigram
    * table, a web-scale bigram table shuffle-joins, which is the
    * standard trade for conditional models.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val withToks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("toks"))
    val bi = withToks.filter(size(col("toks")) >= 2)
      .select(col(idCol), explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), (l, r) -> struct(l, r))"))
        .as("p"))
      .select(col(idCol), col("p.l").as("l"), col("p.r").as("r"))
    // probe-leg pre-count (r16, guide §2.3 aggregate-before-shuffle):
    // the model join used to ship every bigram INSTANCE; grouping to
    // (doc, l, r, count) first lets the map-side partial aggregation
    // collapse within-document repetition before anything crosses the
    // wire, and the per-instance sums re-derive exactly
    // (count(1) = Σ __c, sum(s_e6) = Σ __c·s_e6 — integer arithmetic,
    // reassociation-safe). bc folds from the same pre-counted frame,
    // so its own exchange also carries (doc,l,r) partials instead of
    // raw instances.
    val dlr = bi.groupBy(col(idCol), col("l"), col("r"))
      .agg(count(lit(1)).as("__c"))
    val bc = dlr.groupBy("l", "r").agg(sum("__c").cast("double").as("cb"))
    val cc = bc.groupBy("l").agg(sum("cb").as("cl"))
    val v = withToks.select(explode(col("toks")).as("t"))
      .agg(countDistinct("t").cast("double").as("v"))
    val w = bc.join(cc, "l").crossJoin(broadcast(v))
      .select(col("l"), col("r"),
        floor(-log((col("cb") + 0.5) / (col("cl") + lit(0.5) * col("v"))) * 1000000.0)
          .cast("long").as("s_e6"))
    val agg = dlr.join(w, Seq("l", "r"))
      .groupBy(col(idCol))
      .agg(sum("__c").as("n_bigrams"), sum(col("__c") * col("s_e6")).as("nll_e6"))
      .select(col(idCol), col("n_bigrams"), col("nll_e6"),
        floor(col("nll_e6") / col("n_bigrams")).cast("long").as("avg_nll_e6"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_e6"), lit(0L)).as("nll_e6"),
        col("avg_nll_e6"))
  }

  /** PMI collocation mining (Church & Hanks, "Word Association Norms,
    * Mutual Information, and Lexicography", CL 1990): the top-k
    * adjacent-token pairs by pointwise mutual information
    *
    *   pmi_e6 = floor( ln( cb·N / (cl·cr) ) · 10⁶ )
    *
    * with position-true margins (cl = bigrams with this LEFT token,
    * cr = with this RIGHT token, N = all bigrams) and a `minCount`
    * floor that both kills noise pairs (PMI's classic low-count
    * pathology) and bounds the ranked set. Micro-nat flooring is the
    * q88/q135 convention, so DuckDB replays the scores bit-for-bit.
    *
    * Scale shape: the corpus tokenizes once into the adjacent-pair
    * hash agg (the q125/q131/q135 vocab-sized basis); margins are
    * aggregates OF that basis, never a second corpus pass; and the
    * top-k is TakeOrderedAndProject (k rows per partition on the
    * wire), not a global sort.
    */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 32): DataFrame = {
    require(minCount >= 1 && k >= 1, "need minCount >= 1 and k >= 1")
    val bi = docs.select(TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), (l, r) -> struct(l, r))"))
        .as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
    val bc = bi.groupBy("l", "r").agg(count(lit(1)).as("cb"))
    val cl = bc.groupBy("l").agg(sum("cb").as("cl"))
    val cr = bc.groupBy("r").agg(sum("cb").as("cr"))
    val n = bc.agg(sum("cb").as("n"))
    bc.filter(col("cb") >= minCount)
      .join(cl, "l").join(cr, "r").crossJoin(broadcast(n))
      .select(col("l"), col("r"), col("cb"),
        floor(log(col("cb").cast("double") * col("n").cast("double") /
          (col("cl").cast("double") * col("cr").cast("double"))) * 1000000.0)
          .cast("long").as("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("l"), col("r"))
      .limit(k)
  }

  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      gapSeconds: Long, tiebreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: tiebreak.map(col)).toSeq
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("__is_new",
        when(col("__prev_us").isNull
          || unix_micros(col(tsCol)) - col("__prev_us") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("__is_new").over(wCum))
      .drop("__prev_us", "__is_new")
  }
}
