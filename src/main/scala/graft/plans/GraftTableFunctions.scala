package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** TABLE-valued SQL functions over the engine's PERSISTED ARTIFACTS —
  * the second half of the SQL door ([[GraftExtensions]] covers scalar
  * kernels): the flagship operators whose state lives on disk (a saved
  * IVF-PQ index, a winnow fingerprint store, a wave-layered store, an
  * SCD2 dimension) become relations a pure-SQL client can SELECT from,
  * mirroring how the reference exposes its derived artifacts to report
  * queries (/root/reference/src/open_molecule_data_pipeline/ingestion/
  * runner.py:317-385) — except these are full relational inputs, not
  * fixed reports.
  *
  * Each builder returns the SAME logical plan the Scala surface
  * builds, so every scale property survives the SQL boundary verbatim:
  * the IVF-PQ probe partition-prunes to its probed cells, the winnow
  * probe stays dg-bucketed with the cross-side df cap, the as-of read
  * prunes wave partitions (spec-pinned FROM SQL, not just Scala).
  * Arguments must be literals — table names and paths are resolution-
  * time constants, exactly as in `read_parquet('...')`-style TVFs.
  */
object GraftTableFunctions {

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.logical

  private[plans] def buildIvfPqTopK(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      "graft_ivfpq_topk(indexDir, queryTable, k, nprobe)")
    val spark = SparkSession.active
    val dir = strLit(args.head, "indexDir")
    val idx = graft.operators.Pq.loadIvfPqMeta(spark, dir)
    // the query vector is a driver-side constant by design (it seeds
    // the probe-set choice and the ADC LUTs), exactly as on the Scala
    // surface — a one-row collect of the named query table
    val qe6 = graft.operators.Pq.queryWeightsE6(
      spark.table(strLit(args(1), "queryTable")))
    plan(graft.operators.Pq.ivfPqTopKFromEncoded(
      spark.read.parquet(dir), idx, qe6,
      intLit(args(2), "k"), intLit(args(3), "nprobe")))
  }

  private[plans] def buildWinnowPairs(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 2 && args.size <= 6,
      "graft_winnow_pairs(storeTable, deltaDocsTable[, minShared, maxDf[, k, w]])")
    val spark = SparkSession.active
    val store = spark.table(strLit(args.head, "storeTable"))
    val delta = spark.table(strLit(args(1), "deltaDocsTable"))
    val minShared = if (args.size > 2) intLit(args(2), "minShared") else 3
    val maxDf = if (args.size > 3) intLit(args(3), "maxDf") else 8
    val k = if (args.size > 4) intLit(args(4), "k") else 4
    val w = if (args.size > 5) intLit(args(5), "w") else 4
    plan(graft.operators.TextOps.winnowedCrossPairs(store,
      graft.operators.TextOps.winnowedFingerprints(delta, "doc_id", "text", k, w),
      minShared, maxDf))
  }

  private[plans] def buildStoreAsOf(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2, "graft_store_asof(table, wave)")
    val spark = SparkSession.active
    plan(graft.operators.Stores.asOf(spark,
      strLit(args.head, "table"), longLit(args(1), "wave")))
  }

  private[plans] def buildScd2AsOf(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      "graft_scd2_asof(factsTable, dimTable, keyCol, factTsCol)")
    val spark = SparkSession.active
    plan(graft.operators.Scd.asOfVersion(
      spark.table(strLit(args.head, "factsTable")),
      spark.table(strLit(args(1), "dimTable")),
      Seq(strLit(args(2), "keyCol")), strLit(args(3), "factTsCol")))
  }

  private[plans] def buildSpanStrip(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 2 && args.size <= 5,
      "graft_span_strip(gramStoreTable, deltaDocsTable[, k, minDocs[, minMatch]])")
    val spark = SparkSession.active
    val store = spark.table(strLit(args.head, "gramStoreTable"))
    val delta = spark.table(strLit(args(1), "deltaDocsTable"))
    val k = if (args.size > 2) intLit(args(2), "k") else 8
    val minDocs = if (args.size > 3) intLit(args(3), "minDocs") else 2
    val minMatch = if (args.size > 4) intLit(args(4), "minMatch") else 0
    plan(graft.operators.TextOps.incrementalSpanDedupStrip(
      store.select("dg", "df"), delta, "doc_id", "text", k, minDocs, minMatch))
  }

  private def termsLit(e: Expression, what: String): Seq[String] = {
    val ts = strLit(e, what).split("\\s+").toSeq.filter(_.nonEmpty)
    require(ts.nonEmpty, s"$what must name at least one term")
    ts
  }

  private[plans] def buildIvfPqTopKRetrained(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      "graft_ivfpq_topk_retrained(indexDir, queryTable, k, nprobe)")
    val spark = SparkSession.active
    val dir = strLit(args.head, "indexDir")
    // the v2 codebook and drifted-cell set ship inside the index dir
    // (saveRetrainedMeta), so the retrained probe, like the v1 probe,
    // opens by path alone
    val rt = graft.operators.Pq.loadIvfPqRetrained(spark, dir)
    val qe6 = graft.operators.Pq.queryWeightsE6(
      spark.table(strLit(args(1), "queryTable")))
    plan(graft.operators.Pq.ivfPqTopKRetrained(
      spark.read.parquet(dir), rt, qe6,
      intLit(args(2), "k"), intLit(args(3), "nprobe")))
  }

  private[plans] def buildDedupDelta(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      "graft_dedup_delta(digestStoreTable, deltaTable, idCol, textCol)")
    val spark = SparkSession.active
    plan(graft.operators.Dedup.incrementalExactVsStore(spark,
      strLit(args.head, "digestStoreTable"),
      spark.table(strLit(args(1), "deltaTable")),
      strLit(args(2), "idCol"), strLit(args(3), "textCol")))
  }

  private[plans] def buildSearchConjunctive(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2,
      "graft_search_conjunctive(postingsTable, 'term1 term2 ...')")
    val spark = SparkSession.active
    plan(graft.operators.Search.conjunctive(
      spark.table(strLit(args.head, "postingsTable")),
      termsLit(args(1), "terms")))
  }

  private[plans] def buildBm25(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 3 && args.size <= 5,
      "graft_bm25(postingsTable, docLensTable, 'terms'[, k1_permille, b_permille])")
    val spark = SparkSession.active
    // k1/b arrive as per-mille integers (1200 = 1.2): integer literals
    // are the TVF argument convention, and the permille form keeps the
    // reconstructed double exact for the usual parameter grid
    val k1 = if (args.size > 3) intLit(args(3), "k1_permille") / 1000.0 else 1.2
    val b = if (args.size > 4) intLit(args(4), "b_permille") / 1000.0 else 0.75
    plan(graft.operators.TextOps.bm25FromStores(
      spark.table(strLit(args.head, "postingsTable")),
      spark.table(strLit(args(1), "docLensTable")),
      termsLit(args(2), "terms"), k1, b))
  }

  private[plans] def buildKAnonymize(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 6,
      "graft_k_anonymize(srcTable, laddersTable, sensitiveCol, k, l, maxSuppressPerMille)")
    val spark = SparkSession.active
    // the CONFIG-TABLE pattern: a generalization ladder is not
    // literal-expressible as TVF arguments (each level is an
    // expression over the source schema), so it arrives as a relation
    // — rows (name, level, expr) with `expr` as SQL text resolved
    // against the source. Ladders apply in name-sorted order; levels
    // in level order.
    // a SQL client's integer literals naturally land as BIGINT, so
    // the level column is coerced, not pattern-matched on Int; nulls
    // in any config column are a config error, reported as such
    val ladders = spark.table(strLit(args(1), "laddersTable"))
      .selectExpr("CAST(name AS STRING) AS name",
        "CAST(level AS INT) AS level", "CAST(expr AS STRING) AS expr")
      .collect()
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
          s"ladder config rows must be non-null (name, level, expr): $r")
        (r.getString(0), r.getInt(1), r.getString(2))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, rows) =>
        name -> rows.sortBy(_._2).toSeq
          .map(r => org.apache.spark.sql.functions.expr(r._3))
      }
    plan(graft.operators.Profiling.kAnonymize(
      spark.table(strLit(args.head, "srcTable")), ladders,
      strLit(args(2), "sensitiveCol"), intLit(args(3), "k"),
      intLit(args(4), "l"), longLit(args(5), "maxSuppressPerMille")))
  }

  private[plans] def buildDataCard(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 3 && args.size <= 4,
      "graft_data_card(srcTable, textCol, langCol[, shortTokens])")
    val spark = SparkSession.active
    plan(graft.operators.Profiling.dataCard(
      spark.table(strLit(args.head, "srcTable")),
      strLit(args(1), "textCol"), strLit(args(2), "langCol"),
      if (args.size > 3) intLit(args(3), "shortTokens") else 32))
  }

  // NOTE: the DP guarantee is conditional on `seed` being secret,
  // fresh, and single-use — a SQL text that hardcodes the seed is a
  // mechanism replay, not a privacy release (see dpDataCard's doc)
  private[plans] def buildDpDataCard(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 5,
      "graft_dp_data_card(srcTable, textCol, langCol, shortTokens, seed)")
    val spark = SparkSession.active
    plan(graft.operators.Profiling.dpDataCard(
      spark.table(strLit(args.head, "srcTable")),
      strLit(args(1), "textCol"), strLit(args(2), "langCol"),
      intLit(args(3), "shortTokens"), longLit(args(4), "seed")))
  }

  private[plans] def buildStoreAudit(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 3,
      "graft_store_audit(table, storeName, keyColsCsv)")
    val spark = SparkSession.active
    val keys = strLit(args(2), "keyColsCsv").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    plan(graft.operators.Stores.auditLayeredStore(spark,
      strLit(args.head, "table"), strLit(args(1), "storeName"), keys))
  }

  private[plans] def buildPcmNearDup(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 1 && args.size <= 4,
      "graft_pcm_neardup(mediaTable[, bands, maxBucketSize, thrPermille]) — bands <= 0 auto-sizes")
    val spark = SparkSession.active
    val media = spark.table(strLit(args.head, "mediaTable"))
    val bands = if (args.size > 1) intLit(args(1), "bands") else 8
    val cap = if (args.size > 2) intLit(args(2), "maxBucketSize") else 64
    val thr = if (args.size > 3) intLit(args(3), "thrPermille") else 10
    plan(if (bands <= 0)
      graft.operators.Multimodal.pcmPerceptualCandidatesAuto(media,
        maxBucketSize = cap, thrPermille = thr)
    else graft.operators.Multimodal.pcmPerceptualCandidates(media,
      bands, cap, thr))
  }

  private[plans] def buildPngNearDup(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 1 && args.size <= 4,
      "graft_png_neardup(mediaTable[, grid, maxBucketSize, thrPermille]) — grid <= 0 auto-sizes")
    val spark = SparkSession.active
    val media = spark.table(strLit(args.head, "mediaTable"))
    val grid = if (args.size > 1) intLit(args(1), "grid") else 4
    val cap = if (args.size > 2) intLit(args(2), "maxBucketSize") else 64
    val thr = if (args.size > 3) intLit(args(3), "thrPermille") else 10
    plan(if (grid <= 0)
      graft.operators.Multimodal.pngPerceptualCandidatesAuto(media,
        maxBucketSize = cap, thrPermille = thr)
    else graft.operators.Multimodal.pngPerceptualCandidates(media, grid, cap, thr))
  }

  private[plans] def buildJpegNearDup(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 1 && args.size <= 4,
      "graft_jpeg_neardup(mediaTable[, grid, maxBucketSize, thrPermille]) — grid <= 0 auto-sizes")
    val spark = SparkSession.active
    val media = spark.table(strLit(args.head, "mediaTable"))
    val grid = if (args.size > 1) intLit(args(1), "grid") else 4
    val cap = if (args.size > 2) intLit(args(2), "maxBucketSize") else 64
    val thr = if (args.size > 3) intLit(args(3), "thrPermille") else 10
    plan(if (grid <= 0)
      graft.operators.Multimodal.jpegPerceptualCandidatesAuto(media,
        maxBucketSize = cap, thrPermille = thr)
    else graft.operators.Multimodal.jpegPerceptualCandidates(media, grid, cap, thr))
  }

  private[plans] def buildDomainCard(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 3 && args.size <= 4,
      "graft_domain_card(srcTable, urlCol, textCol[, shortTokens])")
    val spark = SparkSession.active
    plan(graft.operators.TextOps.domainCard(
      spark.table(strLit(args.head, "srcTable")),
      strLit(args(1), "urlCol"), strLit(args(2), "textCol"),
      if (args.size > 3) intLit(args(3), "shortTokens") else 32))
  }

  private[plans] def buildDomainFilter(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 5 && args.size <= 6,
      "graft_domain_filter(srcTable, urlCol, textCol, maxDupE6, maxShortPermille[, shortTokens])")
    val spark = SparkSession.active
    plan(graft.operators.TextOps.domainFilter(
      spark.table(strLit(args.head, "srcTable")),
      strLit(args(1), "urlCol"), strLit(args(2), "textCol"),
      longLit(args(3), "maxDupE6"), longLit(args(4), "maxShortPermille"),
      if (args.size > 5) intLit(args(5), "shortTokens") else 32))
  }

  private[plans] def buildTCloseness(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      "graft_tcloseness(srcTable, qiColsCsv, sensitiveCol, tPermille)")
    val spark = SparkSession.active
    val keys = strLit(args(1), "qiColsCsv").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    plan(graft.operators.Profiling.tClosenessAudit(
      spark.table(strLit(args.head, "srcTable")), keys,
      org.apache.spark.sql.functions.col(strLit(args(2), "sensitiveCol")),
      longLit(args(3), "tPermille")))
  }

  private[plans] def buildKAnonAudit(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 5,
      "graft_kanon_audit(srcTable, qiColsCsv, sensitiveCol, k, l)")
    val spark = SparkSession.active
    val keys = strLit(args(1), "qiColsCsv").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    plan(graft.operators.Profiling.kAnonymityAudit(
      spark.table(strLit(args.head, "srcTable")), keys,
      org.apache.spark.sql.functions.col(strLit(args(2), "sensitiveCol")),
      intLit(args(3), "k"), intLit(args(4), "l")))
  }

  private[plans] def buildImageNearDup(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 1 && args.size <= 5,
      "graft_image_neardup(mediaTable[, grid, maxBucketSize, thrPermille, bt601])" +
        " — grid <= 0 auto-sizes; bt601 <> 0 reduces color PNGs with the" +
        " JPEG-encoder integer BT.601 luma (cross-format exactness, q216)")
    val spark = SparkSession.active
    val media = spark.table(strLit(args.head, "mediaTable"))
    val grid = if (args.size > 1) intLit(args(1), "grid") else 4
    val cap = if (args.size > 2) intLit(args(2), "maxBucketSize") else 64
    val thr = if (args.size > 3) intLit(args(3), "thrPermille") else 10
    val bt601 = args.size > 4 && intLit(args(4), "bt601") != 0
    plan(if (grid <= 0)
      graft.operators.Multimodal.imagePerceptualCandidatesAuto(media,
        maxBucketSize = cap, thrPermille = thr, bt601 = bt601)
    else graft.operators.Multimodal.imagePerceptualCandidates(media, grid, cap,
      thr, bt601))
  }

  // the media table must carry (media_id, payload, meta.n_bytes) — the
  // q134 media-frame convention the Scala surface expects
  private[plans] def buildFrameNearDup(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 1 && args.size <= 4,
      "graft_frame_neardup(mediaTable[, frameBytes, maxFrameDf, thrPermille])")
    val spark = SparkSession.active
    plan(graft.operators.Multimodal.frameNearDupCandidates(
      spark.table(strLit(args.head, "mediaTable")),
      if (args.size > 1) intLit(args(1), "frameBytes") else 16,
      if (args.size > 2) intLit(args(2), "maxFrameDf") else 64,
      if (args.size > 3) intLit(args(3), "thrPermille") else 500))
  }

  // a corpus label matching no group yields an EMPTY relation (SQL
  // filter semantics — labels are data, not syntax; catching it would
  // cost an extra job at resolution time)
  private[plans] def buildKmvOverlap(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 5 && args.size <= 6,
      "graft_kmv_overlap(srcTable, corpusCol, keyCol, corpusA, corpusB[, k])" +
        " — an unknown corpus label returns an empty relation")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.col
    val k = if (args.size > 5) intLit(args(5), "k") else 128
    val corpusCol = strLit(args(1), "corpusCol")
    val sk = graft.operators.CorpusOverlap.kmvSketches(
      spark.table(strLit(args.head, "srcTable")), corpusCol,
      col(strLit(args(2), "keyCol")), k)
    plan(graft.operators.CorpusOverlap.overlapPair(sk, corpusCol,
        strLit(args(3), "corpusA"), strLit(args(4), "corpusB"), k)
      .select("est_a", "est_b", "est_inter", "est_union", "est_b_new",
        "jaccard_e6"))
  }

  private[plans] def buildMediaCard(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 1, "graft_media_card(mediaTable)")
    val spark = SparkSession.active
    plan(graft.operators.Multimodal.mediaCard(
      spark.table(strLit(args.head, "mediaTable"))))
  }

  // the STORE read path: overlap straight from a persisted sketch
  // table ([[graft.operators.CorpusOverlap.kmvSketches]]' (corpus,
  // n_rows, kmv) shape, one row per corpus) — at
  // 100 TB the corpora were reduced to k longs each when they were
  // ingested; the probe never rescans them
  private[plans] def buildKmvOverlapStore(args: Seq[Expression]): LogicalPlan = {
    // k is REQUIRED here (unlike graft_kmv_overlap, where one call
    // builds and probes at the same k): the probe k must equal the
    // ingest k, and a mismatch is undetectable from the data — a
    // saturated k=32 sketch probed at k=128 reads as "exact mode with
    // 32 distinct keys" and the estimates go silently wrong
    require(args.size == 5,
      "graft_kmv_overlap_store(sketchTable, corpusCol, corpusA, corpusB, k)" +
        " — sketchTable carries (corpusCol, n_rows, kmv) FOLDED to one" +
        " row per corpus; k must equal the ingest k")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, count, lit}
    val t = strLit(args.head, "sketchTable")
    val corpusCol = strLit(args(1), "corpusCol")
    val sk = spark.table(t)
    // a sketch store is corpora-sized by construction, so this guard
    // is a trivial job — pointing the probe at an UNFOLDED wave store
    // would otherwise cross-join one wrong estimate row per wave-pair
    // with no error
    val dup = sk.groupBy(col(corpusCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"graft_kmv_overlap_store: '$t' has ${dup.headOption.map(_.get(0)).orNull} " +
        "with multiple sketch rows — fold wave stores first")
    plan(graft.operators.CorpusOverlap.overlapPair(sk, corpusCol,
        strLit(args(2), "corpusA"), strLit(args(3), "corpusB"),
        intLit(args(4), "k"))
      .select("est_a", "est_b", "est_inter", "est_union", "est_b_new",
        "jaccard_e6"))
  }

  // the policy rides as a CONFIG TABLE (host, prefix, allow) — rule
  // lists are not literal-expressible as TVF arguments (the q206
  // ladder pattern); a policy is operator-configuration-sized, so the
  // collect is bounded by construction (TextOps.policyAudit scaladoc)
  private[plans] def buildPolicyGate(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 3 && args.size <= 4,
      "graft_policy_gate(srcTable, urlCol, policyTable[, defaultAllow])")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.col
    // validate the config relation with LABELED errors (the strLit
    // convention): a NULL field or a non-boolean allow must name the
    // problem, not surface as an opaque NPE/ClassCastException
    val polTable = strLit(args(2), "policyTable")
    val pol = spark.table(polTable)
      .select(col("host").cast("string"), col("prefix").cast("string"),
        col("allow").cast("boolean"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
          s"graft_policy_gate: policy table '$polTable' has a NULL " +
            "host/prefix/allow field (allow must cast to BOOLEAN)")
        (r.getString(0), r.getString(1), r.getBoolean(2))
      }.toSeq
    val defaultAllow = args.size <= 3 || intLit(args(3), "defaultAllow") != 0
    plan(graft.operators.TextOps.policyGate(
      spark.table(strLit(args.head, "srcTable")),
      strLit(args(1), "urlCol"), pol, defaultAllow))
  }

  /** The artifact-probe TVF surface: name → builder. */
  val builders: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    ("graft_ivfpq_topk", buildIvfPqTopK _),
    ("graft_winnow_pairs", buildWinnowPairs _),
    ("graft_store_asof", buildStoreAsOf _),
    ("graft_scd2_asof", buildScd2AsOf _),
    ("graft_span_strip", buildSpanStrip _),
    ("graft_ivfpq_topk_retrained", buildIvfPqTopKRetrained _),
    ("graft_dedup_delta", buildDedupDelta _),
    ("graft_search_conjunctive", buildSearchConjunctive _),
    ("graft_bm25", buildBm25 _),
    ("graft_k_anonymize", buildKAnonymize _),
    ("graft_store_audit", buildStoreAudit _),
    ("graft_data_card", buildDataCard _),
    ("graft_dp_data_card", buildDpDataCard _),
    ("graft_pcm_neardup", buildPcmNearDup _),
    ("graft_png_neardup", buildPngNearDup _),
    ("graft_jpeg_neardup", buildJpegNearDup _),
    ("graft_image_neardup", buildImageNearDup _),
    ("graft_domain_card", buildDomainCard _),
    ("graft_domain_filter", buildDomainFilter _),
    ("graft_tcloseness", buildTCloseness _),
    ("graft_kanon_audit", buildKAnonAudit _),
    ("graft_frame_neardup", buildFrameNearDup _),
    ("graft_kmv_overlap", buildKmvOverlap _),
    ("graft_kmv_overlap_store", buildKmvOverlapStore _),
    ("graft_media_card", buildMediaCard _),
    ("graft_policy_gate", buildPolicyGate _))

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] =
    builders.map { case (name, b) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(GraftTableFunctions.getClass.getName, name), b)
    }

  /** Direct registration into an existing session (the `query` CLI,
    * tests, notebooks) — the table-function twin of
    * [[GraftExtensions.register]]. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, b, "scala_udf")
    }
}
