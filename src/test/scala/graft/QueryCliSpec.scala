package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cli.QueryCommand

/** The ad-hoc SQL `query` entry point (SURVEY.md §7.1; r10 verdict
  * item 1): pure-SQL invocations of catalog shapes must hash-match
  * their DataFrame forms — a join, a window, and domain functions —
  * and the CLI plumbing (table registration, @file SQL, --out landing,
  * TSV print) must round-trip.
  */
class QueryCliSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fieldNames.toSeq == b.schema.fieldNames.toSeq,
      s"schemas differ: ${a.schema.fieldNames.toSeq} vs ${b.schema.fieldNames.toSeq}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "SQL and DataFrame forms differ")
  }

  test("SQL join form matches the DataFrame join (q03 shape)") {
    val viaSql = QueryCommand.run(spark,
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_cust
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
      dataDir = Some(sf))
    val viaDf = graft.engine.Tables.customer(spark, sf)
      .join(graft.engine.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_cust"))
      .orderBy("n_name")
    same(viaSql, viaDf)
  }

  test("SQL window form matches the DataFrame window (q07 shape)") {
    val viaSql = QueryCommand.run(spark,
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
      dataDir = Some(sf))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaDf = graft.engine.Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
    same(viaSql, viaDf)
  }

  test("registered native kernels match their Column forms in SQL") {
    val viaSql = QueryCommand.run(spark,
      """SELECT doc_id, simhash64(text) AS sh,
        |  CAST(size(ws_tokens(text)) AS BIGINT) AS n_toks
        |FROM documents ORDER BY doc_id""".stripMargin,
      dataDir = Some(sf))
    val viaDf = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.plans.SimHash64Expr.simhash64(col("text")).as("sh"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_toks"))
      .orderBy("doc_id")
    same(viaSql, viaDf)
    // the media kernels answer from SQL too (png decode, pcm energy)
    import spark.implicits._
    Seq((1L, graft.operators.Multimodal.pngPayload(9L, 1, variant = true)),
      (2L, graft.operators.Multimodal.wavPcmPayload(9L, 1, headerVariant = false)))
      .toDF("media_id", "payload").createOrReplaceTempView("cli_media")
    val mSql = QueryCommand.run(spark,
      """SELECT media_id, png_block_means(payload, 4) AS f,
        |  pcm_energy(payload, 8) AS e
        |FROM cli_media ORDER BY media_id""".stripMargin)
    val mDf = spark.table("cli_media")
      .select(col("media_id"),
        graft.plans.PngBlockMeanExpr.png_block_means(col("payload"), 4).as("f"),
        graft.plans.PcmEnergyExpr.pcm_energy(col("payload"), 8).as("e"))
      .orderBy("media_id")
    same(mSql, mDf)
    assert(mSql.filter(col("f").isNotNull || col("e").isNotNull).count() == 2)
  }

  test("chemistry UDFs answer from SQL over a --table registered parquet") {
    val dir = tmpDir("query_cli_mols")
    Seq((1L, "CCO"), (2L, "C1=CC=CC=C1"), (3L, "not a molecule"), (4L, "CC(=O)O.[Na+]"))
      .toDF("mol_id", "smiles").write.mode("overwrite").parquet(dir)
    val out = QueryCommand.run(spark,
      """SELECT mol_id, is_valid_smiles(smiles) AS ok, strip_salt(smiles) AS parent
        |FROM molecules ORDER BY mol_id""".stripMargin,
      tables = Seq("molecules" -> dir))
      .as[(Long, Boolean, String)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((1L, true), (2L, true), (3L, false), (4L, true)))
    assert(out(3)._3 == "CC(=O)O", s"salt stripped: ${out(3)}")
  }

  test("registerFunctions resolves every engine SQL function on an empty registry") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("is_valid_smiles"))
    QueryCommand.registerFunctions(fresh)
    val r = fresh.sql(
      """SELECT is_valid_smiles('CCO'), round(molecular_weight('CCO'), 3),
        |  normalize_smiles('[13C]CO'), strip_salt('CCO.[Na+]'),
        |  smiles_logp('CC(=O)O'), log_p('CC(=O)O'),
        |  smiles_tpsa('CC(=O)O'), tpsa('CC(=O)O'),
        |  lipinski_ok('CCO'), size(morgan_fp('CCO')), structural_keys('CC(=O)O'),
        |  format_bytes(2048), size(ws_tokens('a b'))""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getDouble(1) === 46.069)
    assert(r.getString(2) === "[C]CO" && r.getString(3) === "CCO")
    assert(r.getDouble(4) === -0.3 && r.getDouble(5) === -0.3)
    assert(r.getDouble(6) === 34.2 && r.getDouble(7) === 34.2)
    assert(r.getBoolean(8))
    assert(r.getInt(9) === graft.functions.Chemistry.morganBits("CCO").get.length)
    assert(r.getSeq[Int](10) === graft.functions.Chemistry.structuralKeys("CC(=O)O").get.toSeq)
    assert(r.getString(11) === "2.00 KB" && r.getInt(12) === 2)
    assert(fresh.sessionState.tableFunctionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_policy_gate")))
  }

  /** Whether any expression of `plan` holds a node matching `f`. */
  private def holds(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)(
      f: org.apache.spark.sql.catalyst.expressions.Expression => Boolean): Boolean =
    plan.exists(_.expressions.exists(_.exists(f)))

  test("every chemistry SQL name analyses to the native expression under each registration") {
    import graft.plans.{ChemistryExpr, GraftExtensions}
    val names = ChemistryExpr.names
    assert(names.size === 11)
    def check(session: org.apache.spark.sql.SparkSession, how: String): Unit = names.foreach { n =>
      val plan = session.sql(s"SELECT $n(s) FROM VALUES ('CCO'), (NULL) AS t(s)")
        .queryExecution.analyzed
      assert(holds(plan) { case e: ChemistryExpr => e.name == n; case _ => false }, s"$n via $how")
      assert(!holds(plan)(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]),
        s"no ScalaUDF for $n via $how")
    }
    val viaQuery = spark.newSession()
    QueryCommand.registerFunctions(viaQuery)
    check(viaQuery, "QueryCommand.registerFunctions")
    val viaAll = spark.newSession()
    graft.engine.Functions.registerAll(viaAll)
    check(viaAll, "Functions.registerAll")
    // what `spark.sql.extensions=graft.plans.GraftExtensions` applies to
    // a new session, here on the running SparkContext
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val viaExtensions = try org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new GraftExtensions).create()
      finally active.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    check(viaExtensions, "spark.sql.extensions")
  }

  test("the curate query evaluates normalize_smiles once per row, in its own Project") {
    import graft.plans.ChemistryExpr
    val dir = tmpDir("query_cli_curate")
    Seq(("a", "CCO"), ("b", "OCC.[Na+]"), ("c", "[13CH3]O"), ("d", "CC("), ("e", null))
      .toDF("identifier", "smiles").write.mode("overwrite").json(dir)
    val df = QueryCommand.run(spark,
      s"""SELECT norm, count(*) AS n_members, min(identifier) AS keeper,
         |  min(mw) AS mw_min, max(fp_bits) AS fp_max
         |FROM (
         |  SELECT identifier, norm, molecular_weight(norm) AS mw, size(morgan_fp(norm)) AS fp_bits
         |  FROM (
         |    SELECT identifier,
         |      CASE WHEN is_valid_smiles(smiles) THEN normalize_smiles(smiles) END AS norm
         |    FROM json.`$dir`))
         |GROUP BY norm""".stripMargin)
    val plan = df.queryExecution.optimizedPlan
    def isNormalize(e: org.apache.spark.sql.catalyst.expressions.Expression) = e match {
      case c: ChemistryExpr => c.name == "normalize_smiles"
      case _ => false
    }
    assert(plan.flatMap(_.expressions).flatMap(_.collect { case e if isNormalize(e) => e })
      .size === 1, "one normalize_smiles per row")
    assert(!holds(plan) {
      case c: ChemistryExpr => c.name != "normalize_smiles" && c.child.exists(isNormalize)
      case _ => false
    }, "normalize_smiles is not inlined into its consumers")
    val got = df.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got === Map(Some("CCO") -> 1L, Some("OCC") -> 1L, Some("[CH3]O") -> 1L, None -> 2L))
  }

  test("Main.main runs on the caller's session and leaves it running") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    val before = keys.map(k => k -> spark.conf.get(k))
    val printed = new java.io.ByteArrayOutputStream
    try Console.withOut(printed)(graft.cli.Main.main(Array("query", "SELECT 1 AS x")))
    finally before.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(printed.toString("UTF-8").trim === "x\n1")
    assert(!spark.sparkContext.isStopped, "the caller's session is not stopped")
    assert(spark.sql("SELECT 2 AS y").collect().head.getInt(0) === 2)
  }

  test("CLI execute: @file SQL, --out parquet landing, TSV print") {
    val sqlFile = java.nio.file.Paths.get(tmpDir("query_cli_sql"), "q.sql")
    java.nio.file.Files.writeString(sqlFile,
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    val outDir = tmpDir("query_cli_out") + "/res"
    var printed = Vector.empty[String]
    QueryCommand.execute(spark,
      Seq(s"@$sqlFile", "--data", sf, "--out", outDir), printed :+= _)
    val landed = spark.read.parquet(outDir).orderBy("r_regionkey")
      .as[(Long, String)].collect().toSeq
    assert(landed.size == 5 && landed.head._2 == "AFRICA", s"landed: $landed")
    // no --out: TSV with a header row, capped by --show
    QueryCommand.execute(spark,
      Seq("SELECT r_name FROM region ORDER BY r_name", "--data", sf,
        "--show", "2"), printed :+= _)
    val tsv = printed.last.split("\n").toSeq
    assert(tsv == Seq("r_name", "AFRICA", "AMERICA"), s"tsv: $tsv")
  }

  test("SQL door to the operator library: ANN probe over a saved index, partition-pruned from SQL") {
    import graft.operators.Pq
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = Pq.trainIvfPq(corpus, ncells = 4, m = 8, ksub = 16)
    val dir = tmpDir("query_cli_ivfpq") + "/index"
    Pq.writeIvfPqIndex(corpus, idx, dir)
    emb.filter(col("vec_id") === 0).createOrReplaceTempView("cli_ann_query")
    val sqlText =
      s"SELECT vec_id, cell, score_q FROM graft_ivfpq_topk('$dir', 'cli_ann_query', 20, 2)"
    val viaSql = QueryCommand.run(spark, sqlText)
    val viaScala = Pq.ivfPqTopKFromEncoded(spark.read.parquet(dir),
      Pq.loadIvfPqMeta(spark, dir),
      Pq.queryWeightsE6(emb.filter(col("vec_id") === 0)), k = 20, nprobe = 2)
    same(viaSql.orderBy("vec_id"), viaScala.orderBy("vec_id"))
    // the probe's cell bound must reach the scan as PARTITION pruning
    // in the plan built FROM SQL TEXT
    viaSql.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      }.flatten
    val sc = scans(viaSql.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.mkString.contains("query_cli_ivfpq"))
    assert(sc.nonEmpty && sc.head.partitionFilters.mkString.contains("cell"),
      s"SQL plan must prune index partitions: ${viaSql.queryExecution.executedPlan}")
  }

  test("SQL door: winnow store probe and layered as-of from SQL text match Scala") {
    import graft.operators.{Stores, TextOps}
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val t = "cli_winnow_store"
    Stores.dropStoreTable(spark, t)
    TextOps.writeWinnowStore(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", t, k = 4, w = 4, buckets = 4)
    docs.filter(col("doc_id") % 3 === 0).createOrReplaceTempView("cli_winnow_delta")
    val viaSql = QueryCommand.run(spark,
      s"SELECT a, b, n_shared FROM graft_winnow_pairs('$t', 'cli_winnow_delta', 3, 8) ORDER BY a, b")
    val viaScala = TextOps.winnowedCrossPairs(spark.table(t),
        TextOps.winnowedFingerprints(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", 4, 4), minShared = 3, maxDf = 8)
      .orderBy("a", "b")
    same(viaSql, viaScala)
    Stores.dropStoreTable(spark, t)
    // layered as-of from SQL: partition-pruned wave read
    val lt = "cli_layer_store"
    Stores.dropStoreTable(spark, lt)
    (0 to 2).foreach { i =>
      Stores.appendWave(
        docs.filter(col("doc_id") % 3 === i)
          .select(unhex(md5(col("text"))).as("digest")).distinct(),
        lt, i.toLong, "digest", buckets = 4)
    }
    val asofSql = QueryCommand.run(spark,
      s"SELECT count(*) AS n FROM graft_store_asof('$lt', 1)")
    val expected = Stores.asOf(spark, lt, 1L).count()
    assert(asofSql.head().getLong(0) == expected)
    Stores.dropStoreTable(spark, lt)
  }

  test("SQL door: span-dedup strip over a saved gram store from SQL text") {
    import graft.operators.{Stores, TextOps}
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val t = "cli_gram_store"
    Stores.dropStoreTable(spark, t)
    TextOps.writeGramDfStore(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", t, k = 8, buckets = 4)
    docs.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("cli_span_delta")
    val viaSql = QueryCommand.run(spark,
      s"SELECT doc_id, cleaned, n_removed FROM graft_span_strip('$t', 'cli_span_delta', 8, 2) ORDER BY doc_id")
    val viaScala = TextOps.incrementalSpanDedupStripVsStore(spark, t,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 8, minDocs = 2)
      .select("doc_id", "cleaned", "n_removed").orderBy("doc_id")
    same(viaSql, viaScala)
    Stores.dropStoreTable(spark, t)
  }

  test("SQL door: SCD2 as-of join from SQL text matches the Scala operator") {
    import spark.implicits._
    val obs = Seq((1L, "2020-01-01", "A"), (1L, "2020-06-01", "B"),
      (2L, "2020-01-01", "X"))
      .toDF("key", "ts", "attr")
      .select($"key", $"ts".cast("timestamp").as("ts"), $"attr")
    graft.operators.Scd.scd2(obs, Seq("key"), "ts", Seq("attr"))
      .createOrReplaceTempView("cli_scd2_dim")
    Seq((1L, "2020-03-01"), (1L, "2020-07-01"), (2L, "2021-01-01"))
      .toDF("key", "fts")
      .select($"key", $"fts".cast("timestamp").as("fts"))
      .createOrReplaceTempView("cli_scd2_facts")
    val viaSql = QueryCommand.run(spark,
      """SELECT fts, attr FROM graft_scd2_asof('cli_scd2_facts', 'cli_scd2_dim', 'key', 'fts')
        |ORDER BY fts""".stripMargin)
      .as[(java.sql.Timestamp, String)].collect().toSeq
    assert(viaSql.map(_._2) == Seq("A", "B", "X"), s"as-of versions: $viaSql")
  }

  test("SQL door phase 2: retrained IVF-PQ probe from SQL text, partition-pruned") {
    import graft.operators.Pq
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
    val cat = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 10 =!= 9)
    val del = emb.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") + lit(10.0))
          .as("embedding"))
    val idx = Pq.trainIvfPq(cat, ncells = 4, m = 8, ksub = 16)
    val union = cat.unionByName(del)
    val dir = tmpDir("query_cli_retrained") + "/index"
    Pq.writeIvfPqIndex(union, idx, dir)
    val rt = Pq.retrainDrifted(cat, del, idx, ratioPct = 120L)
    Pq.rewriteDriftedCells(union, rt, dir)
    Pq.saveRetrainedMeta(spark, rt, dir)
    // the persisted _retrain meta round-trips the probe-side struct
    val loaded = Pq.loadIvfPqRetrained(spark, dir)
    assert(loaded.drifted == rt.drifted &&
      loaded.residualV2.flatE6.toSeq == rt.residualV2.flatE6.toSeq,
      "loadIvfPqRetrained must round-trip saveRetrainedMeta")
    emb.filter(col("vec_id") === 0).createOrReplaceTempView("cli_rt_query")
    val viaSql = QueryCommand.run(spark,
      s"SELECT vec_id, cell, score_q FROM graft_ivfpq_topk_retrained('$dir', 'cli_rt_query', 20, 2)")
    val qe6 = Pq.queryWeightsE6(emb.filter(col("vec_id") === 0))
    val viaScala = Pq.ivfPqTopKRetrained(spark.read.parquet(dir), rt, qe6,
      k = 20, nprobe = 2)
    same(viaSql.orderBy("vec_id"), viaScala.orderBy("vec_id"))
    // pruning must survive the SQL boundary (the graft_ivfpq_topk pin)
    viaSql.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      }.flatten
    val sc = scans(viaSql.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.mkString.contains("query_cli_retrained"))
    assert(sc.nonEmpty && sc.head.partitionFilters.mkString.contains("cell"),
      s"retrained SQL probe must prune index partitions: ${viaSql.queryExecution.executedPlan}")
  }

  test("SQL door phase 2: dedup store, conjunctive search, and BM25 from SQL text match Scala") {
    import graft.operators.{Dedup, Search, Stores, TextOps}
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // digest-store dedup probe
    val dt = "cli_digest_store"
    Stores.dropStoreTable(spark, dt)
    Dedup.writeDigestStore(docs.filter(col("doc_id") % 2 === 0), "text", dt,
      buckets = 4)
    val delta = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    delta.createOrReplaceTempView("cli_dedup_delta")
    val dedupSql = QueryCommand.run(spark,
      s"SELECT doc_id, text FROM graft_dedup_delta('$dt', 'cli_dedup_delta', 'doc_id', 'text') ORDER BY doc_id")
    same(dedupSql, Dedup.incrementalExactVsStore(spark, dt, delta,
      "doc_id", "text").orderBy("doc_id"))
    Stores.dropStoreTable(spark, dt)
    // postings store: conjunctive AND bm25 serve from the same artifact
    val pt = "cli_postings_store"
    Stores.dropStoreTable(spark, pt)
    Search.writePostingsStore(Search.buildPostings(docs, "doc_id", "text"),
      pt, tmpDir("query_cli_postings") + "/postings", buckets = 4)
    Stores.dropStoreTable(spark, "cli_doclens")
    TextOps.docLengths(docs, "doc_id", "text")
      .write.mode("overwrite").saveAsTable("cli_doclens")
    val srchSql = QueryCommand.run(spark,
      s"SELECT id, score FROM graft_search_conjunctive('$pt', 'join hash vector') ORDER BY id")
    same(srchSql, Search.conjunctive(
      Search.buildPostings(docs, "doc_id", "text"),
      Seq("join", "hash", "vector")).orderBy("id"))
    // the term filter must reach the postings scan from SQL text
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      }.flatten
    val scan = scans(srchSql.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.mkString.contains("postings"))
    assert(scan.nonEmpty && scan.head.dataFilters.mkString.contains("term"),
      s"term filter must reach the postings scan: ${srchSql.queryExecution.executedPlan}")
    // BM25 over the saved artifacts ≡ BM25 over the corpus text
    // (floored to e4 — the score is a float; the e4 grid is the
    // catalog's oracle convention for it)
    val bmSql = QueryCommand.run(spark,
      s"""SELECT id, tf_table, tf_query, tf_stream,
         |  CAST(floor(score * 10000.0) AS BIGINT) AS bm25_e4
         |FROM graft_bm25('$pt', 'cli_doclens', 'table query stream')
         |ORDER BY id""".stripMargin)
    val bmScala = TextOps.bm25(docs, "doc_id", "text",
        Seq("table", "query", "stream"))
      .select(col("id"), col("tf_table"), col("tf_query"), col("tf_stream"),
        floor(col("score") * lit(10000.0)).cast("long").as("bm25_e4"))
      .orderBy("id")
    same(bmSql, bmScala)
    Stores.dropStoreTable(spark, pt)
    Stores.dropStoreTable(spark, "cli_doclens")
  }

  test("SQL door: k-anonymize via a ladder config table, and the layered-store audit") {
    import spark.implicits._
    import graft.operators.{Profiling, Stores}
    // ladders ship as a RELATION of (name, level, expr-SQL) rows —
    // the config-table pattern for non-literal TVF arguments
    Seq((1L, 11, 1), (2L, 11, 2), (3L, 11, 1), (4L, 12, 1),
      (5L, 23, 2), (6L, 23, 1), (7L, 23, 2), (8L, 24, 1))
      .toDF("id", "zip", "s").createOrReplaceTempView("cli_kanon_src")
    Seq(("zip_gen", 0, "CAST(zip AS STRING)"),
      ("zip_gen", 1, "CAST(zip div 10 AS STRING)"),
      ("zip_gen", 2, "'*'"))
      .toDF("name", "level", "expr")
      .createOrReplaceTempView("cli_kanon_ladders")
    val viaSql = QueryCommand.run(spark,
      """SELECT id, zip_gen, s, gen_level
        |FROM graft_k_anonymize('cli_kanon_src', 'cli_kanon_ladders', 's', 3, 2, 500)
        |ORDER BY id""".stripMargin)
    val viaScala = Profiling.kAnonymize(
        spark.table("cli_kanon_src"),
        ladders = Seq("zip_gen" -> Seq(col("zip").cast("string"),
          expr("zip div 10").cast("string"), lit("*"))),
        sensitiveCol = "s", k = 3, l = 2, maxSuppressPerMille = 500L)
      .select("id", "zip_gen", "s", "gen_level").orderBy("id")
    same(viaSql, viaScala)
    // the raw QI must not leak through the SQL door either
    assert(!QueryCommand.run(spark,
      "SELECT * FROM graft_k_anonymize('cli_kanon_src', 'cli_kanon_ladders', 's', 3, 2, 500)")
      .columns.contains("zip"))
    // layered-store audit as a relation
    val t = "cli_audit_store"
    Stores.dropStoreTable(spark, t)
    (0 to 2).foreach { i =>
      Stores.appendWave(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), t, i.toLong, "k", buckets = 2)
    }
    val auditSql = QueryCommand.run(spark,
      s"SELECT store, total_rows, waves, compacted FROM graft_store_audit('$t', 'mystore', 'k')")
    val auditScala = Stores.auditLayeredStore(spark, t, "mystore", Seq("k"))
      .select("store", "total_rows", "waves", "compacted")
    same(auditSql, auditScala)
    Stores.dropStoreTable(spark, t)
  }

  test("SQL door: data card and its DP release from SQL text match Scala") {
    import graft.operators.Profiling
    val viaSql = QueryCommand.run(spark,
      "SELECT * FROM graft_data_card('documents', 'text', 'lang', 32) ORDER BY scope",
      dataDir = Some(sf))
    val docs = graft.engine.Tables.documents(spark, sf)
    same(viaSql, Profiling.dataCard(docs, "text", "lang", 32).orderBy("scope"))
    val dpSql = QueryCommand.run(spark,
      "SELECT * FROM graft_dp_data_card('documents', 'text', 'lang', 32, 7) ORDER BY scope",
      dataDir = Some(sf))
    same(dpSql, Profiling.dpDataCard(docs, "text", "lang", 32, seed = 7L)
      .orderBy("scope"))
  }

  test("SQL door: PCM and PNG perceptual near-dup relations from SQL text match Scala") {
    import spark.implicits._
    import graft.operators.Multimodal
    Seq((1L, Multimodal.wavPcmPayload(7L, 1, headerVariant = false)),
      (2L, Multimodal.wavPcmPayload(7L, 2, headerVariant = false)),
      (3L, Multimodal.wavPcmPayload(8L, 1, headerVariant = false)))
      .toDF("media_id", "payload").createOrReplaceTempView("cli_wavs")
    val pcmSql = QueryCommand.run(spark,
      "SELECT id1, id2, CAST(l1 AS BIGINT) AS l1 FROM graft_pcm_neardup('cli_wavs') ORDER BY id1, id2")
    same(pcmSql, Multimodal.pcmPerceptualCandidates(spark.table("cli_wavs"))
      .select($"id1", $"id2", $"l1".cast("long").as("l1")).orderBy("id1", "id2"))
    // bands <= 0 routes through the corpus-auto-sized variant
    val pcmAuto = QueryCommand.run(spark,
      "SELECT id1, id2 FROM graft_pcm_neardup('cli_wavs', 0) ORDER BY id1, id2")
      .as[(Long, Long)].collect().toSet
    assert(pcmAuto.contains((1L, 2L)), s"auto-sized door must find the twin: $pcmAuto")
    Seq((1L, Multimodal.pngPayload(7L, 1, variant = false)),
      (2L, Multimodal.pngPayload(7L, 1, variant = true)),
      (3L, Multimodal.pngPayload(8L, 1, variant = false)))
      .toDF("media_id", "payload").createOrReplaceTempView("cli_pngs")
    val pngSql = QueryCommand.run(spark,
      "SELECT id1, id2, l1 FROM graft_png_neardup('cli_pngs', 4) ORDER BY id1, id2")
    same(pngSql, Multimodal.pngPerceptualCandidates(spark.table("cli_pngs"), grid = 4)
      .orderBy("id1", "id2"))
    assert(pngSql.as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 0L)))
    Seq((1L, Multimodal.jpegPayload(7L, 1, variant = false)),
      (2L, Multimodal.jpegPayload(7L, 1, variant = true)),
      (3L, Multimodal.jpegPayload(8L, 1, variant = false)))
      .toDF("media_id", "payload").createOrReplaceTempView("cli_jpegs")
    val jpegSql = QueryCommand.run(spark,
      "SELECT id1, id2, l1 FROM graft_jpeg_neardup('cli_jpegs', 4) ORDER BY id1, id2")
    same(jpegSql, Multimodal.jpegPerceptualCandidates(spark.table("cli_jpegs"), grid = 4)
      .orderBy("id1", "id2"))
    assert(jpegSql.as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 0L)))
    // grid <= 0 routes both image doors through the corpus-auto-sized
    // variant (the pcm door's convention)
    val pngAuto = QueryCommand.run(spark,
      "SELECT id1, id2 FROM graft_png_neardup('cli_pngs', 0) ORDER BY id1, id2")
      .as[(Long, Long)].collect().toSet
    assert(pngAuto.contains((1L, 2L)), s"auto-sized png door must find the twin: $pngAuto")
    val jpegAuto = QueryCommand.run(spark,
      "SELECT id1, id2 FROM graft_jpeg_neardup('cli_jpegs', 0) ORDER BY id1, id2")
      .as[(Long, Long)].collect().toSet
    assert(jpegAuto.contains((1L, 2L)), s"auto-sized jpeg door must find the twin: $jpegAuto")
    // the cross-format door: a JPEG and its PNG re-encode in one table
    Seq((1L, Multimodal.jpegPayload(7L, 1, variant = false)),
      (2L, Multimodal.pngGrayPayload(7L, 1)),
      (3L, Multimodal.pngGrayPayload(8L, 1)))
      .toDF("media_id", "payload").createOrReplaceTempView("cli_mixed")
    val imgSql = QueryCommand.run(spark,
      "SELECT id1, id2, l1 FROM graft_image_neardup('cli_mixed', 4) ORDER BY id1, id2")
    same(imgSql, Multimodal.imagePerceptualCandidates(spark.table("cli_mixed"), grid = 4)
      .orderBy("id1", "id2"))
    assert(imgSql.as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 0L)))
    val imgAuto = QueryCommand.run(spark,
      "SELECT id1, id2 FROM graft_image_neardup('cli_mixed', 0) ORDER BY id1, id2")
      .as[(Long, Long)].collect().toSet
    assert(imgAuto.contains((1L, 2L)), s"auto-sized image door must find the twin: $imgAuto")
    // bt601 arg: the COLOR cross-format twin pairs exactly through SQL
    Seq((1L, Multimodal.jpegPayload(7L, 1, variant = false)),
      (2L, Multimodal.pngColorBt601Payload(7L, 1)),
      (3L, Multimodal.pngColorBt601Payload(8L, 1)))
      .toDF("media_id", "payload").createOrReplaceTempView("cli_color")
    val colorSql = QueryCommand.run(spark,
      "SELECT id1, id2, l1 FROM graft_image_neardup('cli_color', 4, 64, 10, 1) ORDER BY id1, id2")
    same(colorSql, Multimodal.imagePerceptualCandidates(
        spark.table("cli_color"), grid = 4, bt601 = true)
      .orderBy("id1", "id2"))
    assert(colorSql.as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 0L)),
      "the bt601 door must pair the color twin at exactly 0")
  }

  test("SQL door phase 4: domain, privacy-audit, and frame relations from SQL text match Scala") {
    import spark.implicits._
    import graft.operators.{Multimodal, Profiling, TextOps}
    val long = (i: Int) =>
      s"a perfectly ordinary document number $i with plenty of distinct words " +
        "padding the token count well past the short threshold here"
    val docs = Seq(
      (1L, "http://good.com/a", long(1)), (2L, "http://good.com/b", long(2)),
      (3L, "HTTP://WWW.FARM.com:80/m1", "mirror mirror"),
      (4L, "http://farm.com/m2", "mirror mirror"),
      (5L, "http://stubs.com/s1", "stub"), (6L, "http://stubs.com/s2", "stub"))
      .toDF("doc_id", "url", "text")
    docs.createOrReplaceTempView("cli_domain_docs")
    same(QueryCommand.run(spark,
      "SELECT scope, n_docs, n_distinct, short_docs FROM graft_domain_card('cli_domain_docs', 'url', 'text', 8) ORDER BY scope"),
      TextOps.domainCard(docs, "url", "text", 8)
        .select("scope", "n_docs", "n_distinct", "short_docs").orderBy("scope"))
    same(QueryCommand.run(spark,
      "SELECT doc_id, __host FROM graft_domain_filter('cli_domain_docs', 'url', 'text', 400000, 500, 8) ORDER BY doc_id"),
      TextOps.domainFilter(docs, "url", "text", 400000L, 500L, 8)
        .select("doc_id", "__host").orderBy("doc_id"))
    val rows = Seq(("A", 1), ("A", 1), ("A", 2), ("A", 2),
      ("B", 1), ("B", 1), ("B", 1), ("B", 1),
      ("C", 2), ("C", 2), ("C", 2), ("C", 2)).toDF("grp", "s")
    rows.createOrReplaceTempView("cli_priv")
    same(QueryCommand.run(spark,
      "SELECT grp, class_size, CAST(emd_num AS BIGINT) AS emd_num, t_close FROM graft_tcloseness('cli_priv', 'grp', 's', 400) ORDER BY grp"),
      Profiling.tClosenessAudit(rows, Seq("grp"), $"s", 400L)
        .select($"grp", $"class_size", $"emd_num".cast("long").as("emd_num"),
          $"t_close").orderBy("grp"))
    same(QueryCommand.run(spark,
      "SELECT grp, class_size, n_sensitive, k_anonymous, l_diverse FROM graft_kanon_audit('cli_priv', 'grp', 's', 3, 2) ORDER BY grp"),
      Profiling.kAnonymityAudit(rows, Seq("grp"), $"s", 3, 2).orderBy("grp"))
    // frame containment: doc 2 is the aligned half-prefix of doc 1
    val body = (0 until 4).map(i => f"frame_$i%02d_body16").mkString // 4 x 16 bytes
    val media = Multimodal.synthesize(Seq(
        (1L, body), (2L, body.take(32)), (3L, "entirely unrelated content z"))
      .toDF("doc_id", "text"), "doc_id", "text")
    media.createOrReplaceTempView("cli_frame_media")
    val frameSql = QueryCommand.run(spark,
      "SELECT id1, id2, n_shared FROM graft_frame_neardup('cli_frame_media', 16, 64, 500) ORDER BY id1, id2")
    same(frameSql, Multimodal.frameNearDupCandidates(
        spark.table("cli_frame_media"), 16, 64, 500).orderBy("id1", "id2"))
    assert(frameSql.as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 2L)),
      "the half-prefix clip must pair via shared frame digests")
  }

  test("SQL door phase 5: KMV overlap and policy gate from SQL text match Scala") {
    import graft.operators.{CorpusOverlap, TextOps}
    // --- graft_kmv_overlap ≡ the Scala estimate chain ---------------
    val corp = (0 until 200).map(i =>
      (if (i % 3 < 2) "A" else "B", s"doc body ${i % 160}")).toDF("corpus", "text")
    corp.createOrReplaceTempView("cli_kmv_corp")
    val kmvSql = QueryCommand.run(spark,
      "SELECT est_a, est_b, est_inter, est_union, est_b_new, jaccard_e6 " +
        "FROM graft_kmv_overlap('cli_kmv_corp', 'corpus', 'text', 'A', 'B', 32)")
    val sk = CorpusOverlap.kmvSketches(corp, "corpus", col("text"), 32)
    same(kmvSql, CorpusOverlap.overlapPair(sk, "corpus", "A", "B", 32)
      .select("est_a", "est_b", "est_inter", "est_union", "est_b_new", "jaccard_e6"))
    // --- graft_kmv_overlap_store: the persisted-sketch read path ----
    // a folded sketch table probes identically to the from-corpus door
    CorpusOverlap.kmvSketches(corp, "corpus", col("text"), 32)
      .createOrReplaceTempView("cli_kmv_store")
    same(kmvSql, QueryCommand.run(spark,
      "SELECT est_a, est_b, est_inter, est_union, est_b_new, jaccard_e6 " +
        "FROM graft_kmv_overlap_store('cli_kmv_store', 'corpus', 'A', 'B', 32)"))
    // --- graft_media_card: the per-format census door --------------
    Seq((1L, graft.operators.Multimodal.gifGrayPayload(3L, 1, interlaced = false)),
        (2L, graft.operators.Multimodal.pngPayload(3L, 1, variant = false)),
        (3L, Array[Byte](9, 9, 9)))
      .toDF("media_id", "payload").createOrReplaceTempView("cli_card_media")
    same(QueryCommand.run(spark,
        "SELECT * FROM graft_media_card('cli_card_media') ORDER BY scope"),
      graft.operators.Multimodal.mediaCard(spark.table("cli_card_media"))
        .orderBy("scope"))
    // --- graft_policy_gate ≡ TextOps.policyGate (config relation) ---
    val docs = Seq(
      (1L, "http://x.example.com/pub/a"), (2L, "http://x.example.com/pub/raw/b"),
      (3L, "http://x.example.com/secret"), (4L, "http://y.example.com/other"))
      .toDF("doc_id", "url")
    docs.createOrReplaceTempView("cli_pol_docs")
    val policy = Seq(
      ("x.example.com", "/", false), ("x.example.com", "/pub", true),
      ("x.example.com", "/pub/raw", false))
    policy.toDF("host", "prefix", "allow").createOrReplaceTempView("cli_pol_rules")
    val polSql = QueryCommand.run(spark,
      "SELECT doc_id, __rule_score, __allow FROM graft_policy_gate(" +
        "'cli_pol_docs', 'url', 'cli_pol_rules') ORDER BY doc_id")
    same(polSql, TextOps.policyGate(docs, "url", policy)
      .select("doc_id", "__rule_score", "__allow").orderBy("doc_id"))
    assert(polSql.select("doc_id").as[Long].collect().toSeq == Seq(1L, 4L),
      "gate keeps /pub (allow) and the unlisted host; denies / and /pub/raw")
  }

  test("bare existing path loads SQL from file; SQL text is never a path") {
    val sqlFile = java.nio.file.Paths.get(tmpDir("query_cli_bare"), "bare.sql")
    java.nio.file.Files.writeString(sqlFile, "SELECT 41 + 1 AS v")
    val spec = QueryCommand.parse(Seq(sqlFile.toString))
    assert(spec.sql == "SELECT 41 + 1 AS v")
    // plain SQL (no such file) passes through untouched
    assert(QueryCommand.parse(Seq("SELECT 2 AS v")).sql == "SELECT 2 AS v")
  }

  test("query option parsing rejects malformed flags") {
    intercept[IllegalArgumentException] {
      QueryCommand.parse(Seq("SELECT 1", "--table", "nopath"))
    }
    intercept[IllegalArgumentException] {
      QueryCommand.parse(Seq("SELECT 1", "--format", "xlsx"))
    }
    intercept[IllegalArgumentException] {
      QueryCommand.parse(Seq("SELECT 1", "--bogus"))
    }
  }
}
