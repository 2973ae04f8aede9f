package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}

/** Dedup, similarity-search, and multimodal operator behavior. */
class OperatorsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
      (3L, "completely different content about spark engines and shuffles at scale"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today"),   // exact dup of 1
      (5L, "yet another unrelated document mentioning embeddings and vectors")
    ).toDF("doc_id", "text")
  }

  // exact dedup is exactByContentPriority under one uniform priority:
  // every tie on (digest, priority) resolves to the smallest id
  test("exact dedup keeps smallest id per content") {
    val in = docs.withColumn("priority", lit(0))
    val out = Dedup.exactByContentPriority(in, "doc_id", "text", "priority")
    assert(out.count() === 4)
    assert(!out.collect().map(_.getLong(0)).contains(4L))
    assert(out.columns.toSeq === in.columns.toSeq, "full row schema preserved")
    // the kept row is the doc-1 ORIGINAL row, not a synthetic one
    val kept1 = out.filter(col("doc_id") === 1L).collect()(0).getString(1)
    assert(kept1.endsWith("today"))
  }

  test("exactByContent aggregates without sorting the corpus") {
    // the scale contract: one hash shuffle on the digest, partial agg
    // map-side, and NO Sort operator anywhere — the window formulation
    // (row_number over partitionBy(digest) orderBy(id)) would shuffle
    // AND per-group sort the whole corpus
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("priority", lit(0))
    val out = Dedup.exactByContentPriority(corpus, "doc_id", "text", "priority")
    assert(out.count() === 500)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort"), s"no Sort may appear in:\n$plan")
    assert(!plan.contains("Window"), s"no Window may appear in:\n$plan")
    assert(plan.contains("Aggregate"), plan)
  }

  test("minhash LSH surfaces the near-dup pair without cross product") {
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 4)
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), s"exact dup must collide in all bands: $pairs")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      s"near-dup should collide in some band: $pairs")
    assert(!pairs.contains((3L, 5L)), "unrelated docs must not be candidates")
  }

  test("minhash LSH hot-bucket cap drops degenerate buckets, keeps small ones") {
    import spark.implicits._
    // 6 identical docs form a bucket of 6 in every band; a distinct
    // near-dup pair forms buckets of 2. Cap 4 must kill the mega-bucket
    // pairs while the small-bucket pair survives.
    val boiler = (1L to 6L).map(i => (i, "standard boilerplate footer text repeated on every single page"))
    val pairDocs = Seq(
      (10L, "a genuinely unique document about distributed joins and shuffles here"),
      (11L, "a genuinely unique document about distributed joins and shuffles there"))
    val df = (boiler ++ pairDocs).toDF("doc_id", "text")
    val capped = Dedup.minHashCandidates(df, "doc_id", "text",
      bands = 16, rowsPerBand = 4, maxBucketSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a <= 6 && b <= 6 },
      s"mega-bucket pairs must be dropped by the cap: $capped")
    assert(capped.contains((10L, 11L)), s"small buckets must survive the cap: $capped")
    // uncapped control: the boilerplate pairs do appear
    val uncapped = Dedup.minHashCandidates(df, "doc_id", "text",
      bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)))
  }

  test("minhash LSH candidates compute signatures once (single corpus scan, no self-join)") {
    val cands = Dedup.minHashCandidates(
      graft.engine.Tables.documents(spark, "/root/testdata/sf0.001"),
      "doc_id", "text", bands = 8, rowsPerBand = 4)
    // r15 (pairCounts shape): the banded frame has ONE consumer — the
    // per-bucket set aggregate — so "signatures computed once" holds
    // by construction: exactly one parquet scan in the whole plan,
    // and no join (the old capped self-join needed a checkpoint to
    // avoid re-banding the corpus per reference; this needs nothing)
    assert(cands.collect().length > 0)
    // split off the pre-AQE "== Initial Plan ==" section (house
    // pattern) — it repeats every node of the final plan
    val plan = cands.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1,
      s"expected exactly one corpus scan (signatures once), got $scans in:\n$plan")
    assert(!plan.contains("Join"),
      s"expected no join in the pairCounts shape:\n$plan")
  }

  test("hot-bucket caps are sort-free: no Sort or Window in capped candidate plans") {
    // the cap was count(1).over(Window.partitionBy(keys)) — right
    // semantics, but a partition-only Window still plans a
    // partition-local Sort on its keys, and on the similarity bands=1
    // path the sorted rows carry full embedding vectors: an avoidable
    // O(corpus log corpus) term at 100 TB. HotBuckets.dropOversized
    // (agg sizes → broadcast anti-join) must leave NO Sort and NO
    // Window anywhere between the repartition and the self-join; these
    // run collect() first so the assertion reads the final AQE plan;
    // split off the pre-AQE "== Initial Plan ==" section (as the q39
    // plan spec does) so an initial SortMergeJoin the runtime replans
    // to broadcast can't fail the assertion spuriously (ADVICE r5)
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val docs001 = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val cands = Dedup.minHashCandidates(docs001, "doc_id", "text",
      bands = 8, rowsPerBand = 4)
    assert(cands.collect().nonEmpty)
    val p1 = finalPlan(cands)
    assert(!p1.contains("Sort"), s"no Sort may appear in minHashCandidates:\n$p1")
    assert(!p1.contains("Window"), s"no Window may appear in minHashCandidates:\n$p1")

    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ann = Similarity.nearDupesAnn(emb, threshold = 0.8, bits = 4)
    ann.collect()
    val p2 = finalPlan(ann)
    assert(!p2.contains("Sort"), s"no Sort may appear in nearDupesAnn:\n$p2")
    assert(!p2.contains("Window"), s"no Window may appear in nearDupesAnn:\n$p2")

    val banded = Similarity.nearDupesAnnBanded(emb, threshold = 0.8,
      bits = 4, bands = 4)
    banded.collect()
    val p3 = finalPlan(banded)
    assert(!p3.contains("Window"), s"no Window may appear in nearDupesAnnBanded:\n$p3")
    assert(!p3.contains("Sort"), s"no Sort may appear in nearDupesAnnBanded:\n$p3")
  }

  test("minhash signature similarity approximates jaccard") {
    import spark.implicits._
    val sig = docs.select(col("doc_id"),
      Dedup.minHashSignature(col("text"), 64).as("sig"))
    val s = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def simOf(a: Long, b: Long) =
      s(a).zip(s(b)).count { case (x, y) => x == y } / 64.0
    assert(simOf(1L, 4L) === 1.0)
    assert(simOf(1L, 2L) > simOf(1L, 3L))
  }

  test("native codegen minhash expression matches the HOF formulation") {
    val hashes = Dedup.shingleHashes(col("text"))
    val both = docs.select(
      Dedup.signatureFromHashes(hashes, 32).as("native"),
      Dedup.signatureFromHashesHof(hashes, 32).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // codegen check needs a real scan — local rows constant-fold into a
    // LocalTableScan at plan time
    val scan = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(Dedup.signatureFromHashes(Dedup.shingleHashes(col("text")), 32).as("sig"))
    // compact plan strings render a WholeStageCodegen stage as "*(n)"
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(scan.count() === 500)
  }

  test("native fused band-keys expressions match the HOF band keys over HOF signature") {
    val hashes = Dedup.shingleHashes(col("text"))
    val both = docs.select(
      graft.plans.MinHashBandKeysExpr.minhash_band_keys_from_hashes(hashes, 8, 4).as("native"),
      graft.plans.ShingleMinHashBandKeysExpr
        .shingle_minhash_band_keys(col("text"), 8, 4).as("fused"),
      Dedup.lshBandKeys(Dedup.signatureFromHashesHof(hashes, 32), 8, 4).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](2))
      assert(r.getSeq[Long](1) === r.getSeq[Long](2))
    }
    // tokenizer-parity edge cases: tab-led, multi-space, short (< shingle
    // size), empty, and all-whitespace docs
    import spark.implicits._
    val edge = Seq("\tleading tab  and   runs", "one two", "solo", "", "   \t ")
      .toDF("text")
    edge.select(
      graft.plans.ShingleMinHashBandKeysExpr
        .shingle_minhash_band_keys(col("text"), 8, 4).as("fused"),
      Dedup.lshBandKeys(Dedup.signatureFromHashesHof(
        Dedup.shingleHashes(col("text")), 32), 8, 4).as("hof"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      }
    // and differential over the full real corpus, on a real scan (so the
    // fused expr runs its codegen path)
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val diff = corpus.select(
      graft.plans.ShingleMinHashBandKeysExpr
        .shingle_minhash_band_keys(col("text"), 8, 8).as("fused"),
      Dedup.lshBandKeys(Dedup.signatureFromHashesHof(
        Dedup.shingleHashes(col("text")), 64), 8, 8).as("hof"))
      .filter(not(col("fused") === col("hof")))
    assert(diff.count() === 0)
  }

  test("kernels agree with their HOF oracles in interpreted mode (codegen off)") {
    // production falls back to nullSafeEval when codegen fails to
    // compile — that path must match the oracles too
    val conf = spark.conf
    val prevWhole = conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      val ts = graft.functions.TextFunctions.tokenSet(col("text"))
      val tsRev = graft.functions.TextFunctions.tokenSet(reverse(col("text")))
      val diff = corpus.select(
        graft.functions.TextFunctions.tokens(col("text")).as("t_n"),
        graft.functions.TextFunctions.tokensHof(col("text")).as("t_h"),
        Dedup.simHash32(col("text")).as("sh_n"),
        Dedup.simHash32Hof(col("text")).as("sh_h"),
        graft.plans.ShingleMinHashBandKeysExpr
          .shingle_minhash_band_keys(col("text"), 4, 4).as("bk_n"),
        Dedup.lshBandKeys(Dedup.signatureFromHashesHof(
          Dedup.shingleHashes(col("text")), 16), 4, 4).as("bk_h"),
        Dedup.tokenSetJaccard(ts, tsRev).as("aj_n"),
        Dedup.tokenSetJaccardHof(ts, tsRev).as("aj_h"))
        .filter(not(col("t_n") === col("t_h")) || not(col("sh_n") === col("sh_h"))
          || not(col("bk_n") === col("bk_h"))
          || (col("aj_n").isNull =!= col("aj_h").isNull)
          || (col("aj_n").isNotNull && abs(col("aj_n") - col("aj_h")) > 1e-15))
      assert(diff.count() === 0)
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prevWhole)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("simhash: identical texts equal, near-dups closer than unrelated") {
    val h = docs.select(col("doc_id"), Dedup.simHash32(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) === h(4L))
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)))
  }

  test("native shingles match the HOF formulation over the real corpus and edge cases") {
    import spark.implicits._
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .union(Seq("\tleading tab  and   runs", "one two", "solo", "", "   \t ").toDF("text"))
    Seq(1, 2, 4).foreach { n =>
      val diff = corpus.select(
        Dedup.shingles(col("text"), n).as("native"),
        Dedup.shinglesHof(col("text"), n).as("hof"))
        .filter(not(col("native") === col("hof")))
      assert(diff.count() === 0, s"shingle size $n diverged")
    }
  }

  test("simhash64: deterministic, near-dups closer than unrelated, distinct codes") {
    val h = docs.select(col("doc_id"),
      graft.plans.SimHash64Expr.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) === h(4L), "identical docs share the code")
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)))
    assert(h.values.toSet.size === 4, "distinct docs get distinct 64-bit codes")
  }

  test("native simhash matches the HOF formulation over the real corpus and edge cases") {
    import spark.implicits._
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .union(Seq("\tleading tab  and runs", "solo", "", "   \t ").toDF("text"))
    val diff = corpus.select(
      Dedup.simHash32(col("text")).as("native"),
      Dedup.simHash32Hof(col("text")).as("hof"))
      .filter(not(col("native") === col("hof")))
    assert(diff.count() === 0)
  }

  test("nearDupes pipeline drops verified near-duplicates, keeps distinct docs") {
    val out = Dedup.nearDupes(docs, "doc_id", "text", threshold = 0.8)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(4L), "exact dup of doc 1 must be dropped")
    assert(kept.contains(1L) && kept.contains(3L) && kept.contains(5L))
    assert(!kept.contains(2L), "near-dup (1 token differs of 13) above 0.8 jaccard")
  }

  test("token jaccard verifier") {
    import spark.implicits._
    val j = Seq(("a b c", "a b d")).toDF("t1", "t2")
      .select(Dedup.tokenJaccard(col("t1"), col("t2"))).collect()(0).getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12) // |{a,b}| / |{a,b,c,d}|
  }

  test("native array_jaccard matches the Column-level oracle on corpus pairs and edge cases") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // all pairs over 40 real docs (1 600 pairs), plus degenerate docs
    val sample = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text")).limit(40)
      .union(Seq("", "   \t ", "solo", "a a a repeated repeated").toDF("text"))
      .select(TextFunctions.tokenSet(col("text")).as("ts"))
    val diff = sample.alias("x").crossJoin(sample.alias("y"))
      .select(Dedup.tokenSetJaccard(col("x.ts"), col("y.ts")).as("native"),
        Dedup.tokenSetJaccardHof(col("x.ts"), col("y.ts")).as("oracle"))
      .filter(
        (col("native").isNull =!= col("oracle").isNull) ||
          (col("native").isNotNull && abs(col("native") - col("oracle")) > 1e-15))
    assert(diff.count() === 0)
    // empty/empty → NULL (no similarity signal), and raw-size semantics
    // with duplicate elements match array_intersect's distinct counting
    val edge = Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "a", "b"), Seq("a", "c"))).toDF("sa", "sb")
      .select(Dedup.tokenSetJaccard(col("sa"), col("sb")).as("j")).collect()
    assert(edge(0).isNullAt(0))
    // inter={a}=1 distinct, denom = 3 + 2 - 1 = 4
    assert(math.abs(edge(1).getDouble(0) - 0.25) < 1e-15)
  }

  test("nearDupes transitive: connected-components keeper differs from single-pass on a chain") {
    import spark.implicits._
    // chain with NON-monotONE ids: doc 1 ~ doc 3 ~ doc 2, but 1 ≁ 2.
    // 20 base tokens; B swaps 2, C swaps 2 more → J(1,3)=J(3,2)=18/22≈0.818,
    // J(1,2)=16/24≈0.667 < 0.7 threshold.
    val base = (1 to 20).map(i => s"tok$i")
    val mkDoc = (s: Seq[String]) => s.mkString(" ")
    val a = base
    val bDoc = base.updated(0, "swapA1").updated(1, "swapA2")
    val cDoc = bDoc.updated(2, "swapB1").updated(3, "swapB2")
    val chain = Seq((1L, mkDoc(a)), (2L, mkDoc(cDoc)), (3L, mkDoc(bDoc)))
      .toDF("doc_id", "text")
    val pairs = Dedup.verifiedPairs(chain, "doc_id", "text", threshold = 0.7,
      bands = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 3L), (2L, 3L)),
      s"planted chain must verify exactly its two edges: $pairs")
    // single-pass: a doc is kept iff it has no verified near-dup with a
    // smaller id → 2 survives (its only verified partner is 3 > 2)
    val single = Dedup.nearDupes(chain, "doc_id", "text", threshold = 0.7,
      bands = 16, rowsPerBand = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(single === Set(1L, 2L))
    // transitive: {1,2,3} is one component, min id 1 survives alone
    val trans = Dedup.nearDupes(chain, "doc_id", "text", threshold = 0.7,
      bands = 16, rowsPerBand = 2, transitive = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trans === Set(1L))
    // degenerate input: no verified pairs → empty label graph → no drops
    val none = Dedup.nearDupes(docs.filter(col("doc_id").isin(3L, 5L)),
      "doc_id", "text", threshold = 0.9, transitive = true)
    assert(none.count() === 2)
  }

  test("nearDupKeeperLabels: min-id label propagation reaches fixpoint on a long chain") {
    import spark.implicits._
    // path graph 1-2-...-40 written as pairs (i, i+1): diameter 39,
    // far beyond the 16-round cap for one-hop propagation — pointer
    // jumping must carry the min label exponentially
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.nearDupKeeperLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet === (1L to 40L).toSet)
    assert(labels.values.toSet === Set(1L), s"all nodes label to component min: $labels")
    // r15: the local union-find fast path ≡ the distributed
    // pointer-jumping loop (conf-forced), on a multi-component graph
    // with self-loops and shared minima
    val multi = (Seq((7L, 3L), (3L, 9L), (20L, 21L), (21L, 20L),
      (50L, 50L), (4L, 9L))).toDF("id1", "id2")
    val local = Dedup.nearDupKeeperLabels(multi)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    val dist = try Dedup.nearDupKeeperLabels(multi)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.cc.localMaxEdges")
    assert(local === dist, s"local $local vs distributed $dist")
  }

  test("ngramJaccardPairs: high-df tokens pruned before the self-join, rare-token pairs survive") {
    import spark.implicits._
    // 30 docs ALL sharing token "common" (df = 100 % > 50 % cap); docs
    // 1/2 also share rare token pair; everything else disjoint
    val docs30 = (1L to 30L).map { i =>
      val rare = if (i <= 2) "shared_rare pairkey" else s"only_$i alone_$i"
      (i, s"common $rare uniq_${i}_a uniq_${i}_b")
    }.toSeq.toDF("doc_id", "text")
    val out = graft.operators.TextOps.ngramJaccardPairs(
      docs30, "doc_id", "text", maxDfFraction = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // ONLY the rare-token pair appears: the universal token would have
    // joined all 435 pairs, but it is pruned
    assert(out.keySet === Set((1L, 2L)), s"only rare-token pair may survive: ${out.keySet}")
    // jaccard over the PRUNED sets: each doc keeps 4 of 5 tokens
    // ({shared_rare, pairkey, uniq_a, uniq_b}); inter = 2 → 2/6
    assert(math.abs(out((1L, 2L)) - 2.0 / 6) < 1e-12)
  }

  private lazy val vectors = {
    import spark.implicits._
    // 4-d unit-ish vectors: 0/1 close to 2; 3 orthogonal
    Seq(
      (0L, Array(1.0f, 0.1f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.2f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f), 1),
      (4L, Array(0.0f, 0.1f, 0.0f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
  }

  test("brute-force cosine top-k ranks the near neighbor first") {
    val out = Similarity.cosineTopK(vectors, vectors.filter(col("vec_id") === 0), k = 2)
    val got = out.orderBy("rn").collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.head._1 === 2L || got.head._1 === 1L)
    assert(got.length === 2)
    assert(!got.map(_._1).contains(0L), "query excluded from its own neighbors")
  }

  test("sign-LSH ANN returns same top neighbor as brute force here") {
    val brute = Similarity.cosineTopK(vectors, vectors.filter(col("vec_id") === 0), k = 1)
      .collect()(0).getLong(1)
    val ann = Similarity.annSignLsh(vectors, vectors.filter(col("vec_id") === 0),
      k = 1, bits = 4).collect()
    assert(ann.nonEmpty && ann(0).getLong(1) === brute)
  }

  test("multi-probe sign-LSH finds the Hamming-1 neighbor the single probe misses") {
    import spark.implicits._
    // query: strongly positive in all 4 bucketed dims; planted near-
    // identical neighbor has dim 0 JUST below zero — cosine ~0.97 but a
    // different sign bucket (bit 0 flipped), plus a decoy in the
    // query's own bucket at lower cosine
    val q = Seq((0L, Array(0.2f, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(0.2f, 1.0f, 1.0f, 1.0f)),
      (1L, Array(-0.01f, 1.0f, 1.0f, 1.0f)),  // boundary flip: best true neighbor
      (2L, Array(1.0f, 0.6f, 0.6f, 0.6f))     // same bucket as query, worse cosine
    ).toDF("vec_id", "embedding")
    val single = Similarity.annSignLsh(corpus, q, k = 1, bits = 4)
      .collect().map(_.getLong(1)).toSeq
    val multi = Similarity.annSignLshMultiProbe(corpus, q, k = 1, bits = 4)
      .collect().map(_.getLong(1)).toSeq
    assert(single == Seq(2L), s"single probe is bucket-blind to the flip: $single")
    assert(multi == Seq(1L), s"multi-probe must recover the true neighbor: $multi")
  }

  test("skewAudit: exact shares, running share, TakeOrdered top-k (no global sort)") {
    import spark.implicits._
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("c1", "c2", "c3"))
      .toDF("k")
    val out = graft.operators.Profiling.skewAudit(df, "k", topK = 3)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "hot", 6L, 500000L, 500000L, 12L, 5L),
      (2L, "warm", 3L, 250000L, 750000L, 12L, 5L),
      (3L, "c1", 1L, 83333L, 833333L, 12L, 5L)))
    // the top-k must be TakeOrderedAndProject, never a global sort of
    // the key space
    val plan = graft.operators.Profiling.skewAudit(df, "k", topK = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("kAnonymityAudit: per-class flags and the risk rollup") {
    import spark.implicits._
    val rows = Seq(
      ("US", "A", 1), ("US", "A", 2), ("US", "A", 3), ("US", "A", 1),
      ("US", "A", 2),                                  // size 5, l 3: safe
      ("US", "B", 1), ("US", "B", 1), ("US", "B", 1),  // size 3 < k, l 1
      ("FR", "A", 1), ("FR", "A", 2), ("FR", "A", 3), ("FR", "A", 4),
      ("FR", "A", 5), ("FR", "A", 1)                   // size 6, l 5: safe
    ).toDF("nation", "segment", "s")
    val audit = graft.operators.Profiling.kAnonymityAudit(
      rows, Seq("nation", "segment"), org.apache.spark.sql.functions.col("s"),
      k = 5, l = 3)
    val m = audit.collect().map(r => ((r.getString(0), r.getString(1)),
      (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(m(("US", "A")) == ((5L, 3L, true, true)))
    assert(m(("US", "B")) == ((3L, 1L, false, false)))
    assert(m(("FR", "A")) == ((6L, 5L, true, true)))
    val s = graft.operators.Profiling.kAnonymitySummary(audit).head()
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3),
      s.getLong(4), s.getLong(5)) == ((3L, 1L, 3L, 1L, 3L, 1L)))
  }

  test("url_canon: case/www/ports/fragment/tracking/param-order/slash all normalize; garbage is stable") {
    import spark.implicits._
    def canon(u: String): String =
      Seq(Tuple1(u)).toDF("u")
        .select(graft.plans.UrlCanonExpr.url_canon($"u")).as[String].head()
    val want = "http://x.com/p?a=1&b=2"
    for (messy <- Seq(
      "HTTP://WWW.X.COM:80/p?b=2&a=1#frag",
      "http://x.com/p/?utm_source=f&a=1&b=2",
      "http://x.com/p?gclid=z&b=2&a=1",
      "  http://x.com/p?a=1&b=2  "))
      assert(canon(messy) == want, s"'$messy' -> '${canon(messy)}'")
    assert(canon("https://X.com:443/") == "https://x.com/")
    assert(canon("https://x.com:8443/") == "https://x.com:8443/", "non-default port survives")
    assert(canon("http://x.com") == "http://x.com/", "empty path becomes root")
    assert(canon("http://x.com/?utm_campaign=c") == "http://x.com/", "all params scrubbed")
    // garbage: no scheme, junk — trimmed lowercase, never an error
    assert(canon("Not A URL") == "not a url")
    assert(canon("://x") == "://x")
    assert(canon("mailto:a@b.c") == "mailto:a@b.c")
    // dedup wrapper: one keeper per canonical, deterministic min id
    val urls = Seq((3L, "HTTP://WWW.X.COM/p?a=1"), (1L, "http://x.com/p/?a=1&utm_s=1"),
      (2L, "http://y.com/")).toDF("id", "url")
    val out = graft.operators.TextOps.urlDedup(urls, "id", "url")
      .select("id", "is_kept").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 3L -> false, 2L -> true), s"$out")
  }

  test("intraDocRepetitionStrip keeps first occurrences in order, zero shuffles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d a b c d e"),            // chunk repeat: one strip
      (2L, "x y z"),                        // no repeats
      (3L, ""),                             // empty doc
      (4L, "p q p q p q p q p q p q")       // three identical chunks -> keep 1
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.intraDocRepetitionStrip(
        docs, "doc_id", "text", lineTokens = 4)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(out(0) == ((1L, "a b c d e", 1L)), s"${out(0)}")
    assert(out(1) == ((2L, "x y z", 0L)))
    assert(out(2) == ((3L, "", 0L)))
    assert(out(3) == ((4L, "p q p q", 2L)), s"${out(3)}")
    // one per-row projection: no exchange anywhere in the plan
    val plan = graft.operators.TextOps.intraDocRepetitionStrip(
      docs, "doc_id", "text", 4).queryExecution.executedPlan
    val ex = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
    assert(ex.isEmpty, s"intra-doc strip must not shuffle:\n$plan")
  }

  test("intraDocRepetitionStrip: native O(chunks) kernel ≡ HOF differential oracle") {
    import spark.implicits._
    // adversarial shapes: chunk-boundary repeats, partial trailing
    // chunks, multi-space/tab/newline whitespace, single tokens, nulls,
    // all-identical long docs, and a seeded pseudo-random corpus
    val rnd = new scala.util.Random(42)
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    val randomDocs = (100L until 160L).map { i =>
      val n = rnd.nextInt(40)
      (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val docs = (Seq(
      (1L, "a b c d a b c d e"),
      (2L, "x y z"),
      (3L, ""),
      (4L, "  p   q \t p q \n p q  "),
      (5L, null.asInstanceOf[String]),
      (6L, "solo"),
      (7L, Seq.fill(50)("r s t").mkString(" "))
    ) ++ randomDocs).toDF("doc_id", "text")
    for (l <- Seq(1, 3, 8)) {
      val native = graft.operators.TextOps.intraDocRepetitionStrip(
          docs, "doc_id", "text", l)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val hof = graft.operators.TextOps.intraDocRepetitionStripHof(
          docs, "doc_id", "text", l)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(native == hof, s"native ≠ HOF at lineTokens=$l")
    }
  }

  test("tClosenessAudit: integer EMD vs the table distribution, flags at t") {
    import spark.implicits._
    // table: 12 rows, sensitive 1/2 split 6/6 (q = 1/2, 1/2).
    // class A (2/2) matches the table exactly -> EMD 0. class B (4/0)
    // is fully skewed: cum diff at v=1 is c*N - g*n = 4*12 - 6*4 = 24,
    // back to 0 at v=2 -> emd_num 24 over (m-1)*n*N = 48 -> EMD = 1/2.
    val rows = Seq(("A", 1), ("A", 1), ("A", 2), ("A", 2),
      ("B", 1), ("B", 1), ("B", 1), ("B", 1),
      ("C", 2), ("C", 2), ("C", 2), ("C", 2)).toDF("grp", "s")
    val audit = graft.operators.Profiling.tClosenessAudit(
        rows, Seq("grp"), col("s"), tPermille = 400L)
      .orderBy("grp").collect()
    assert(audit(0).getString(0) == "A" &&
      audit(0).getDecimal(2).longValueExact() == 0L && audit(0).getBoolean(3))
    assert(audit(1).getString(0) == "B" &&
      audit(1).getDecimal(2).longValueExact() == 24L && !audit(1).getBoolean(3),
      s"B: EMD 1/2 > 0.400 must flag: ${audit(1)}")
    assert(audit(2).getString(0) == "C" &&
      audit(2).getDecimal(2).longValueExact() == 24L && !audit(2).getBoolean(3))
    // at t = 500 permille the skewed class passes exactly (24*1000 <= 500*48)
    val relaxed = graft.operators.Profiling.tClosenessAudit(
        rows, Seq("grp"), col("s"), tPermille = 500L)
      .filter(col("grp") === "B").head()
    assert(relaxed.getBoolean(3), "EMD exactly t must pass (<=)")
  }

  test("kAnonymize: minimal passing level chosen, residual rows suppressed, re-audit green") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, lit}
    // zips 11/12/13: 2 rows each (fail k=3 raw, merge into a passing
    // zip-prefix "1" class of 6); zip 20: 4 rows, 2 sensitive values
    // (passes raw); zip 35: 2 rows that STAY below k even at the
    // prefix level ("3" has only these 2) → suppressed at level 1
    val rows = (Seq((11, 1), (11, 2), (12, 1), (12, 2), (13, 1), (13, 2),
      (20, 1), (20, 2), (20, 1), (20, 2), (35, 1), (35, 2)))
      .zipWithIndex.map { case ((z, s), i) => (i.toLong, z, s) }
      .toDF("id", "zip", "s")
    val released = graft.operators.Profiling.kAnonymize(rows,
      ladders = Seq("zip_gen" -> Seq(col("zip").cast("string"),
        expr("zip div 10").cast("string"), lit("*"))),
      sensitiveCol = "s", k = 3, l = 2, maxSuppressPerMille = 200L)
    // level 0 risk 8/12 > 20%; level 1 risk 2/12 ≤ 20% → minimal level 1
    assert(released.select("gen_level").distinct().as[Long].collect().toSeq == Seq(1L))
    // exactly the two zip-35 rows are suppressed (predicted count)
    val kept = released.select("id").as[Long].collect().toSet
    assert(kept.size == 10 && !kept.contains(10L) && !kept.contains(11L), s"kept: $kept")
    // the release re-audits clean in the same job
    val summary = graft.operators.Profiling.kAnonymitySummary(
      graft.operators.Profiling.kAnonymityAudit(
        released, Seq("zip_gen"), col("s"), k = 3, l = 2)).head()
    assert(summary.getLong(1) == 0L && summary.getLong(2) == 0L &&
      summary.getLong(3) == 0L, s"re-audit: $summary")
    // l-diversity-only violation is suppressed too (single-level ladder)
    val lRows = Seq((40, 7), (40, 7), (40, 7), (50, 1), (50, 2), (50, 1))
      .toDF("zip", "s")
    val lRel = graft.operators.Profiling.kAnonymize(lRows,
      ladders = Seq("zip_gen" -> Seq(col("zip").cast("string"))),
      sensitiveCol = "s", k = 3, l = 2, maxSuppressPerMille = 500L)
    assert(lRel.select("zip_gen").as[String].collect().toSet == Set("50"),
      "the l-violating class must be suppressed")
    // the raw quasi-identifier source column must NOT ride along with
    // its generalized form — that release would not be k-anonymous
    assert(!released.columns.contains("zip") && !lRel.columns.contains("zip"),
      s"raw QI source must be excluded from passthrough: ${released.columns.toSeq}")
  }

  test("kAnonymize: null quasi-identifiers are suppressed, not released as a class") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, lit}
    // four null-zip rows form a big, diverse class — under the old
    // null-safe-join behavior they'd be RELEASED at level 0; the
    // contract says a null-keyed class is a linkage risk and must be
    // suppressed (budget 500‰ admits level 0 with them at risk)
    val rows = Seq(
      (0L, Some(11), 1), (1L, Some(11), 2), (2L, Some(11), 1),
      (3L, None, 1), (4L, None, 2), (5L, None, 1), (6L, None, 2))
      .toDF("id", "zip", "s")
    val rel = graft.operators.Profiling.kAnonymize(rows,
      ladders = Seq("zip_gen" -> Seq(col("zip").cast("string"),
        expr("zip div 10").cast("string"), lit("*"))),
      sensitiveCol = "s", k = 3, l = 2, maxSuppressPerMille = 600L)
    assert(rel.select("gen_level").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(rel.select("id").as[Long].collect().toSet == Set(0L, 1L, 2L),
      "null-QI rows must be suppressed at a level where they stay null")
    // at the coarsest level the null maps to '*' (non-null) and the
    // rows legitimately re-enter: tighten the budget so level 2 wins
    val rel2 = graft.operators.Profiling.kAnonymize(rows,
      ladders = Seq("zip_gen" -> Seq(col("zip").cast("string"),
        col("zip").cast("string"), lit("*"))),
      sensitiveCol = "s", k = 5, l = 2, maxSuppressPerMille = 0L)
    assert(rel2.select("gen_level").distinct().as[Long].collect().toSeq == Seq(2L))
    assert(rel2.count() == 7L,
      "once generalized to '*' the former-null rows are releasable")
  }

  test("review regressions: bm25 store term named 'id', null-URL dedup, sensitive-referencing ladder") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, lit}
    // a query term equal to a frame column name must not collide:
    // tf columns are positional, never term-named
    val docs = Seq((1L, "id match one"), (2L, "status only here"),
      (3L, "id and status both")).toDF("doc_id", "text")
    val viaStores = graft.operators.TextOps.bm25FromStores(
        graft.operators.Search.buildPostings(docs, "doc_id", "text"),
        graft.operators.TextOps.docLengths(docs, "doc_id", "text"),
        Seq("id", "status"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val direct = graft.operators.TextOps.bm25(docs, "doc_id", "text",
        Seq("id", "status"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(viaStores == direct, s"$viaStores vs $direct")
    // a null-URL row has no canonical form: kept, never join-dropped
    val urls = Seq((1L, Some("http://a.com/x")), (2L, Some("HTTP://A.com/x")),
      (3L, None)).toDF("doc_id", "url")
    val ud = graft.operators.TextOps.urlDedup(urls, "doc_id", "url")
      .select($"doc_id", $"is_kept").as[(Long, Boolean)].collect().toMap
    assert(ud == Map(1L -> true, 2L -> false, 3L -> true), s"$ud")
    // a ladder over the sensitive column must not strip it from the
    // release (sensitive ≠ quasi-identifier; the audit needs it)
    val rows = (0 until 12).map(i => (i.toLong, 1000 + i % 3))
      .toDF("id", "salary")
    val rel = graft.operators.Profiling.kAnonymize(rows,
      ladders = Seq("band_gen" -> Seq(
        expr("CAST(salary div 10 AS STRING)"), lit("*"))),
      sensitiveCol = "salary", k = 3, l = 2, maxSuppressPerMille = 0L)
    assert(rel.columns.contains("salary"), rel.columns.toSeq.toString)
    assert(rel.count() == 12L)
  }

  test("domainFilter: pathological domains drop wholesale; corpus side stays broadcast-probed") {
    import spark.implicits._
    // good.com: distinct, long texts; farm.com: one mirrored text;
    // stubs.com: one-token pages — both bad domains condemn ALL pages
    val docs = ((0 until 8).map(i => (i.toLong,
        s"http://good.com/page$i?utm_source=x",
        s"a perfectly ordinary document number $i with plenty of distinct words " +
          "padding the token count well past the short threshold for this test")) ++
      (10 until 18).map(i => (i.toLong, s"HTTP://WWW.FARM.com:80/m$i", "mirror mirror")) ++
      (20 until 28).map(i => (i.toLong, s"http://stubs.com/s$i", "stub")))
      .toDF("doc_id", "url", "text")
    val kept = graft.operators.TextOps.domainFilter(docs, "url", "text",
      maxDupE6 = 500000L, maxShortPermille = 500L, shortTokens = 8)
    assert(kept.select("__host").distinct().as[String].collect().toSeq == Seq("good.com"),
      "only the clean domain survives")
    assert(kept.count() == 8L)
    // the domain card reads the same audit per host
    val card = graft.operators.TextOps.domainCard(docs, "url", "text",
        shortTokens = 8)
      .select($"scope", $"n_docs", $"n_distinct").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(card("farm.com") == (8L, 1L) && card("stubs.com") == (8L, 1L) &&
      card("good.com") == (8L, 8L) && card("__all__") == (24L, 10L), s"$card")
    // verdict side broadcasts on a normal corpus — but via AQE's runtime
    // size decision, NOT a static hint (a hint would collect a web-scale
    // tens-of-millions-host verdict to the driver regardless; the
    // HotBuckets.dropOversized convention). Execute, then read the
    // finalized adaptive plan.
    kept.collect()
    val plan = (kept.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"domain verdict must broadcast under AQE: $plan")
    assert(!graft.operators.TextOps.domainFilter(docs, "url", "text",
        maxDupE6 = 500000L, maxShortPermille = 500L, shortTokens = 8)
      .queryExecution.analyzed.toString.toLowerCase.contains("hint"),
      "no static broadcast hint on the verdict side")
  }

  test("dpDataCard: seeded geometric noise is deterministic, seed-sensitive, and well-shaped") {
    import spark.implicits._
    val docs = (0 until 400).map(i =>
      (i.toLong, s"document body number $i with some words", s"l${i % 4}"))
      .toDF("doc_id", "text", "lang")
    val r1 = graft.operators.Profiling.dpDataCard(docs, "text", "lang", seed = 7L)
      .orderBy("scope").collect().map(_.toSeq).toSeq
    val r2 = graft.operators.Profiling.dpDataCard(docs, "text", "lang", seed = 7L)
      .orderBy("scope").collect().map(_.toSeq).toSeq
    assert(r1 == r2, "same seed must reproduce the identical release")
    val r3 = graft.operators.Profiling.dpDataCard(docs, "text", "lang", seed = 8L)
      .orderBy("scope").collect().map(_.toSeq).toSeq
    assert(r1 != r3, "a different seed must draw different noise")
    // withheld columns stay withheld; released counts never go negative
    val cols = graft.operators.Profiling.dpDataCard(docs, "text", "lang", seed = 7L).columns.toSeq
    assert(cols == Seq("scope", "n_docs_dp", "n_distinct_dp", "short_docs_dp", "dup_e6_dp"))
    assert(!cols.exists(_.contains("token")), "unbounded-sensitivity columns must be withheld")
    // mechanism shape over many independent draws: replay the exact
    // threshold walk per key and check P(z=0) ~ 1/3, symmetry, bounds
    def draw(key: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).take(6)
      val v = h.foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
      val z = (-40 to 40).find { zz =>
        val t = if (zz < 0) 1L << (49 + zz) else 3L * (1L << 48) - (1L << (48 - zz))
        3 * v < t
      }
      z.getOrElse(40).toLong
    }
    val zs = (0 until 3000).map(i => draw(s"7:k$i:n_docs"))
    val p0 = zs.count(_ == 0).toDouble / zs.size
    assert(math.abs(p0 - 1.0 / 3) < 0.04, s"P(z=0) must be ~1/3: $p0")
    assert(math.abs(zs.sum.toDouble / zs.size) < 0.2, "noise must be centered")
    assert(zs.forall(z => z >= -40 && z <= 40))
    // and the operator's draws match the pure replay for a known scope
    val card = graft.operators.Profiling.dataCard(docs, "text", "lang")
      .filter($"scope" === "l0").select($"n_docs").as[Long].head()
    val rel = graft.operators.Profiling.dpDataCard(docs, "text", "lang", seed = 7L)
      .filter($"scope" === "l0").select($"n_docs_dp").as[Long].head()
    assert(rel == math.max(0L, card + draw("7:l0:n_docs")),
      "the engine draw must equal the spec's independent replay")
  }

  test("dataCard: ROLLUP total row is distinguishable from a genuine null-language group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", Some("en")),
      (2L, "alpha beta gamma", Some("en")),
      (3L, "un deux trois", Some("fr")),
      (4L, "sin idioma conocido", None),
      (5L, "sin idioma conocido", None))
      .toDF("doc_id", "text", "lang")
    val card = graft.operators.Profiling.dataCard(docs, "text", "lang",
        shortTokens = 32)
      .select($"scope", $"n_docs").as[(String, Long)].collect().toMap
    // grouping() tags the total; a null lang group gets its own scope —
    // coalesce-only logic would emit two indistinguishable rows here
    assert(card == Map("__all__" -> 5L, "en" -> 2L, "fr" -> 1L,
      "__null__" -> 2L), s"card scopes wrong: $card")
  }

  test("nearDupesAnn: planted near-dups found, every pair verified exact, hot buckets capped") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def vec(dim: Int) = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val base = (0L until 40L).map(i => (i, vec(16)))
    // five planted near-dup pairs: tiny same-sign perturbation keeps the
    // sign pattern (and cosine ~ 1)
    val planted = (0 until 5).flatMap { p =>
      val v = vec(16)
      Seq((100L + p * 2, v), (101L + p * 2, v.map(x => x * 1.001f + math.signum(x) * 1e-4f)))
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")

    val ann = Similarity.nearDupesAnn(corpus, threshold = 0.95, bits = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // recall on planted pairs: identical sign patterns guarantee co-bucketing
    (0 until 5).foreach { p =>
      assert(ann.contains((100L + p * 2, 101L + p * 2)),
        s"planted pair $p missing: ${ann.keys.toSeq.sorted}")
    }
    // precision: every returned pair is in the exact all-pairs set with
    // the same rounded similarity
    import graft.functions.VectorFunctions.{dot, norm}
    val exact = corpus.alias("a").join(corpus.alias("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("s", dot(col("a.embedding"), col("b.embedding")) /
        (norm(col("a.embedding")) * norm(col("b.embedding"))))
      .filter(col("s") > 0.95)
      .select(col("a.vec_id"), col("b.vec_id"), round(col("s"), 4))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ann.foreach { case (pair, sim) =>
      assert(exact.get(pair).contains(sim), s"pair $pair sim $sim not in exact set")
    }

    // hot-bucket cap: 10 identical vectors over the cap emit no pairs
    val boiler = (200L until 210L).map(i => (i, Array.fill(16)(0.5f)))
    val capped = Similarity.nearDupesAnn(boiler.toDF("vec_id", "embedding"),
      threshold = 0.95, bits = 6, maxBucketSize = 8)
    assert(capped.count() === 0)
  }

  test("nearDupesAnnBanded: multi-band recall beats single-table at equal total bits") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0L until 60L).map(i => (i, unit(64)))
    // ten planted high-cosine pairs (~0.98): tight gaussian perturbation
    val planted = (0 until 10).flatMap { p =>
      val v = unit(64)
      val w = v.map(x => x + rnd.nextGaussian().toFloat * 0.04f)
      Seq((200L + p * 2, v), (201L + p * 2, w))
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val bandedPairs = Similarity.nearDupesAnnBanded(corpus, threshold = 0.9,
        bits = 8, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val singlePairs = Similarity.nearDupesAnn(corpus, threshold = 0.9, bits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = (0 until 10).map(p => (200L + p * 2, 201L + p * 2)).toSet
    // banding's whole point: with the same 16 leading-dims budget the
    // single table misses planted pairs that any-band collision keeps
    assert((plantedPairs -- bandedPairs).isEmpty,
      s"banded must find every planted pair, missed ${plantedPairs -- bandedPairs}")
    assert(singlePairs.intersect(plantedPairs).size < plantedPairs.size,
      "fixture must make the single 16-bit table lossy (else it proves nothing)")
    // precision: every banded pair is a true >0.9 pair (exact check)
    val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    bandedPairs.foreach { case (i, j) =>
      val (a, b) = (vecs(i), vecs(j))
      val cos = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum /
        (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
      assert(cos > 0.9, s"pair ($i,$j) cos=$cos")
    }
  }

  test("autoBits sizes the bucket count to hold per-bucket population constant") {
    // ceil(log2(n / target)), clamped [1, maxBits]
    assert(Similarity.autoBits(1000, 1024, 16) === 1)
    assert(Similarity.autoBits(20000, 1024, 16) === 5)   // 20000/1024≈19.5 → 2^5
    assert(Similarity.autoBits(200000, 1024, 16) === 8)  // 10× corpus → ~10× buckets
    assert(Similarity.autoBits(1L << 40, 1024, 16) === 16, "clamped to maxBits")
    // exact power-of-two ratio must NOT overshoot (float log2 gave
    // 29.000000000000004 → 30 here)
    assert(Similarity.autoBits(1024L << 29, 1024, 30) === 29)
    // invariant: expected bucket size n / 2^bits stays ≤ target (until the clamp)
    Seq(10000L, 100000L, 1000000L, 10000000L).foreach { n =>
      val bits = Similarity.autoBits(n, 1024, 30)
      assert(n.toDouble / (1L << bits) <= 1024.0, s"n=$n bits=$bits")
    }
  }

  test("nearDupesAnnAuto matches nearDupesAnn at the derived bits") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 100L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val auto = Similarity.nearDupesAnnAuto(corpus, threshold = 0.8,
      targetBucketSize = 16, maxBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Similarity.nearDupesAnn(corpus, threshold = 0.8,
      bits = Similarity.autoBits(100, 16, 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === expected)
  }

  test("nearDupesAnnAuto with knownCount runs no job at construction time") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 100L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    // a caller that already counted the corpus must not pay a rescan:
    // with knownCount supplied, building the DataFrame is fully lazy
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Similarity.nearDupesAnnAuto(corpus, threshold = 0.8,
        targetBucketSize = 16, maxBits = 8, knownCount = Some(100L))
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() === 0,
        s"construction with knownCount must be lazy, ran ${jobs.get()} job(s)")
      // and the derived sizing matches the counted form exactly
      val viaCount = Similarity.nearDupesAnnAuto(corpus, threshold = 0.8,
        targetBucketSize = 16, maxBits = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === viaCount)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("nearDupesAnnBandedAuto sizes per-band bits from the corpus and clamps to dim") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = (0L until 120L).map(i => (i, unit(64))).toDF("vec_id", "embedding")
    // derived bits: autoBits(120, 8, 24) = 4, well under dim/bands = 16
    val auto = Similarity.nearDupesAnnBandedAuto(corpus, threshold = 0.9,
        bands = 4, targetBucketSize = 8, knownCount = Some(120L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Similarity.nearDupesAnnBanded(corpus, threshold = 0.9,
        bits = Similarity.autoBits(120, 8, 24), bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === explicit)
    // clamping: a huge corpus count would derive bits > dim/bands; the
    // clamp keeps every band inside the vector instead of throwing the
    // banded form's bits*bands <= dim requirement
    val clamped = Similarity.nearDupesAnnBandedAuto(corpus, threshold = 0.9,
      bands = 16, targetBucketSize = 1, knownCount = Some(1L << 40))
    assert(clamped.columns.toSeq === Seq("id1", "id2", "sim")) // constructed fine
    // bands > dim is a caller error, reported as such
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupesAnnBandedAuto(corpus, threshold = 0.9, bands = 65)
    }
    assert(e.getMessage.contains("exceeds embedding dim"))
  }

  test("nearDupesAnnBandedAuto bands=1 with knownCount runs no job at construction") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val corpus = (0L until 100L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    // bands == 1 needs no dim clamp (SignBucketExpr self-caps), so the
    // knownCount laziness contract of nearDupesAnnAuto must carry over
    // to the banded-auto form too (ADVICE r5)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Similarity.nearDupesAnnBandedAuto(corpus, threshold = 0.8,
        bands = 1, targetBucketSize = 16, knownCount = Some(100L))
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() === 0,
        s"banded-auto bands=1 with knownCount must be lazy, ran ${jobs.get()} job(s)")
      // and matches the explicit-bits banded form
      val explicit = Similarity.nearDupesAnnBanded(corpus, threshold = 0.8,
          bits = Similarity.autoBits(100L, 16, 24), bands = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === explicit)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("IVF ANN probes matching lists and finds in-list neighbors") {
    val out = Similarity.annIvf(vectors, vectors.filter(col("vec_id") === 3), k = 1,
      nprobe = 1).collect()
    assert(out.length === 1 && out(0).getLong(1) === 4L)
  }

  test("native sdf_props matches the Scala parser on edge-case records") {
    import spark.implicits._
    val records = Seq(
      "mol\n  comment\n\nM  END\n> <ID>\nMOL1\n\n> <SMILES>\nCCO\n",
      "mol\nM  END\n> <Multi>\nline one\nline two\n\n> malformed no tag\n> <Empty>\n\n> <Dup>\na\n\n> <Dup>\nb\n",
      "no properties at all\nM  END\n",
      "",
      // 6 tags: beyond Scala's Map4, where a plain .toMap would lose
      // insertion order — the ordering-parity case that matters for
      // real PubChem records
      (1 to 6).map(i => s"> <TAG_$i>\nv$i\n").mkString("mol\nM  END\n", "\n", ""))
    val df = records.toDF("record")
    val parse = org.apache.spark.sql.functions.udf(graft.sources.SdfReader.parseProps)
    val rows = df.select(
      graft.sources.SdfReader.sdfProps(col("record")).as("native"),
      parse(col("record")).as("udf")).collect()
    rows.foreach { r =>
      assert(r.getMap[String, String](0).toMap === r.getMap[String, String](1).toMap)
    }
    // ordering parity too (map iteration order feeds downstream hashing)
    rows.foreach { r =>
      assert(r.getMap[String, String](0).keys.toSeq === r.getMap[String, String](1).keys.toSeq)
    }
  }

  test("textops: chunkTokens reassembles to the original token stream over the corpus") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val reassembled = graft.operators.TextOps.chunkTokens(docs, "doc_id", "text", 50)
      .groupBy("id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        _.getField("chunk_text")), " ").as("joined"))
    val original = docs.select(col("doc_id").as("id"),
      array_join(graft.functions.TextFunctions.tokens(col("text")), " ").as("orig"))
      .filter(length(col("orig")) > 0)
    val diff = original.join(reassembled, Seq("id"), "full")
      .filter(col("joined").isNull || col("orig").isNull || col("joined") =!= col("orig"))
    assert(diff.count() === 0)
  }

  test("textops: chunkTokens native kernel ≡ explode-aggregate oracle over the corpus") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val native = graft.operators.TextOps.chunkTokens(docs, "doc_id", "text", 7)
    val oracle = graft.operators.TextOps.chunkTokensAgg(docs, "doc_id", "text", 7)
    assert(native.schema === oracle.schema)
    assert(native.exceptAll(oracle).isEmpty && oracle.exceptAll(native).isEmpty)
  }

  test("textops: chunkTokens splits on exact boundaries, keeps order, drops empty docs") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 7).map(i => s"t$i").mkString(" ")), // 7 tokens, size 3 → 3+3+1
      (2L, ""),                                      // empty → no chunks
      (3L, "only three tokens")                      // exactly one chunk
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.chunkTokens(df, "doc_id", "text", 3)
      .orderBy("id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 0L, "t1 t2 t3", 3L),
      (1L, 1L, "t4 t5 t6", 3L),
      (1L, 2L, "t7", 1L),
      (3L, 0L, "only three tokens", 3L)))
  }

  test("textops: tfidf/topTerms/sessionize library forms") {
    import spark.implicits._
    val top = graft.operators.TextOps.topTerms(docs, "doc_id", "text", 1)
      .select("id", "term").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top.size === 5)
    assert(top.values.forall(_.nonEmpty))
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"))).toDF("uid", "ts")
    val sess = graft.operators.TextOps.sessionize(ev, "uid", "ts", gapSeconds = 1800)
      .select("session_id").collect().map(_.getLong(0)).toSeq
    assert(sess === Seq(1L, 1L, 2L))
  }

  test("perceptual near-dup: exact payload copies pair at L1 = 0, all-pairs never happens") {
    import spark.implicits._
    // 3 distinct byte distributions ×repeats + exact copies at 100+
    val base = Seq(
      (1L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh"),
      (2L, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss"),
      (3L, "0101 2323 4545 6767 8989 0101 2323 4545"),
      (101L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh"), // copy of 1
      (102L, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss")  // copy of 2
    ).toDF("doc_id", "text")
    val media = Multimodal.synthesize(base, "doc_id", "text")
    val pairs = Multimodal.perceptualNearDupCandidates(media, dim = 8,
      maxBucketSize = 64, thrPermille = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact copies: same histogram → same sign bucket → L1 exactly 0
    assert(pairs.exists(p => p._1 == 1L && p._2 == 101L && p._3 == 0L))
    assert(pairs.exists(p => p._1 == 2L && p._2 == 102L && p._3 == 0L))
    // a degenerate signature (every row identical) is capped, not
    // exploded into O(m²) pairs
    val mono = Multimodal.synthesize(
      (1 to 200).map(i => (i.toLong, "same same same")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(Multimodal.perceptualNearDupCandidates(mono, dim = 8,
      maxBucketSize = 64).count() === 0)
  }

  test("binaryFile source maps into the media schema") {
    val dir = tmpDir("binfiles")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.bin"), Array[Byte](4, 5))
    val media = Multimodal.readBinaryFiles(spark, s"$dir/*.bin")
    assert(media.schema.fieldNames.toSeq === Seq("media_id", "payload", "meta"))
    val rows = media.orderBy(col("meta.n_bytes")).collect()
    assert(rows.map(_.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("n_bytes")).toSeq === Seq(2L, 3L))
    assert(rows(1).getAs[Array[Byte]]("payload").toSeq === Seq[Byte](1, 2, 3))
    // stub decode runs over real file payloads too
    assert(Multimodal.decodeStub(media).count() === 2)
  }

  test("multimodal: schema, stub decode batch shape, resize, frames") {
    val media = Multimodal.synthesize(
      docs.withColumnRenamed("doc_id", "id"), "id", "text")
    assert(media.schema.fieldNames.toSeq === Seq("media_id", "payload", "meta"))
    val feats = Multimodal.decodeStub(media, dim = 8)
    val row = feats.filter(col("media_id") === 1).collect()(0)
    val f = row.getSeq[Float](row.fieldIndex("features"))
    assert(f.length === 8)
    assert(math.abs(f.sum - 1.0f) < 1e-5, "histogram features normalized")
    // determinism: same payload → same features
    val f4 = feats.filter(col("media_id") === 4).collect()(0)
    assert(f4.getSeq[Float](f4.fieldIndex("features")) === f)
    val resized = Multimodal.resize(media, 32, 32).select("meta.width").distinct().collect()
    assert(resized.map(_.getInt(0)).toSeq === Seq(32))
    assert(Multimodal.sampleFrames(media).count() >= media.count())
  }

  test("prefixRerankTopK: two-stage equals full-dim top-k when the prefix separates") {
    import spark.implicits._
    // planted clusters: 4 queries, each with 12 separable neighbors
    // whose 8-dim prefix is IDENTICAL to the query's (only dim 16
    // perturbed) — stage 1 cannot miss them, so two-stage == full-dim
    val rnd = new scala.util.Random(7)
    val qs = (0L until 4L).map(q => (q, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val corpus = (qs.flatMap { case (q, v) =>
      (1 to 12).map { i =>
        val p = v.clone(); p(15) = p(15) + 0.05f * i
        (1000L + q * 100 + i, p.toSeq)
      }
    } ++ (0L until 200L).map(i =>
      (2000L + i, Array.fill(16)(rnd.nextFloat() * 2 - 1).toSeq)) ++
      qs.map { case (q, v) => (q, v.toSeq) }).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 4)
    val two = Similarity.prefixRerankTopK(corpus, queries, k = 5,
        prefixDim = 8, shortlist = 20)
      .select("qid", "cid", "rn").orderBy("qid", "rn")
      .as[(Long, Long, Long)].collect().toSeq
    val full = Similarity.cosineTopK(corpus, queries, k = 5)
      .select("qid", "cid", "rn").orderBy("qid", "rn")
      .as[(Long, Long, Long)].collect().toSeq
    assert(two.size == 20 && two == full,
      s"two-stage must equal full-dim on separable data:\n$two\nvs\n$full")
    // the shortlist stage is an AGGREGATE, not a ranking window over
    // the Q x C pair relation: no WindowExec may touch a cv/qv pair
    val plan = Similarity.prefixRerankTopK(corpus, queries, 5, 8, 20)
      .queryExecution.executedPlan
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          windows(a.executedPlan)
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          Seq(w.child.output.map(_.name).mkString(","))
      }.flatten
    val pairWindows = windows(plan).filter(cols =>
      cols.contains("cv") || cols.contains("qv"))
    assert(pairWindows.isEmpty,
      s"shortlist must not rank via a pair-relation window: ${windows(plan)}")
  }

  test("TopKAgg keeps the exact (score desc, id asc) top-k under any arrival order") {
    val agg = graft.functions.TopKAgg.topKAgg(3)
    val items = Seq((0.5, 10L), (0.9, 3L), (0.9, 1L), (0.1, 7L), (0.9, 2L), (0.7, 4L))
    // single-buffer reduction
    val all = items.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(all) == Seq((0.9, 1L), (0.9, 2L), (0.9, 3L)))
    // split + merge in adversarial order
    val (l, r) = items.splitAt(2)
    val merged = agg.merge(r.foldLeft(agg.zero)(agg.reduce),
      l.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) == Seq((0.9, 1L), (0.9, 2L), (0.9, 3L)))
    // under-full groups pass through whole, ordered
    val few = agg.finish(Seq((0.2, 9L), (0.8, 5L)).foldLeft(agg.zero)(agg.reduce))
    assert(few == Seq((0.8, 5L), (0.2, 9L)))
    // ids beyond 2^53 (e.g. xxhash64-derived) would corrupt silently in
    // the double buffer — the aggregator must refuse them instead
    intercept[IllegalArgumentException] {
      agg.reduce(agg.zero, (0.5, (1L << 53) + 1L))
    }
    assert(agg.finish(agg.reduce(agg.zero, (0.5, 1L << 53))) == Seq((0.5, 1L << 53)))
  }

  test("media_header parses PNG/PNG-IHDR, JPEG marker walk, WAV chunk walk, garbage") {
    import spark.implicits._
    // synthesized structured payloads (real header bytes) parse to the
    // id-formula values across all three formats
    val media = Multimodal.synthesizeStructured(
      (0L until 30L).toDF("doc_id"), "doc_id")
    val parsed = media.select($"media_id",
        graft.plans.MediaHeaderExpr.media_header($"payload").as("h"))
      .orderBy("media_id").collect()
    parsed.foreach { r =>
      val id = r.getLong(0)
      val h = r.getStruct(1)
      (id % 3) match {
        case 0 =>
          assert(h.getString(0) == "png" && h.getLong(1) == 16 + id % 64 &&
            h.getLong(2) == 16 + id % 48, s"png $id: $h")
          assert(h.getLong(3) == Seq(1L, 3L, 4L)(((id / 3) % 3).toInt), s"png ch $id: $h")
        case 1 =>
          assert(h.getString(0) == "jpeg" && h.getLong(1) == 32 + id % 80 &&
            h.getLong(2) == 32 + id % 100, s"jpeg $id: $h")
          assert(h.getLong(3) == (if ((id / 3) % 2 == 0) 3L else 1L), s"jpeg ch $id: $h")
        case _ =>
          assert(h.getString(0) == "wav" && h.getLong(3) == 1 + (id / 3) % 2 &&
            h.getLong(4) == 8000 + (id % 4) * 4000 &&
            h.getLong(5) == 100 + id % 50, s"wav $id: $h")
      }
    }
    // garbage bytes parse as unknown, never throw
    val junk = Seq((1L, Array[Byte](1, 2, 3), null), (2L, null, null))
      .toDF("media_id", "payload", "x").drop("x")
    val u = junk.select(graft.plans.MediaHeaderExpr.media_header($"payload").as("h"))
      .collect()
    assert(u(0).getStruct(0).getString(0) == "unknown")
    assert(u(1).isNullAt(0), "null payload -> null header")
  }

  test("media_header GIF branch: dims, channels, frame count via sub-block skip, truncation") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.gifGrayPayload(5L, 1, interlaced = false)),   // 1 frame
      (2L, Multimodal.gifAnimatedPayload(5L, 1, frames = 4)),       // 4 frames
      (3L, Multimodal.gifGrayPayload(9L, 2, interlaced = true)),    // 64x64
      (4L, Multimodal.gifAnimatedPayload(5L, 1, 4).dropRight(40))   // truncated tail
    ).toDF("id", "payload")
    val h = rows.orderBy("id").select(
        graft.plans.MediaHeaderExpr.media_header($"payload").as("h"))
      .collect().map(_.getStruct(0))
    assert(h(0).getString(0) == "gif" && h(0).getLong(1) == 32 &&
      h(0).getLong(2) == 32 && h(0).getLong(3) == 3 && h(0).getLong(5) == 1,
      s"static: ${h(0)}")
    assert(h(1).getString(0) == "gif" && h(1).getLong(5) == 4, s"animated: ${h(1)}")
    assert(h(2).getString(0) == "gif" && h(2).getLong(1) == 64 &&
      h(2).getLong(5) == 1, s"interlaced 2x: ${h(2)}")
    // a truncated tail keeps the frames counted so far (guarded walk)
    assert(h(3).getString(0) == "gif" && !h(3).isNullAt(5) &&
      h(3).getLong(5) >= 3 && h(3).getLong(5) <= 4, s"truncated: ${h(3)}")
  }

  test("media_header fuzz: corrupt RIFF chunk sizes never hang or throw") {
    import spark.implicits._
    def riff(chunks: Array[Byte]*): Array[Byte] =
      "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
        chunks.flatten.toArray
    def chunk(id: String, szLe: Array[Byte], body: Array[Byte]): Array[Byte] =
      id.getBytes ++ szLe ++ body
    // the hang case: declared size 0xFFFFFFF8 wraps to -8 as Int, making
    // the naive advance exactly 0 — must terminate and parse as unknown
    val hang = riff(chunk("JUNK",
      Array(0xf8, 0xff, 0xff, 0xff).map(_.toByte), Array.fill(8)(0.toByte)))
    // the negative-offset case: size 0x80000010 drives p negative as Int
    val neg = riff(chunk("JUNK",
      Array(0x10, 0x00, 0x00, 0x80).map(_.toByte), Array.fill(8)(0.toByte)))
    // a size that overruns the payload but stays positive as Int
    val overrun = riff(chunk("JUNK",
      Array(0x00, 0x00, 0x00, 0x7f).map(_.toByte), Array.fill(8)(0.toByte)))
    val expr = graft.plans.MediaHeaderExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(Array.empty[Byte]))
    for (bad <- Seq(hang, neg, overrun)) {
      val h = expr.compute(bad)
      assert(h.getUTF8String(0).toString == "unknown", s"corrupt RIFF must be unknown")
    }
    // through the DataFrame path too (codegen), with a wall-clock bound
    val t0 = System.nanoTime()
    val rows = Seq((1L, hang), (2L, neg), (3L, overrun))
      .toDF("media_id", "payload")
      .select(graft.plans.MediaHeaderExpr.media_header($"payload").as("h"))
      .collect()
    assert(rows.forall(_.getStruct(0).getString(0) == "unknown"))
    assert((System.nanoTime() - t0) < 30e9, "corrupt RIFF walk must terminate fast")
    // a truncated final data chunk (declared size past the payload end)
    // still yields its frame count — the walk stops, the parse stands
    val truncated = riff(
      chunk("fmt ", Array[Byte](16, 0, 0, 0),
        Array[Byte](1, 0, 2, 0) ++ Array[Byte](0x40, 0x1f, 0, 0) ++
          Array[Byte](0, 0, 0, 0) ++ Array[Byte](4, 0) ++ Array[Byte](16, 0)),
      chunk("data", Array[Byte](0, 4, 0, 0), Array.fill(16)(0.toByte)))
    val t = expr.compute(truncated)
    assert(t.getUTF8String(0).toString == "wav" && t.getLong(5) == 1024 / 4, s"$t")
    // random fuzz: seeded junk, raw and wrapped in a RIFF/WAVE shell,
    // must all parse (as anything) without hanging or throwing
    val rng = new scala.util.Random(42)
    (0 until 2000).foreach { i =>
      val body = Array.fill(rng.nextInt(96))(rng.nextInt(256).toByte)
      expr.compute(body)
      expr.compute(riff(body))
    }
  }

  test("PCM-true perceptual near-dup: volume twin and re-encoded header pair; byte histogram can't") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.wavPcmPayload(7L, 1, headerVariant = false)),
      (2L, Multimodal.wavPcmPayload(7L, 2, headerVariant = false)),  // volume x2
      (3L, Multimodal.wavPcmPayload(7L, 1, headerVariant = true)),   // re-encoded container
      (4L, Multimodal.wavPcmPayload(8L, 1, headerVariant = false)))  // different content
      .toDF("media_id", "payload")
    val pairs = Multimodal.pcmPerceptualCandidates(media,
        bands = 8, maxBucketSize = 64, thrPermille = 10)
      .select($"id1", $"id2", $"l1".cast("long").as("l1"))
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // volume-scaled twin: exactly invariant (cross-scaled L1 = 0)
    assert(pairs.get((1L, 2L)).contains(0L), s"volume twin must pair at 0: $pairs")
    // re-encoded header variant around the same PCM: identical profile
    assert(pairs.get((1L, 3L)).contains(0L) && pairs.get((2L, 3L)).contains(0L),
      s"header variant must pair: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      s"different PCM content must not pair: $pairs")
    // the byte-histogram tier misses the volume twin (different bytes
    // everywhere) — the contrast that motivates the PCM tier
    val metaMedia = media.withColumn("meta", org.apache.spark.sql.functions.struct(
      org.apache.spark.sql.functions.lit("audio/wav").as("mime"),
      org.apache.spark.sql.functions.length($"payload").cast("long").as("n_bytes"),
      org.apache.spark.sql.functions.lit(null).cast("int").as("width"),
      org.apache.spark.sql.functions.lit(null).cast("int").as("height")))
    val bytePairs = Multimodal.headerBlockedPerceptualCandidates(metaMedia,
        dim = 8, maxBucketSize = 64, thrPermille = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!bytePairs.contains((1L, 2L)),
      s"byte histogram must NOT see the volume twin at thr 10: $bytePairs")
    // non-WAV payloads yield null energy and are excluded, not errors
    val junk = Seq((9L, Array[Byte](1, 2, 3, 4))).toDF("media_id", "payload")
    assert(Multimodal.pcmPerceptualCandidates(junk).count() == 0)
  }

  test("PCM near-dup survives minutes-long audio: cross-scaled gate must not overflow Long") {
    import spark.implicits._
    // 2M samples at |amp| ~1000-2000 → total energy t ≈ 2-4e9, so
    // t1·t2 ≈ 1e19 > Long.MaxValue and e[b]·t ≈ 1e18-1e19: the gate's
    // cross-multiplied terms MUST ride DECIMAL(38,0) or the filter
    // comparison wraps negative and silently drops true twins —
    // exactly the corpora (real-length audio) the operator targets.
    // Half-loud/half-quiet signal: bands 0-3 sit clearly above the
    // mean and 4-7 below, so the sign bucket is stable under both the
    // volume scale and the 8-sample perturbation (a constant signal
    // would put every band exactly ON the mean — a degenerate bucket
    // boundary the perturbation flips).
    val ns = 2000000
    def longWav(scale: Int, tweak: Boolean): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(44 + ns * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes); buf.putInt(36 + ns * 2); buf.put("WAVE".getBytes)
      buf.put("fmt ".getBytes); buf.putInt(16)
      buf.putShort(1); buf.putShort(1); buf.putInt(8000); buf.putInt(16000)
      buf.putShort(2); buf.putShort(16)
      buf.put("data".getBytes); buf.putInt(ns * 2)
      var i = 0
      while (i < ns) {
        val amp = (if (i < ns / 2) 2000 else 1000) * scale
        val v = if (tweak && i < 8) amp + 1 else amp
        buf.putShort(v.toShort); i += 1
      }
      buf.array()
    }
    val media = Seq(
      (1L, longWav(1, tweak = false)),
      (2L, longWav(2, tweak = false)),   // volume x2: cross-scaled L1 = 0
      (3L, longWav(1, tweak = true)))    // 8 samples off by 1: tiny true L1
      .toDF("media_id", "payload")
    val pairs = Multimodal.pcmPerceptualCandidates(media,
        bands = 8, maxBucketSize = 64, thrPermille = 10)
      .select($"id1", $"id2", $"l1".cast("decimal(38,0)").as("l1"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> BigInt(r.getDecimal(2).toBigInteger)).toMap
    // t1 = 3e9, t2 = 6e9: t1·t2 ≈ 1.8e19 > Long.MaxValue — the Long
    // gate wraps here; only the decimal gate can admit these twins
    assert(pairs.get((1L, 2L)).contains(BigInt(0)),
      s"minutes-long volume twin must pair at exactly 0: $pairs")
    // the perturbed twin: expected l1 from exact BigInt replay —
    // e3[0] = e1[0]+8, t3 = t1+8, so band 0 contributes 8·(t1−e1[0])
    // and each other band 8·e1[b]; total 16·(t1−e1[0])
    val e10 = BigInt(ns / 8) * 2000
    val t1 = BigInt(4) * (BigInt(ns / 8) * 2000) + BigInt(4) * (BigInt(ns / 8) * 1000)
    val expected = (t1 - e10) * 16
    assert(pairs.get((1L, 3L)).contains(expected),
      s"perturbed twin must carry the exact decimal L1 $expected: $pairs")
  }

  test("pcmPerceptualCandidatesAuto: bands ride the corpus size; twins survive any width") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.wavPcmPayload(7L, 1, headerVariant = false)),
      (2L, Multimodal.wavPcmPayload(7L, 2, headerVariant = false)),
      (3L, Multimodal.wavPcmPayload(7L, 1, headerVariant = true)),
      (4L, Multimodal.wavPcmPayload(8L, 1, headerVariant = false)))
      .toDF("media_id", "payload")
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select($"id1", $"id2", $"l1".cast("long").as("l1"))
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // small corpus: the floor keeps the exact q196 default (bands = 8)
    val auto = pairs(Multimodal.pcmPerceptualCandidatesAuto(media))
    val fixed = pairs(Multimodal.pcmPerceptualCandidates(media, bands = 8))
    assert(auto == fixed, s"small-corpus auto must equal the bands=8 default: $auto vs $fixed")
    // a (simulated) million-payload corpus widens the signature space —
    // ceil-log2(1e6/16) = 16 bands — and the true twins still pair,
    // because identical PCM gives the identical profile at any width
    val wide = pairs(Multimodal.pcmPerceptualCandidatesAuto(media,
      knownCount = Some(1000000L)))
    assert(wide.get((1L, 2L)).contains(0L) && wide.get((1L, 3L)).contains(0L),
      s"twins must survive the widened space: $wide")
    assert(graft.operators.Similarity.autoBits(1000000L, 16, 63) == 16)
  }

  test("PNG pixel-true near-dup: re-encoded and resized twins pair at 0; byte histogram misses both") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.pngPayload(7L, 1, variant = false)),
      (2L, Multimodal.pngPayload(7L, 1, variant = true)),  // re-encoded: RGBA, cycled filters, level 9, split IDAT
      (3L, Multimodal.pngPayload(7L, 2, variant = false)), // resized: 32x32 NN upscale
      (4L, Multimodal.pngPayload(8L, 1, variant = false))) // different image
      .toDF("media_id", "payload")
    val pairs = Multimodal.pngPerceptualCandidates(media, grid = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs == Map((1L, 2L) -> 0L, (1L, 3L) -> 0L, (2L, 3L) -> 0L),
      s"the twin triangle must pair at exactly 0 and nothing else: $pairs")
    // the byte-histogram tier sees none of it: the re-encode changed
    // every compressed byte, the resize changed the blocking dims
    val metaMedia = media.withColumn("meta", org.apache.spark.sql.functions.struct(
      org.apache.spark.sql.functions.lit("image/png").as("mime"),
      org.apache.spark.sql.functions.length($"payload").cast("long").as("n_bytes"),
      org.apache.spark.sql.functions.lit(null).cast("int").as("width"),
      org.apache.spark.sql.functions.lit(null).cast("int").as("height")))
    val hist = Multimodal.headerBlockedPerceptualCandidates(metaMedia)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(!hist.contains((1L, 2L)) && !hist.contains((1L, 3L)),
      s"histogram tier must miss the content twins: $hist")
  }

  test("PNG block means: kernel decode equals the pixel-formula replay (all five filters)") {
    import spark.implicits._
    // variant=true exercises Sub/Up/Average/Paeth + alpha + two IDAT
    // chunks; scale 2 exercises the resolution normalization
    def expected(id: Long, grid: Int): Seq[Long] = {
      def lum(x: Int, y: Int): Long = {
        val v = ((id * 31 + x * (7 + id % 11) + y * (13 + id % 17)) % 256).toInt
        (77 * v + 150 * ((v * 3) % 256) + 29 * ((v * 5) % 256)) >> 8
      }
      (0 until grid * grid).map { b =>
        val bx = b % grid; val by = b / grid
        val px = for {
          y <- by * (16 / grid) until (by + 1) * (16 / grid)
          x <- bx * (16 / grid) until (bx + 1) * (16 / grid)
        } yield lum(x, y)
        px.sum * 1000L / px.size
      }
    }
    val media = Seq(
      (1L, Multimodal.pngPayload(11L, 1, variant = true)),
      (2L, Multimodal.pngPayload(11L, 2, variant = false)),
      (3L, Multimodal.pngPayload(12L, 1, variant = false)))
      .toDF("media_id", "payload")
    val got = media.select($"media_id",
        graft.plans.PngBlockMeanExpr.png_block_means($"payload", 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == expected(11L, 4), s"variant decode: ${got(1L)}")
    assert(got(2L) == expected(11L, 4), "NN-upscaled means must be exactly the base means")
    assert(got(3L) == expected(12L, 4))
  }

  test("JPEG pixel-true near-dup: re-encoded and resized twins pair at 0; byte histogram misses both") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.jpegPayload(7L, 1, variant = false)),
      (2L, Multimodal.jpegPayload(7L, 1, variant = true)),  // re-encoded: YCbCr, other tables, q0=4, DRI
      (3L, Multimodal.jpegPayload(7L, 2, variant = false)), // resized: 64x64 NN upscale
      (4L, Multimodal.jpegPayload(8L, 1, variant = false))) // different image
      .toDF("media_id", "payload")
    // not one shared compressed byte between base and variant
    val base = Multimodal.jpegPayload(7L, 1, variant = false)
    val reenc = Multimodal.jpegPayload(7L, 1, variant = true)
    assert(base.length != reenc.length || !base.sameElements(reenc))
    val pairs = Multimodal.jpegPerceptualCandidates(media, grid = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs == Map((1L, 2L) -> 0L, (1L, 3L) -> 0L, (2L, 3L) -> 0L),
      s"the twin triangle must pair at exactly 0 and nothing else: $pairs")
    val metaMedia = media.withColumn("meta", org.apache.spark.sql.functions.struct(
      org.apache.spark.sql.functions.lit("image/jpeg").as("mime"),
      org.apache.spark.sql.functions.length($"payload").cast("long").as("n_bytes"),
      org.apache.spark.sql.functions.lit(null).cast("int").as("width"),
      org.apache.spark.sql.functions.lit(null).cast("int").as("height")))
    val hist = Multimodal.headerBlockedPerceptualCandidates(metaMedia)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    // the load-bearing miss is the RE-ENCODE (zero shared compressed
    // bytes — a byte histogram can never see it); whether the NN
    // resize's byte distribution happens to fall inside the histogram
    // gate is incidental to the fixture formula, not asserted
    assert(!hist.contains((1L, 2L)),
      s"histogram tier must miss the re-encoded twin: $hist")
  }

  test("JPEG block means: kernel decode equals the DC-construction replay; header tier sees the fixture") {
    import spark.implicits._
    def expected(id: Long, grid: Int): Seq[Long] = {
      def dc(bx: Int, by: Int): Long =
        (id * 31 + bx * (7 + id % 31) + by * (13 + id % 29) + bx * by * (11 + id % 23)) % 201 - 100
      (0 until grid * grid).map { b =>
        (128 + dc(b % grid, b / grid)) * 1000L
      }
    }
    val media = Seq(
      (1L, Multimodal.jpegPayload(11L, 1, variant = true)),
      (2L, Multimodal.jpegPayload(11L, 2, variant = false)),
      (3L, Multimodal.jpegPayload(12L, 1, variant = false)))
      .toDF("media_id", "payload")
    val got = media.select($"media_id",
        graft.plans.JpegBlockMeanExpr.jpeg_block_means($"payload", 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == expected(11L, 4), s"variant decode: ${got(1L)}")
    assert(got(2L) == expected(11L, 4), "NN-upscaled means must be exactly the base means")
    assert(got(3L) == expected(12L, 4))
    // the media_header walk agrees on the container shape
    val hdr = media.select($"media_id",
        graft.plans.MediaHeaderExpr.media_header($"payload").as("m"))
      .select($"media_id", $"m.fmt", $"m.width", $"m.height")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(hdr(1L) == (("jpeg", 32L, 32L)) && hdr(2L) == (("jpeg", 64L, 64L)))
  }

  test("JPEG progressive decode: SOF2 re-encode and resize pair the baseline at exactly 0") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.jpegPayload(7L, 1, variant = false)),  // baseline
      (2L, Multimodal.jpegProgressivePayload(7L, 1)),        // progressive re-encode
      (3L, Multimodal.jpegProgressivePayload(7L, 2)),        // progressive NN resize
      (4L, Multimodal.jpegProgressivePayload(8L, 1)))        // different image
      .toDF("media_id", "payload")
    // zero shared entropy bytes, different frame type
    val base = Multimodal.jpegPayload(7L, 1, variant = false)
    val prog = Multimodal.jpegProgressivePayload(7L, 1)
    assert(base.length != prog.length || !base.sameElements(prog))
    val pairs = Multimodal.jpegPerceptualCandidates(media, grid = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs == Map((1L, 2L) -> 0L, (1L, 3L) -> 0L, (2L, 3L) -> 0L),
      s"the baseline/progressive triangle must pair at exactly 0: $pairs")
    // the header tier agrees on the container shape for SOF2 frames
    val hdr = media.select($"media_id",
        graft.plans.MediaHeaderExpr.media_header($"payload").as("m"))
      .select($"media_id", $"m.fmt", $"m.width", $"m.height")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(hdr(2L) == (("jpeg", 32L, 32L)) && hdr(3L) == (("jpeg", 64L, 64L)),
      s"header walk must still parse the SOF2 container: $hdr")
  }

  test("JPEG progressive decode: AC refinement correction bits and new-coefficient insertion are exact") {
    import spark.implicits._
    // handcrafted single-block 8×8 SOF2 grayscale: DC = 0; AC zigzag
    // k=1 gets final value 3 (first scan at Al=1 carries 1, the
    // refinement's CORRECTION bit completes 3) and k=3 gets final
    // value 1 (invisible at Al=1 — it is INSERTED by the refinement
    // scan after skipping one zero-history position). q = 16
    // everywhere. This pins exactly the two refinement paths the
    // DC-only q215 fixture never exercises.
    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b8(v >> 8); b8(v) }
    b8(0xff); b8(0xd8)
    b8(0xff); b8(0xdb); b16(67); b8(0x00); (0 until 64).foreach(_ => b8(16))
    b8(0xff); b8(0xc2); b16(11); b8(8); b16(8); b16(8); b8(1); b8(1); b8(0x11); b8(0)
    // DC table: 12 symbols at length 4
    b8(0xff); b8(0xc4); b16(31); b8(0x00)
    (1 to 16).foreach(l => b8(if (l == 4) 12 else 0)); (0 until 12).foreach(b8)
    // AC table: symbols 0x00 (EOB), 0x01 (run0 size1), 0x11 (run1
    // size1) at length 3 — canonical codes 0, 1, 2
    b8(0xff); b8(0xc4); b16(22); b8(0x10)
    (1 to 16).foreach(l => b8(if (l == 3) 3 else 0)); b8(0x00); b8(0x01); b8(0x11)
    def sos(ss: Int, se: Int, ah: Int, al: Int): Unit = {
      b8(0xff); b8(0xda); b16(8); b8(1); b8(1); b8(0x00); b8(ss); b8(se); b8((ah << 4) | al)
    }
    sos(0, 0, 0, 0) // DC first: cat 0 -> "0000" + pad 1111 = 0x0f
    b8(0x0f)
    sos(1, 63, 0, 1) // AC first at Al=1: 0x01 "001" + v=1 "1" + EOB "000" + pad "1" = 0x31
    b8(0x31)
    // AC refinement Ah=1->Al=0: 0x11 "010" + sign "1" (+1) +
    // correction "1" for k=1 + EOB "000" = 0101 1000 = 0x58
    sos(1, 63, 1, 0)
    b8(0x58)
    b8(0xff); b8(0xd9)
    val payload = out.toByteArray
    val got = Seq((1L, payload)).toDF("media_id", "payload")
      .select(graft.plans.JpegBlockMeanExpr.jpeg_block_means($"payload", 4).as("f"))
      .as[Seq[Long]].collect().head
    assert(got != null, "the progressive AC payload must decode")
    // float replay with the FINAL coefficients: F(u=1,v=0) = 3·16,
    // F(u=0,v=2) = 1·16 (zigzag 3 -> natural 16)
    def k(u: Int, x: Int): Double =
      (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) *
        math.cos((2 * x + 1) * u * math.Pi / 16.0) / 2.0
    val want = (0 until 16).map { b =>
      val gx = b % 4; val gy = b / 4
      val px = for { y <- gy * 2 until gy * 2 + 2; x <- gx * 2 until gx * 2 + 2 }
        yield math.max(0.0, math.min(255.0,
          128.0 + k(1, x) * k(0, y) * 48.0 + k(0, x) * k(2, y) * 16.0))
      (px.sum / 4 * 1000).toLong
    }
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) <= 2000, s"block $i: kernel $g vs float $w")
    }
    assert(got != Seq.fill(16)(got.head), "AC energy must vary across blocks")
  }

  test("JPEG progressive decode: corrupt scan progressions return null, never hang") {
    import spark.implicits._
    val good = Multimodal.jpegProgressivePayload(9L, 1)
    def patched(f: Array[Byte] => Unit): Array[Byte] = {
      val c = good.clone(); f(c); c
    }
    def sosPositions(b: Array[Byte]): Seq[Int] =
      b.indices.filter(i => (b(i) & 0xff) == 0xff && i + 1 < b.length &&
        (b(i + 1) & 0xff) == 0xda)
    val allSos = sosPositions(good)
    assert(allSos.size == 5, s"fixture must carry five scans: $allSos")
    // SOS layout: FF DA len2 ns comp tdta Ss Se AhAl -> Ss at +7
    // AC scan before any DC scan: first SOS header rewritten to Ss=1
    val acFirst = patched(c => { c(allSos.head + 7) = 1; c(allSos.head + 8) = 5 })
    // refinement that skips a bit level: DC refinement Ah patched to 3
    // with Al 0 (a refinement must have Ah = Al + 1)
    val skipLevel = patched(c => c(allSos(1) + 9) = 0x30.toByte)
    // truncated mid-scan: cut inside the first scan's entropy data
    val truncated = good.take(allSos(1) - 4)
    // interleaved AC scan header (ns forced where Ss>0 requires 1):
    // component count byte of an AC scan set to 2 (overruns into the
    // band bytes -> corrupt header either way)
    val badAc = patched(c => c(allSos(2) + 4) = 2)
    // HEADER-consistent but PROGRESSION-inconsistent (each header
    // passes the Ah = Al + 1 law in isolation): the DC refinement
    // claims Ah=2/Al=1 after a first pass that delivered Al=1 — the
    // refinement must continue from EXACTLY Al + 1 = 2? no: state is
    // 1, so Ah must be 1; Ah=2 skips nothing delivered
    val wrongLevel = patched(c => c(allSos(1) + 9) = 0x21.toByte)
    // duplicate DC FIRST pass: the refinement scan rewritten as a
    // second Ah=0 first pass (Al stays 0 — valid header, corrupt
    // progression)
    val dupFirst = patched(c => c(allSos(1) + 9) = 0x00.toByte)
    // re-delivered AC band: the third AC scan's band rewritten to
    // 1..5 at Al=0 (valid header; those coefficients already hold
    // Al=0 from the refinement — a second first-pass is corrupt)
    val reBand = patched { c =>
      c(allSos(4) + 7) = 1; c(allSos(4) + 8) = 5
    }
    val hostile = Seq(
      (1L, acFirst), (2L, skipLevel), (3L, truncated), (4L, badAc),
      (5L, wrongLevel), (6L, dupFirst), (7L, reBand))
      .toDF("media_id", "payload")
    val t0 = System.nanoTime()
    val feats = hostile.select(
        graft.plans.JpegBlockMeanExpr.jpeg_block_means($"payload", 4).as("f"))
      .filter($"f".isNotNull).count()
    assert(feats == 0L, "every corrupt progression must decode to null")
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
  }

  test("image autoGrid: floor at 4, widens with population, caps at 7; twins survive the widened space") {
    import spark.implicits._
    import graft.operators.Multimodal
    // derivation: bits = ceil-log2(ceil(n/target)), grid = smallest g
    // with g^2 >= bits, floored at the historical default 4
    assert(Multimodal.autoGrid(100L, 16) == 4)
    assert(Multimodal.autoGrid(1000000L, 16) == 4)     // 16 bits: exactly grid 4
    assert(Multimodal.autoGrid(10000000L, 16) == 5)    // 20 bits -> 25-bit keys
    assert(Multimodal.autoGrid(1L << 40, 16) == 6)     // 36 bits
    assert(Multimodal.autoGrid(Long.MaxValue / 4, 1) == 7) // cap
    // small corpus: auto == the fixed default, bit-identical
    val png = Seq(
      (1L, Multimodal.pngPayload(7L, 1, variant = false)),
      (2L, Multimodal.pngPayload(7L, 1, variant = true)),
      (3L, Multimodal.pngPayload(8L, 1, variant = false)))
      .toDF("media_id", "payload")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.as[(Long, Long, Long)].collect().toSet
    assert(pairs(Multimodal.pngPerceptualCandidatesAuto(png)) ==
      pairs(Multimodal.pngPerceptualCandidates(png, grid = 4)))
    // declared 10M population: grid widens to 5 and the SAME-PIXEL
    // re-encode twin still pairs at exactly 0 (identical pixels give
    // the identical profile at any grid)
    val wide = pairs(Multimodal.pngPerceptualCandidatesAuto(png,
      knownCount = Some(10000000L)))
    assert(wide == Set((1L, 2L, 0L)), s"$wide")
    val jpg = Seq(
      (1L, Multimodal.jpegPayload(7L, 1, variant = false)),
      (2L, Multimodal.jpegPayload(7L, 1, variant = true)),
      (3L, Multimodal.jpegPayload(8L, 1, variant = false)))
      .toDF("media_id", "payload")
    val wideJ = pairs(Multimodal.jpegPerceptualCandidatesAuto(jpg,
      knownCount = Some(10000000L)))
    assert(wideJ == Set((1L, 2L, 0L)), s"$wideJ")
  }

  test("cross-format image near-dup: a grayscale JPEG pairs its PNG twin at exactly 0") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Seq(
      (1L, Multimodal.jpegPayload(7L, 1, variant = false)),   // gray-pattern JPEG
      (2L, Multimodal.pngGrayPayload(7L, 1)),                 // same pixels as PNG
      (3L, Multimodal.jpegPayload(7L, 1, variant = true)),    // re-encoded JPEG twin
      (4L, Multimodal.pngGrayPayload(8L, 1)),                 // different image
      (5L, Array.fill(64)(0x42.toByte)))                      // neither format
      .toDF("media_id", "payload")
    val pairs = Multimodal.imagePerceptualCandidates(media, grid = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // the cross-format triangle: JPEG, its PNG twin, and a re-encoded
    // JPEG all share one profile; the undecodable payload falls out
    assert(pairs == Map((1L, 2L) -> 0L, (1L, 3L) -> 0L, (2L, 3L) -> 0L),
      s"cross-format triangle must pair at exactly 0: $pairs")
    // the single-format tiers CANNOT see the cross-format pair: the
    // png kernel nulls the jpeg and vice versa
    assert(!Multimodal.pngPerceptualCandidates(media, grid = 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).contains((1L, 2L)))
    assert(!Multimodal.jpegPerceptualCandidates(media, grid = 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).contains((1L, 2L)))
  }

  test("imageCrossPairs: cross-format twins pair catalog×delta, a re-delivered id never pairs itself") {
    import spark.implicits._
    def sigs(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.imageSignatures(rows.toDF("media_id", "payload"), 4)
    def cross(cat: Seq[(Long, Array[Byte])], dlt: Seq[(Long, Array[Byte])]) =
      Multimodal.imageCrossPairs(sigs(cat), sigs(dlt))
        .as[(Long, Long, Long)].collect().toSet
    // catalog: a JPEG and an unrelated PNG; delta: the JPEG's PNG
    // re-encode (the cross-format twin) and an unrelated JPEG
    val cat = Seq((1L, Multimodal.jpegPayload(7L, 1, variant = false)),
      (2L, Multimodal.pngGrayPayload(8L, 1)))
    val dlt = Seq((3L, Multimodal.pngGrayPayload(7L, 1)),
      (4L, Multimodal.jpegPayload(9L, 1, variant = false)))
    assert(cross(cat, dlt) == Set((1L, 3L, 0L)),
      "the PNG twin must pair its catalog JPEG across formats")
    // a re-encoded JPEG twin against the grown catalog pairs both forms
    val twin = Seq((5L, Multimodal.jpegPayload(7L, 1, variant = true)))
    assert(cross(cat ++ dlt, twin) == Set((1L, 5L, 0L), (3L, 5L, 0L)))
    // an id present on both sides never emits the degenerate self-pair
    assert(cross(cat, cat.take(1) ++ dlt.take(1)) == Set((1L, 3L, 0L)))
  }

  test("BT.601 PNG luma: a COLOR png pairs its JPEG twin at exactly 0; the legacy model cannot") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Seq(
      (1L, Multimodal.jpegPayload(7L, 1, variant = false)),   // grayscale JPEG
      (2L, Multimodal.pngColorBt601Payload(7L, 1)),           // COLOR png, same BT.601 luma plane
      (3L, Multimodal.pngColorBt601Payload(7L, 2)),           // its NN-resized color twin
      (4L, Multimodal.pngColorBt601Payload(8L, 1)))           // different image
      .toDF("media_id", "payload")
    val exact = Multimodal.imagePerceptualCandidates(media, grid = 4, bt601 = true)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(exact == Map((1L, 2L) -> 0L, (1L, 3L) -> 0L, (2L, 3L) -> 0L),
      s"the color cross-format triangle must pair at exactly 0 under bt601: $exact")
    // the legacy reduction sees DIFFERENT luma (the jitter is the
    // fixture's point): no exact-0 pair with the JPEG survives
    val legacy = Multimodal.imagePerceptualCandidates(media, grid = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(!legacy.get((1L, 2L)).contains(0L),
      s"legacy luma must NOT be exact on the color twin: $legacy")
    // grayscale payloads are identical under both modes
    val gray = Seq((9L, Multimodal.pngGrayPayload(7L, 1))).toDF("media_id", "payload")
    val gLegacy = gray.select(
        graft.plans.PngBlockMeanExpr.png_block_means($"payload", 4).as("f"))
      .as[Seq[Long]].collect().head
    val gBt = gray.select(
        graft.plans.PngBlockMeanExpr.png_block_means($"payload", 4, bt601 = true).as("f"))
      .as[Seq[Long]].collect().head
    assert(gLegacy == gBt, "grayscale must be luma-model-invariant")
  }

  test("autoGrid sizing reads parquet footers, not payloads: zero jobs on a stats-bearing table") {
    import spark.implicits._
    import graft.operators.Multimodal
    val dir = tmpDir("stats_media")
    (0L until 37L).map(i => (i, Multimodal.pngGrayPayload(i, 1)))
      .toDF("media_id", "payload")
      .write.mode("overwrite").parquet(dir)
    val media = spark.read.parquet(dir)
    // the exact count comes from footers, with NO Spark job: a count
    // pass over a binary-payload corpus at 100 TB would read terabytes
    // to learn one number the file metadata already carries
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = org.apache.spark.sql.GraftTableStats.exactRowCount(media)
      assert(n.contains(37L), s"footer count: $n")
      // a row-count-preserving projection keeps the metadata path
      val nProj = org.apache.spark.sql.GraftTableStats.exactRowCount(
        media.select("payload"))
      assert(nProj.contains(37L), s"projected footer count: $nProj")
      // a filter is NOT row-count-preserving: must decline, not guess
      val nFilt = org.apache.spark.sql.GraftTableStats.exactRowCount(
        media.filter($"media_id" > 5))
      assert(nFilt.isEmpty, "a filtered frame must fall back to counting")
      // job-start events are synchronous enough for a zero check after
      // a short settle (the listener bus is private API)
      Thread.sleep(300)
      assert(jobs.get() == 0,
        s"metadata row counts must not launch jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the auto pipeline derives the same grid through the stats path
    // as through a declared count
    val viaStats = Multimodal.pngPerceptualCandidatesAuto(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaKnown = Multimodal.pngPerceptualCandidatesAuto(media,
        knownCount = Some(37L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaStats == viaKnown)
  }

  test("mediaCard: per-format census with rollup total; header-only vs pixel-decodable split; unknown bucket") {
    import spark.implicits._
    import graft.operators.Multimodal
    // structured ids 3 (png header, garbage body) and 2 (wav) via the
    // public synthesizer; direct decodable payloads + junk alongside
    val media = Seq(
      (10L, Multimodal.jpegPayload(7L, 1, variant = false)), // jpeg, decodable
      (20L, Multimodal.pngGrayPayload(8L, 1)),               // png, decodable
      (50L, Array.fill(32)(0x51.toByte)))                    // unknown
      .toDF("media_id", "payload")
      .unionByName(Multimodal.synthesizeStructured(
        Seq(3L, 2L).toDF("doc_id"), "doc_id")
        .select($"media_id", $"payload"))
    val card = Multimodal.mediaCard(media).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // (n_media, px_decodable, with_dims) per scope
    assert(card("jpeg") == ((1L, 1L, 1L)), s"${card("jpeg")}")
    assert(card("png") == ((2L, 1L, 2L)),
      "the header-only PNG counts toward n_media/dims but NOT px_decodable")
    assert(card("wav") == ((1L, 0L, 0L)))
    assert(card("unknown") == ((1L, 0L, 0L)))
    assert(card("__all__") == ((5L, 2L, 3L)))
    val wav = Multimodal.mediaCard(media).filter($"scope" === "wav")
      .select("audio_frames").as[Long].head()
    assert(wav > 0L, "wav frame counts must aggregate")
  }

  test("JPEG block means: single-component scans are non-interleaved (sampling factors ignored)") {
    import spark.implicits._
    // T.81 A.2: a one-component scan's MCU is ONE data unit in raster
    // order — declared sampling factors are relative weights that mean
    // nothing with a single component. A grayscale payload with its
    // SOF sampling byte patched 0x11 → 0x22 carries the IDENTICAL
    // entropy stream and must decode to the identical means (an
    // interleaved 2×2-tile walk would permute the blocks).
    val base = Multimodal.jpegPayload(11L, 1, variant = false)
    val patched = base.clone()
    val sofAt = patched.indices.find(i =>
      (patched(i) & 0xff) == 0xff && i + 1 < patched.length &&
        (patched(i + 1) & 0xff) == 0xc0).get
    assert((patched(sofAt + 11) & 0xff) == 0x11, "sampling byte located")
    patched(sofAt + 11) = 0x22.toByte
    val got = Seq((1L, base), (2L, patched)).toDF("media_id", "payload")
      .select($"media_id",
        graft.plans.JpegBlockMeanExpr.jpeg_block_means($"payload", 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(2L) != null && got(2L) == got(1L),
      s"2x2-sampled grayscale must decode as non-interleaved: ${got(2L)} vs ${got(1L)}")
  }

  test("JPEG block means: the general AC path matches a float IDCT replay within rounding") {
    import spark.implicits._
    // handcrafted single-block 8×8 grayscale JPEG with DC = 0 and ONE
    // AC coefficient (zigzag k=1 → natural (0,1), quantized value +1,
    // q = 16): exercises the fixed-point IDCT the DC-only fixture
    // deliberately bypasses. AC table: EOB and 0x01 at length 3.
    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b8(v >> 8); b8(v) }
    b8(0xff); b8(0xd8)
    b8(0xff); b8(0xdb); b16(67); b8(0x00); (0 until 64).foreach(_ => b8(16))
    b8(0xff); b8(0xc0); b16(11); b8(8); b16(8); b16(8); b8(1); b8(1); b8(0x11); b8(0)
    // DC table: 12 symbols at length 4
    b8(0xff); b8(0xc4); b16(31); b8(0x00)
    (1 to 16).foreach(l => b8(if (l == 4) 12 else 0)); (0 until 12).foreach(b8)
    // AC table: symbols 0x00 (EOB) and 0x01 at length 3
    b8(0xff); b8(0xc4); b16(21); b8(0x10)
    (1 to 16).foreach(l => b8(if (l == 3) 2 else 0)); b8(0x00); b8(0x01)
    b8(0xff); b8(0xda); b16(8); b8(1); b8(1); b8(0x00); b8(0); b8(63); b8(0)
    // bits: DC cat0 "0000" | AC rs=0x01 "001" + v=1 "1" | EOB "000"
    // = 0000 0011 000 + pad 11111 -> 0x03, 0x1f
    b8(0x03); b8(0x1f)
    b8(0xff); b8(0xd9)
    val payload = out.toByteArray
    val got = Seq((1L, payload)).toDF("media_id", "payload")
      .select(graft.plans.JpegBlockMeanExpr.jpeg_block_means($"payload", 4).as("f"))
      .as[Seq[Long]].collect().head
    // float replay: pixel(x,y) = 128 + k(1,x)·F(0,1) with F(0,1) = 16,
    // k(u,x) = C(u)cos((2x+1)uπ/16)/2; block means over 2×2 cells
    def k(u: Int, x: Int): Double =
      (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) *
        math.cos((2 * x + 1) * u * math.Pi / 16.0) / 2.0
    // the 2D term is k(1,x)·k(0,y)·F; matching the kernel's two-pass
    // fixed-point rounding exactly is not the point — stay within ±2
    // gray levels per block mean
    val want2 = (0 until 16).map { b =>
      val gx = b % 4; val gy = b / 4
      val px = for { y <- gy * 2 until gy * 2 + 2; x <- gx * 2 until gx * 2 + 2 }
        yield math.max(0.0, math.min(255.0, 128.0 + k(1, x) * k(0, y) * 16.0))
      (px.sum / 4 * 1000).toLong
    }
    got.zip(want2).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) <= 2000, s"block $i: kernel $g vs float $w")
    }
    assert(got != Seq.fill(16)(got.head), "AC energy must vary across blocks")
  }

  test("JPEG block means: corrupt and hostile payloads return null fast, never hang") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val junk = Array.fill(512)(rnd.nextInt(256).toByte)
    val good = Multimodal.jpegPayload(5L, 1, variant = false)
    def soi(rest: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, 0xd8.toByte) ++ rest
    // SOF0 marker byte switched to SOF2 on a BASELINE stream: the
    // progressive path rejects its sequential scan header (Ss=0 with
    // Se=63 is not a progressive DC band) — still null, new reason
    val progressive = good.clone()
    val sofAt = progressive.indices.find(i =>
      (progressive(i) & 0xff) == 0xff && i + 1 < progressive.length &&
        (progressive(i + 1) & 0xff) == 0xc0).get
    progressive(sofAt + 1) = 0xc2.toByte
    // zip-bomb SOF: 16384×16384 declared
    val bomb = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = bomb.write(v & 0xff)
    def b16(v: Int): Unit = { b8(v >> 8); b8(v) }
    b8(0xff); b8(0xd8)
    b8(0xff); b8(0xc0); b16(11); b8(8); b16(16384); b16(16384); b8(1); b8(1); b8(0x11); b8(0)
    bomb.write(junk, 0, junk.length)
    // truncated entropy stream: drop the last 6 bytes (EOI + data tail)
    val truncated = good.take(good.length - 6)
    // garbage entropy: good headers, junk after SOS
    val sosAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && i + 1 < good.length &&
        (good(i + 1) & 0xff) == 0xda).get
    val sosLen = ((good(sosAt + 2) & 0xff) << 8) | (good(sosAt + 3) & 0xff)
    val garbage = good.take(sosAt + 2 + sosLen) ++ Array.fill(64)(0x55.toByte)
    val hostile = Seq[(Long, Array[Byte])](
      (1L, junk),                      // not a JPEG
      (2L, good.take(20)),             // truncated mid-headers
      (3L, progressive),               // SOF2: unsupported, null
      (4L, soi(bomb.toByteArray.drop(2))), // 256M-pixel SOF: capped
      (5L, truncated),                 // entropy stream runs out
      (6L, garbage),                   // undecodable Huffman garbage
      (7L, soi(Array[Byte](0xff.toByte, 0xfe.toByte, 0xff.toByte, 0xff.toByte)) ++ junk), // COM length overrun
      (8L, Array.emptyByteArray))
      .toDF("media_id", "payload")
    val t0 = System.nanoTime()
    val feats = hostile.select(
        graft.plans.JpegBlockMeanExpr.jpeg_block_means($"payload", 4).as("f"))
      .filter($"f".isNotNull).count()
    assert(feats == 0L, "every hostile payload must decode to null")
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "corrupt payloads must fail fast")
    assert(Multimodal.jpegPerceptualCandidates(hostile).count() == 0)
  }

  test("PNG block means: corrupt and hostile payloads return null fast, never hang") {
    import spark.implicits._
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def ihdr(w: Int, h: Int, depth: Int, ct: Int, interlace: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Unit = {
        out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
      }
      out.write(sig, 0, 8); be32(13L); out.write("IHDR".getBytes, 0, 4)
      be32(w.toLong); be32(h.toLong)
      out.write(depth); out.write(ct); out.write(0); out.write(0); out.write(interlace)
      be32(0L) // wrong CRC — deliberately not verified
      out.toByteArray
    }
    val rnd = new scala.util.Random(42)
    val junk = Array.fill(512)(rnd.nextInt(256).toByte)
    val good = Multimodal.pngPayload(5L, 1, variant = false)
    val hostile = Seq[(Long, Array[Byte])](
      (1L, junk),                                     // not a PNG
      (2L, good.take(40)),                            // truncated mid-IHDR-ish
      (3L, ihdr(16384, 16384, 8, 6, 0) ++ junk),      // zip-bomb IHDR: 1 GiB raw, capped
      (4L, ihdr(16, 16, 8, 3, 0) ++ junk),            // palette type: unsupported
      (5L, ihdr(16, 16, 8, 2, 1) ++ junk),            // interlaced: unsupported
      (6L, ihdr(0, 16, 8, 2, 0) ++ junk),             // zero width
      // declared IDAT length 0xFFFFFFF8 — the WAV-walk hang shape
      (7L, ihdr(16, 16, 8, 2, 0) ++
        Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xf8.toByte) ++
        "IDAT".getBytes ++ junk),
      // valid walk, garbage zlib
      (8L, {
        val out = new java.io.ByteArrayOutputStream()
        out.write(ihdr(16, 16, 8, 2, 0), 0, ihdr(16, 16, 8, 2, 0).length)
        out.write(Array[Byte](0, 0, 0, 16), 0, 4); out.write("IDAT".getBytes, 0, 4)
        out.write(junk, 0, 16); out.write(Array[Byte](0, 0, 0, 0), 0, 4)
        out.toByteArray
      }),
      // bad filter byte: stored uncompressed-ish via real deflate of a 7
      (9L, {
        val rawBytes = Array.fill(16 * (1 + 48))(0.toByte)
        rawBytes(0) = 7 // filter type out of range
        val defl = new java.util.zip.Deflater()
        defl.setInput(rawBytes); defl.finish()
        val zout = new java.io.ByteArrayOutputStream()
        val zb = new Array[Byte](8192)
        while (!defl.finished()) zout.write(zb, 0, defl.deflate(zb))
        defl.end()
        val comp = zout.toByteArray
        val out = new java.io.ByteArrayOutputStream()
        val hd = ihdr(16, 16, 8, 2, 0)
        out.write(hd, 0, hd.length)
        def be32(v: Long): Unit = {
          out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
          out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
        }
        be32(comp.length.toLong); out.write("IDAT".getBytes, 0, 4)
        out.write(comp, 0, comp.length); be32(0L)
        out.toByteArray
      }))
      .toDF("media_id", "payload")
    val t0 = System.nanoTime()
    val feats = hostile.select(
        graft.plans.PngBlockMeanExpr.png_block_means($"payload", 4).as("f"))
      .filter($"f".isNotNull).count()
    assert(feats == 0L, "every hostile payload must decode to null")
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "corrupt payloads must fail fast")
    assert(Multimodal.pngPerceptualCandidates(hostile).count() == 0)
  }

  test("header-blocked perceptual near-dup: resized twins pair, cross-format twins never meet") {
    import spark.implicits._
    // two PNG "images" with identical byte distribution at different
    // sizes (the resized-twin shape: same aspect band 4:3, body bytes
    // the same pattern repeated 2x) plus the SAME body wrapped as a
    // WAV — content-identical but cross-format, so blocking must keep
    // it out of the candidate bucket.
    def png(w: Long, h: Long, bodyReps: Int): Array[Byte] = {
      val head = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
        0, 0, 0, 13, 'I', 'H', 'D', 'R').map(_.toByte) ++
        Array((w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
          (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
          8.toByte, 2.toByte, 0.toByte, 0.toByte, 0.toByte,
          0.toByte, 0.toByte, 0.toByte, 0.toByte)
      head ++ Array.fill(bodyReps)((0 until 256).map(_.toByte).toArray).flatten
    }
    val wavBody = {
      val data = Array.fill(16)((0 until 256).map(_.toByte).toArray).flatten
      "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ Array[Byte](16, 0, 0, 0) ++
        Array[Byte](1, 0, 2, 0) ++ Array[Byte](0x40, 0x1f, 0, 0) ++
        Array[Byte](0, 0, 0, 0) ++ Array[Byte](4, 0) ++ Array[Byte](16, 0) ++
        "data".getBytes ++ Array[Byte]((data.length & 255).toByte,
          ((data.length >> 8) & 255).toByte, 0, 0) ++ data
    }
    val media = Seq(
      (1L, png(32, 24, 16)), (2L, png(64, 48, 32)), (3L, wavBody),
      (4L, png(32, 32, 16))) // square aspect: different band, never pairs
      .toDF("media_id", "payload")
      .withColumn("meta", org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit("application/octet-stream").as("mime"),
        org.apache.spark.sql.functions.length($"payload").cast("long").as("n_bytes"),
        org.apache.spark.sql.functions.lit(null).cast("int").as("width"),
        org.apache.spark.sql.functions.lit(null).cast("int").as("height")))
    val pairs = Multimodal.headerBlockedPerceptualCandidates(
        media, dim = 8, maxBucketSize = 64, thrPermille = 150)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"resized twins must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"cross-format twin must be blocked: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"different aspect band must be blocked: $pairs")
  }

  test("KMV aggregator: distinct semantics, smallest-k retention, merge dedup") {
    val agg = graft.functions.KmvMinKAgg.kmvAgg(4)
    // duplicates collapse; only the 4 smallest survive; order sorted
    var buf = agg.zero
    Seq(50L, 10L, 50L, 30L, 20L, 40L, 10L, 5L).foreach(h => buf = agg.reduce(buf, h))
    assert(buf.toSeq == Seq(5L, 10L, 20L, 30L))
    // merge: overlapping sorted arrays dedup and keep the global 4 smallest
    val other = Array(1L, 10L, 25L, 60L)
    assert(agg.merge(buf, other).toSeq == Seq(1L, 5L, 10L, 20L))
    assert(agg.merge(agg.zero, other).toSeq == other.toSeq)
    assert(agg.merge(other, agg.zero).toSeq == other.toSeq)
  }

  test("KMV exact mode: below k the estimate IS the exact distinct count") {
    import spark.implicits._
    import graft.operators.CorpusOverlap
    val df = (0 until 40).map(i => ("A", s"doc ${i % 25}")).toDF("corpus", "k")
    val sk = CorpusOverlap.kmvSketches(df, "corpus", col("k"), k = 128)
      .select(CorpusOverlap.kmvEstimate(col("kmv"), 128)).as[Long].head()
    assert(sk == 25L, s"exact-mode estimate must equal distinct count: $sk")
    // and exact-mode overlap: intersection estimate equals the true
    // intersection because theta stays at the 2^60 sentinel
    val a = (0 until 30).map(i => ("A", s"shared $i"))
    val b = (0 until 30).map(i => ("B", s"shared ${i + 18}"))  // 12 shared
    val sk2 = CorpusOverlap.kmvSketches((a ++ b).toDF("corpus", "k"), "corpus", col("k"), k = 128)
    val ab = sk2.filter(col("corpus") === "A").select(col("kmv").as("akmv"))
      .crossJoin(sk2.filter(col("corpus") === "B").select(col("kmv").as("bkmv")))
    val got = CorpusOverlap.overlapColumns(ab, col("akmv"), col("bkmv"), 128)
      .select("est_inter", "est_union", "est_b_new").as[(Long, Long, Long)].head()
    assert(got == ((12L, 48L, 18L)), s"exact-mode set algebra: $got")
  }

  test("GIF kernel: cross-format triangle at 0, interlace-invariant, foreign formats null") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.pngGrayPayload(5L, 1)),
      (2L, Multimodal.gifGrayPayload(5L, 1, interlaced = false)),
      (3L, Multimodal.gifGrayPayload(5L, 1, interlaced = true)),
      (4L, Multimodal.jpegPayload(5L, 1, variant = false))
    ).toDF("media_id", "payload")
    val pairs = Multimodal.imagePerceptualCandidates(rows, grid = 4,
        maxBucketSize = 64, thrPermille = 10)
      .select("id1", "id2", "l1").as[(Long, Long, Long)].collect().toSet
    // all C(4,2) = 6 pairs at exactly L1 = 0: PNG pass-through, JPEG
    // DC-exact Y, GIF gray-ramp palette pass-through, and the
    // interlaced GIF's 4-pass row reorder all decode to the SAME pixels
    assert(pairs == (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b, 0L)).toSet,
      s"quadruple triangle must close at 0: $pairs")
    // content dispatch: each kernel nulls on the other formats
    val dispatch = rows.select(
      graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 4).isNull,
      graft.plans.PngBlockMeanExpr.png_block_means(col("payload"), 4).isNull)
      .as[(Boolean, Boolean)].collect()
    assert(dispatch(0) == ((true, false)) && dispatch(1) == ((false, true)) &&
      dispatch(3) == ((true, true)), s"dispatch: ${dispatch.toSeq}")
    // bt601 == legacy on gray palettes (both models pass r=g=b through)
    val models = rows.filter($"media_id" === 2L).select(
      graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 4, bt601 = true),
      graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 4, bt601 = false))
      .as[(Seq[Long], Seq[Long])].head()
    assert(models._1 == models._2, "gray GIF must be luma-model-invariant")
  }

  test("GIF-LZW decode: handcrafted stream with dictionary hits and double KwKwK") {
    import spark.implicits._
    // pixels [0,0,0,0,1,1,1,0,0] encoded as CLEAR,0,6,0,1,9,6(,EOI):
    // code 6 first arrives AS nextFree (KwKwK), code 9 likewise, and
    // the final 6 is a genuine dictionary HIT — the three decode paths
    // the clear-early fixture encoder never produces. Width grows 3→4
    // after entry 7 lands (nextFree hits 2^3): hand-packed LSB-first.
    val codes = Seq((4, 3), (0, 3), (6, 3), (0, 3), (1, 4), (9, 4), (6, 4), (5, 4))
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nb = 0
    codes.foreach { case (v, w) =>
      acc |= (v.toLong << nb); nb += w
      while (nb >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
    }
    if (nb > 0) bits.write((acc & 0xff).toInt)
    val lz = bits.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    out.write("GIF89a".getBytes("US-ASCII"))
    b8(9); b8(0); b8(1); b8(0) // screen 9x1
    b8(0x80 | 1) // GCT, 4 entries (2 bits -> min code size 2)
    b8(0); b8(0)
    Seq(10, 200, 77, 99).foreach(v => { b8(v); b8(v); b8(v) })
    b8(0x2c); b8(0); b8(0); b8(0); b8(0); b8(9); b8(0); b8(1); b8(0); b8(0)
    b8(2) // LZW min code size
    b8(lz.length); out.write(lz); b8(0); b8(0x3b)
    val payload = out.toByteArray
    val means = Seq((1L, payload)).toDF("id", "payload")
      .select(graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 1))
      .as[Seq[Long]].head()
    // lum = [10,10,10,10,200,200,200,10,10]; sum 660; 660*1000/9 = 73333
    assert(means == Seq(73333L), s"handcrafted LZW decode: $means")
  }

  test("GIF kernel: a LOCAL color table (no GCT) decodes; LCT takes precedence over GCT") {
    import spark.implicits._
    // rebuild the handcrafted 9x1 LZW stream, but carry the palette as
    // the IMAGE descriptor's local table — and in the precedence case,
    // plant a WRONG global table that must be ignored
    val codes = Seq((4, 3), (0, 3), (6, 3), (0, 3), (1, 4), (9, 4), (6, 4), (5, 4))
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nb = 0
    codes.foreach { case (v, w) =>
      acc |= (v.toLong << nb); nb += w
      while (nb >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
    }
    if (nb > 0) bits.write((acc & 0xff).toInt)
    val lz = bits.toByteArray
    def gif(withGct: Boolean, gctVal: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def b8(v: Int): Unit = out.write(v & 0xff)
      out.write("GIF89a".getBytes("US-ASCII"))
      b8(9); b8(0); b8(1); b8(0)
      b8(if (withGct) 0x80 | 1 else 0); b8(0); b8(0)
      if (withGct) (0 until 4).foreach(_ => { b8(gctVal); b8(gctVal); b8(gctVal) })
      b8(0x2c); b8(0); b8(0); b8(0); b8(0); b8(9); b8(0); b8(1); b8(0)
      b8(0x80 | 1) // LOCAL color table, 4 entries
      Seq(10, 200, 77, 99).foreach(v => { b8(v); b8(v); b8(v) })
      b8(2); b8(lz.length); out.write(lz); b8(0); b8(0x3b)
      out.toByteArray
    }
    val means = Seq((1L, gif(withGct = false, 0)), (2L, gif(withGct = true, 255)))
      .toDF("id", "payload").orderBy("id")
      .select(graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 1))
      .as[Seq[Long]].collect().toSeq
    // same pixels as the handcrafted-stream spec: mean 660*1000/9
    assert(means == Seq(Seq(73333L), Seq(73333L)),
      s"LCT-only and LCT-over-GCT must both decode via the LOCAL table: $means")
  }

  test("GIF pixel tier decodes FRAME 1 of an animated GIF (equals the static twin)") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.gifGrayPayload(11L, 1, interlaced = false)),
      (2L, Multimodal.gifAnimatedPayload(11L, 1, frames = 5))
    ).toDF("id", "payload").orderBy("id")
    val means = rows
      .select(graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 4))
      .as[Seq[Long]].collect().toSeq
    assert(means(0).nonEmpty && means(0) == means(1),
      s"animated frame 1 must equal the static twin: $means")
  }

  test("GIF kernel fuzz: corrupt or hostile payloads null, never throw") {
    import spark.implicits._
    val good = Multimodal.gifGrayPayload(5L, 1, interlaced = false)
    def bomb: Array[Byte] = { // 16384x16384 frame: past the 2^26 pixel cap
      val b = good.clone()
      b(6) = 0; b(7) = 0x40; b(8) = 0; b(9) = 0x40
      // image descriptor w/h live after 6+7+768 bytes header+GCT
      val id0 = 6 + 7 + 768
      b(id0 + 5) = 0; b(id0 + 6) = 0x40; b(id0 + 7) = 0; b(id0 + 8) = 0x40
      b
    }
    val cases = Seq(
      good.take(30),                       // truncated inside the GCT
      good.take(6 + 7 + 768 + 10 + 1),     // ends AT the min-code byte (review find: threw pre-fix)
      good.take(6 + 7 + 768 + 20),         // truncated inside LZW data
      "GIF89a then garbage".getBytes,      // bad descriptor
      Array[Byte](1, 2, 3),                // not a GIF
      bomb,
      { val b = good.clone(); b(6 + 7 + 768 + 10) = 0x3b.toByte; b }, // mangled body
      Array.empty[Byte])
    val got = cases.zipWithIndex.map(c => (c._2.toLong, c._1))
      .toDF("id", "payload")
      .select(graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 4))
      .collect().map(_.isNullAt(0)).toSeq
    assert(got.forall(identity), s"all corrupt payloads must null: $got")
  }

  test("pairCounts ≡ the distinct → df-cap join → self-join shape it replaced") {
    // differential oracle for the r15 group-local pair expansion:
    // group sizes straddle the cap (1, 2, exactly maxDf, maxDf + 1),
    // the input carries duplicate (key, id) rows (collect_set must be
    // the old standalone distinct), and ids across keys repeat so
    // n_shared > 1 pairs exist.
    import spark.implicits._
    val maxDf = 4
    val rows = Seq(
      // k1: 2 members → one pair (shared with k2 too → n_shared 2)
      ("k1", 10L), ("k1", 20L), ("k1", 10L),
      ("k2", 10L), ("k2", 20L),
      // k3: exactly maxDf members → 6 pairs
      ("k3", 1L), ("k3", 2L), ("k3", 3L), ("k3", 4L), ("k3", 3L),
      // k4: maxDf + 1 members → dropped by the cap
      ("k4", 1L), ("k4", 2L), ("k4", 3L), ("k4", 4L), ("k4", 5L),
      // k5: singleton → no pairs
      ("k5", 99L)
    ).toDF("dg", "id")
    val got = Dedup.pairCounts(rows, Seq("dg"), "id", maxDf)
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dd = rows.distinct()
    val keep = dd.groupBy("dg").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("dg")
    val f = dd.join(keep, "dg")
    val want = f.select(col("dg"), col("id").as("a"))
      .join(f.select(col("dg"), col("id").as("b")), "dg")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
    assert(got.toSeq.contains((10L, 20L, 2L)), "cross-key shared pair must count both keys")
    assert(!got.map(t => (t._1, t._2)).contains((1L, 5L)), "over-cap group must be dropped")
  }
}
