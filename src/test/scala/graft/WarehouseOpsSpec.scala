package graft

import org.apache.spark.sql.functions._
import graft.operators.{Linkage, Profiling, Scd, Search, TextOps}

/** Round-9 batch-two maintenance operators: alignment-free substring
  * dedup, SCD2 versioning + as-of join, blocked fuzzy entity linkage,
  * mergeable quantile sketches, the deflate kernel and its gates,
  * inverted-index build/
  * probe/upsert, Bloom-pruned joins, PMI collocations, unigram-LM
  * pruning, and the exact-integer KS drift gate.
  */
class WarehouseOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- spanDedupStrip (q137) -----------------------------------------

  test("spanDedupStrip removes a misaligned cross-doc span in all carriers") {
    // The 4-token phrase "p q r s" sits at offset 0 in doc 1 and
    // offset 2 in doc 2 — chunk-aligned dedup can't see this; span
    // dedup must strip it from BOTH.
    val docs = Seq(
      (1L, "p q r s u1 u2 u3 u4"),
      (2L, "v1 v2 p q r s w1 w2"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    val out = TextOps.spanDedupStrip(docs, "doc_id", "text", k = 4, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "u1 u2 u3 u4", 4L),
      (2L, "v1 v2 w1 w2", 4L),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8", 0L)))
  }

  test("spanDedupStrip merges overlapping flagged windows into one span") {
    // A 6-token shared passage with k=4 flags starts 0..2 in doc 1;
    // coverage union removes positions 0..5 as ONE span, not chunks.
    val docs = Seq(
      (1L, "a b c d e f t1 t2"),
      (2L, "z9 a b c d e f z8")
    ).toDF("doc_id", "text")
    val out = TextOps.spanDedupStrip(docs, "doc_id", "text", k = 4, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "t1 t2", 6L), (2L, "z9 z8", 6L)))
  }

  test("spanDedupStrip ignores within-doc repeats and short docs") {
    // "m n o p" repeats INSIDE doc 1 only — distinct-doc df is 1, so
    // minDocs=2 must NOT flag it; doc 2 is shorter than k and passes
    // through untouched.
    val docs = Seq(
      (1L, "m n o p m n o p"),
      (2L, "m n o")
    ).toDF("doc_id", "text")
    val out = TextOps.spanDedupStrip(docs, "doc_id", "text", k = 4, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "m n o p m n o p", 0L), (2L, "m n o", 0L)))
  }

  // ---- scd2 + asOfVersion (q138) -------------------------------------

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("scd2 collapses no-op observations and closes intervals") {
    val obs = Seq(
      (1L, ts("2020-01-01 00:00:00"), "A"),
      (1L, ts("2020-02-01 00:00:00"), "A"), // no-op → suppressed
      (1L, ts("2020-03-01 00:00:00"), "B"),
      (1L, ts("2020-03-01 00:00:00"), "B"), // exact dup → dropped
      (1L, ts("2020-04-01 00:00:00"), "A"), // reverting is a new version
      (2L, ts("2020-01-15 00:00:00"), "X")
    ).toDF("key", "ts", "attr")
    val out = Scd.scd2(obs, Seq("key"), "ts", Seq("attr"))
      .orderBy("key", "valid_from")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().toSeq
    assert(out == Seq(
      (1L, "A", ts("2020-01-01 00:00:00"), Some(ts("2020-03-01 00:00:00")), false),
      (1L, "B", ts("2020-03-01 00:00:00"), Some(ts("2020-04-01 00:00:00")), false),
      (1L, "A", ts("2020-04-01 00:00:00"), None, true),
      (2L, "X", ts("2020-01-15 00:00:00"), None, true)))
  }

  test("scd2 resolves same-timestamp conflicts by attr order, deterministically") {
    val obs = Seq(
      (1L, ts("2020-01-01 00:00:00"), "B"),
      (1L, ts("2020-01-01 00:00:00"), "A") // tie: A orders first
    ).toDF("key", "ts", "attr")
    val out = Scd.scd2(obs, Seq("key"), "ts", Seq("attr"))
      .orderBy("valid_from", "attr")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().toSeq
    assert(out == Seq(
      (1L, "A", ts("2020-01-01 00:00:00"), Some(ts("2020-01-01 00:00:00")), false),
      (1L, "B", ts("2020-01-01 00:00:00"), None, true)))
  }

  test("asOfVersion picks the version whose interval contains the fact ts") {
    val obs = Seq(
      (1L, ts("2020-01-01 00:00:00"), "A"),
      (1L, ts("2020-03-01 00:00:00"), "B")
    ).toDF("key", "ts", "attr")
    val dim = Scd.scd2(obs, Seq("key"), "ts", Seq("attr"))
    val facts = Seq(
      (100L, 1L, ts("2020-02-15 00:00:00")), // inside [Jan, Mar) → A
      (101L, 1L, ts("2020-03-01 00:00:00")), // at boundary → B (from-inclusive)
      (102L, 1L, ts("2019-12-31 00:00:00")), // before first version → no match
      (103L, 2L, ts("2020-06-01 00:00:00"))  // unknown key → no match
    ).toDF("fact_id", "key", "fts")
    val out = Scd.asOfVersion(facts, dim, Seq("key"), "fts")
      .select(col("fact_id"), col("attr"))
      .orderBy("fact_id")
      .as[(Long, Option[String])].collect().toSeq
    assert(out == Seq((100L, Some("A")), (101L, Some("B")),
      (102L, None), (103L, None)))
  }

  // ---- blockedLink (q141) --------------------------------------------

  test("blockedLink gates by distance, blocks candidates, breaks ties by id") {
    val clean = Seq(
      (1L, "smith", 10),
      (2L, "smyth", 10),  // dist 1 from "smith" too — tie broken by id
      (3L, "smith", 20)   // right name, wrong block → never a candidate
    ).toDF("cid", "cname", "blk")
    val dirty = Seq(
      (100L, "smith", 10), // dist 0 → clean 1
      (101L, "smythe", 10), // dist 1 to smyth(2), dist 2 to smith(1) → 2
      (102L, "jones", 10),  // beyond maxDist from everything → absent
      (103L, "smith", 30)   // empty block → absent
    ).toDF("did", "dname", "blk")
    val out = Linkage.blockedLink(dirty, "did", "dname",
        clean, "cid", "cname", blockCols = Seq("blk"), maxDist = 2)
      .orderBy("dirty_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((100L, 1L, 0L), (101L, 2L, 1L)))
  }

  test("blockedLink equal-distance candidates resolve to the smaller clean id") {
    val clean = Seq((7L, "abcd", 1), (4L, "abce", 1)).toDF("cid", "cname", "blk")
    val dirty = Seq((50L, "abcf", 1)).toDF("did", "dname", "blk")
    val out = Linkage.blockedLink(dirty, "did", "dname",
        clean, "cid", "cname", Seq("blk"), maxDist = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((50L, 4L, 1L)))
  }

  // ---- quantile-histogram sketch (q142) ------------------------------

  test("logBin bins small values exactly and keeps 1/16 relative width above") {
    val vals = Seq(1L, 7L, 15L, 16L, 17L, 1000L, 123456L).toDF("v")
    val out = vals.select(col("v"), Profiling.logBin(col("v")).as("bin"),
        Profiling.binLowerBound(Profiling.logBin(col("v"))).cast("long").as("lo"))
      .as[(Long, Long, Long)].collect()
      .map { case (v, b, l) => v -> ((b, l)) }.toMap
    // values < 16 reconstruct exactly from their bin's lower bound
    for (v <- Seq(1L, 7L, 15L, 16L, 17L)) assert(out(v)._2 == v)
    // larger values: lo <= v and v - lo < lo/16 + 1 (bin width bound)
    for (v <- Seq(1000L, 123456L)) {
      val lo = out(v)._2
      assert(lo <= v && (v - lo) * 16 < lo + 16)
    }
  }

  test("merged wave sketches equal the whole-corpus sketch exactly") {
    val vals = (1L to 500L).map(i => i * i % 7919 + 1).toDF("v")
    val waves = (0 until 3).map(i =>
      Profiling.histSketch(vals.filter(pmod(col("v"), lit(3)) === i), col("v")))
    val merged = Profiling.mergeHists(waves)
      .as[(Long, Long)].collect().toMap
    val whole = Profiling.histSketch(vals, col("v"))
      .as[(Long, Long)].collect().toMap
    assert(merged == whole)
  }

  test("histQuantiles estimate is a lower bound within 1/16 of the exact rank") {
    val vals = (1L to 1000L).map(i => (i * 2654435761L) % 100000 + 1).toDF("v")
    val hist = Profiling.histSketch(vals, col("v"))
    val est = Profiling.histQuantiles(hist, Seq(50, 90, 99))
      .as[(Long, Long, Long)].collect().map { case (q, _, e) => q -> e }.toMap
    val sorted = vals.as[Long].collect().sorted
    for ((q, e) <- est) {
      val exact = sorted((q * sorted.length + 99).toInt / 100 - 1)
      assert(e <= exact && exact * 16 <= e * 17,
        s"q=$q est=$e exact=$exact")
    }
  }

  // ---- deflate kernel (q139) -----------------------------------------

  test("deflateLen matches a direct Deflater call in both execution modes") {
    val texts = Seq("hello world hello world hello world",
      "a b c d e f g h i j k l m n o p", "x", "spam " * 40)
    val expected = texts.map { t =>
      val d = new java.util.zip.Deflater(6, true)
      try {
        d.setInput(t.getBytes("UTF-8")); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        n
      } finally d.end()
    }
    def check(): Unit = {
      val got = texts.toDF("t")
        .select(graft.plans.DeflateLenExpr.deflateLen(col("t")))
        .as[Long].collect().toSeq
      assert(got == expected)
    }
    check()
    val conf = spark.conf
    val prevWhole = conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check()
    finally {
      conf.set("spark.sql.codegen.wholeStage", prevWhole)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("compressionStats separates repetition from diverse text of equal length") {
    val rep = "spam " * 60
    val div = (1 to 60).map(i => f"w$i%03d~").mkString(" ").take(rep.length)
    val out = TextOps.compressionStats(
        Seq((1L, rep), (2L, div)).toDF("id", "text"), "id", "text")
      .as[(Long, Long, Long)].collect()
      .map { case (id, raw, defl) => id -> ((raw, defl)) }.toMap
    assert(out(1L)._1 == out(2L)._1)        // same raw length by construction
    assert(out(1L)._2 < out(2L)._2)         // repetition compresses strictly better
    assert(out(1L)._2 >= 1 && out(2L)._2 <= out(2L)._1 + 16) // sane bounds
  }

  // ---- inverted index (q140) -----------------------------------------

  test("conjunctive search requires every query term and sums tf") {
    val docs = Seq(
      (1L, "cat dog fish cat"),  // cat(2) dog(1) fish(1) → all 3 → score 4
      (2L, "cat dog"),           // missing fish → absent
      (3L, "fish dog cat bird"), // all 3 → score 3
      (4L, "bird bird")          // none → absent
    ).toDF("doc_id", "text")
    val postings = Search.buildPostings(docs, "doc_id", "text")
    val out = Search.conjunctive(postings, Seq("cat", "dog", "fish", "cat"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // the repeated query term "cat" must not break the coverage count
    assert(out == Seq((1L, 4L), (3L, 3L)))
  }

  test("phraseSearch: contiguity, repeated terms, overlaps, no self-joins") {
    val docs = Seq(
      (1L, "the cat sat on the cat sat"),  // "the cat sat" ×2
      (2L, "cat the sat"),                 // right terms, wrong order
      (3L, "the cat"),                     // too short for the phrase
      (4L, "a a a a"),                     // overlapping "a a a" → starts 0,1
      (5L, "the cat nap sat")              // gap breaks contiguity
    ).toDF("doc_id", "text")
    val out = graft.operators.Search
      .phraseSearch(docs, "doc_id", "text", Seq("the", "cat", "sat"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)), s"only doc 1 matches, twice: $out")
    // repeated-term phrase: the same posting list intersects itself
    // under different shifts
    val rep = graft.operators.Search
      .phraseSearch(docs, "doc_id", "text", Seq("a", "a", "a"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(rep == Seq((4L, 2L)), s"overlapping starts both count: $rep")
    // scale-shape: the j-term phrase is ONE aggregate path, never a
    // posting-list self-join
    val plan = graft.operators.Search
      .phraseSearch(docs, "doc_id", "text", Seq("the", "cat", "sat"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"phrase match must be join-free:\n$plan")
  }

  test("phrase probe from the persisted positional store: pushed term filter, identical results") {
    val docs = Seq((1L, "the cat sat on the cat sat"), (2L, "cat the sat"),
      (3L, "dog dog the cat sat")).toDF("doc_id", "text")
    val dir = tmpDir("pos-store")
    spark.sql("DROP TABLE IF EXISTS graft_test_positional")
    Search.writePostingsStore(
      Search.positionalPostings(docs, "doc_id", "text"),
      "graft_test_positional", s"$dir/pos", buckets = 4)
    val q = Search.phraseSearchFromPostings(
      Search.postingsStore(spark, "graft_test_positional"),
      Seq("the", "cat", "sat"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term filter not pushed into the positional scan:\n$plan")
    val inline = Search.phraseSearch(docs, "doc_id", "text", Seq("the", "cat", "sat"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(q.orderBy("id").as[(Long, Long)].collect().toSeq == inline &&
      inline == Seq((1L, 2L), (3L, 1L)))
  }

  test("contentSplit co-locates byte-identical duplicates; abLift honors strict order") {
    val dup = Seq((1L, "same text"), (2L, "same text"), (3L, "other words"))
      .toDF("doc_id", "text")
    val splits = graft.operators.Mixing.contentSplit(dup, "text")
      .groupBy("text").agg(countDistinct("split").as("n"))
      .as[(String, Long)].collect().toMap
    assert(splits.values.forall(_ == 1L), s"duplicates must share a split: $splits")

    // abLift: u1 converts after view, u2 converts BEFORE first view
    // (not attributable), u3 exposed never converts, u4 converts but
    // was never exposed (excluded from both denominators)
    val ev = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "purchase", ts("2024-01-01 11:00:00")),
      (2L, "purchase", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00")),
      (3L, "view", ts("2024-01-01 10:00:00")),
      (4L, "purchase", ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val r = graft.operators.Funnels.abLift(ev, "user_id", "event_type", "ts",
        "view", "purchase")
      .as[(Long, Long, Option[Long], Long, Long, Option[Long], Boolean)].head()
    // exposed entities: u1, u2, u3; converted: only u1
    assert(r._1 + r._4 == 3L, s"three exposed users: $r")
    assert(r._2 + r._5 == 1L, s"only the strict-order conversion counts: $r")
  }

  test("postings store probe pushes the term filter into the scan") {
    val docs = Seq((1L, "cat dog"), (2L, "dog fish"), (3L, "cat fish"))
      .toDF("doc_id", "text")
    val postings = Search.buildPostings(docs, "doc_id", "text")
    val dir = tmpDir("postings-store")
    spark.sql("DROP TABLE IF EXISTS graft_test_postings")
    Search.writePostingsStore(postings, "graft_test_postings",
      s"$dir/postings", buckets = 4)
    val store = Search.postingsStore(spark, "graft_test_postings")
    val q = Search.conjunctive(store, Seq("cat", "fish"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term filter not pushed:\n$plan")
    val inMem = Search.conjunctive(postings, Seq("cat", "fish"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(q.orderBy("id").as[(Long, Long)].collect().toSeq == inMem &&
      inMem == Seq((3L, 2L)))
  }

  test("upsertPostings drops stale terms of updated docs and equals a rebuild") {
    val v1 = Seq((1L, "old stale words"), (2L, "keep these words"))
      .toDF("doc_id", "text")
    val delta = Seq((1L, "new fresh words"), (3L, "brand new doc"))
      .toDF("doc_id", "text")
    val maintained = Search.upsertPostings(
        Search.buildPostings(v1, "doc_id", "text"), delta, "doc_id", "text")
      .select("term", "id", "tf")
      .as[(String, Long, Long)].collect().toSet
    val rebuilt = Search.buildPostings(
        v1.filter(col("doc_id") =!= 1L).unionByName(delta), "doc_id", "text")
      .select("term", "id", "tf")
      .as[(String, Long, Long)].collect().toSet
    assert(maintained == rebuilt)
    // the updated doc's dropped terms must be gone, not shadowed
    assert(!maintained.exists { case (t, id, _) => id == 1L && t == "stale" })
  }

  // ---- NCD near-dup (q144) -------------------------------------------

  test("ncdVerifiedPairs links a near-copy and skips unrelated docs") {
    val a = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, a), (2L, a + " x"),                             // near-copy pair
      (3L, (100 to 140).map(i => s"zzz$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .ncdVerifiedPairs(docs, "doc_id", "text", maxNcdE3 = 400L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 >= 0 && pairs.head._3 <= 400)
  }

  // ---- waterfilling (q145) -------------------------------------------

  test("waterfill keeps everything when the budget covers the total") {
    val counts = Seq(("a", 10L), ("b", 20L)).toDF("src", "c")
    val out = graft.operators.Mixing.waterfill(counts, "src", "c", budget = 100L)
      .as[(String, Long, Long)].collect().map { case (s, _, al) => s -> al }.toMap
    assert(out == Map("a" -> 10L, "b" -> 20L))
  }

  test("waterfill caps over-represented sources at the water level, exactly on budget") {
    // counts 5, 30, 40, 100; budget 60 → "a" keeps 5; remaining 55 over
    // 3 capped sources → L=18 r=1 → first capped source (+1) gets 19
    val counts = Seq(("a", 5L), ("b", 30L), ("c", 40L), ("d", 100L))
      .toDF("src", "c")
    val out = graft.operators.Mixing.waterfill(counts, "src", "c", budget = 60L)
      .as[(String, Long, Long)].collect().map { case (s, _, al) => s -> al }.toMap
    assert(out == Map("a" -> 5L, "b" -> 19L, "c" -> 18L, "d" -> 18L))
    assert(out.values.sum == 60L)
  }

  test("waterfill with a zero budget allocates nothing") {
    val counts = Seq(("a", 3L), ("b", 7L)).toDF("src", "c")
    val out = graft.operators.Mixing.waterfill(counts, "src", "c", budget = 0L)
      .as[(String, Long, Long)].collect().map { case (s, _, al) => s -> al }.toMap
    assert(out == Map("a" -> 0L, "b" -> 0L))
  }

  // ---- bloom-pruned join (q146) --------------------------------------

  test("bloomPrunedJoin equals the plain join and plans the membership filter") {
    // a real parquet scan — a LocalRelation would let the optimizer
    // fold the membership filter away before the plan assertion
    val dir = tmpDir("bloom-join")
    (1L to 500L).map(i => (i % 97, i)).toDF("k", "fv")
      .write.mode("overwrite").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = Seq((3L, "a"), (11L, "b"), (42L, "c")).toDF("k", "dv")
    val pruned = graft.operators.Salting.bloomPrunedJoin(fact, dim, "k",
      expectedDimKeys = Some(10L))
    val plain = fact.join(dim, Seq("k"))
    assert(pruned.orderBy("k", "fv").collect().toSeq ==
      plain.orderBy("k", "fv").collect().toSeq)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("might_contain"), "bloom membership filter not in plan")
  }

  test("bloomPrunedJoin with an empty dim yields an empty inner join") {
    val fact = Seq((1L, "x")).toDF("k", "fv")
    val dim = Seq.empty[(Long, String)].toDF("k", "dv")
    assert(graft.operators.Salting.bloomPrunedJoin(fact, dim, "k")
      .count() == 0L)
  }

  // ---- PMI collocations (q147) ---------------------------------------

  test("pmiCollocations ranks an exclusive pair above promiscuous ones") {
    // "new york" co-occur exclusively 6 times; "the" pairs with many
    // right-hand tokens, so each "the X" bigram has lower PMI.
    val docs = (1 to 6).map(i => (i.toLong, s"new york the w$i the city"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps
      .pmiCollocations(docs, "text", minCount = 5L, k = 4)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out.nonEmpty && out.head._1 == "new" && out.head._2 == "york"
      && out.head._3 == 6L)
    // every surviving pair respects the count floor
    assert(out.forall(_._3 >= 5L))
    // exclusive pair scores strictly above any "the"-left pair present
    val thePmi = out.filter(_._1 == "the").map(_._4)
    assert(thePmi.forall(_ < out.head._4))
  }

  // ---- unigram-LM vocab pruning (q148) -------------------------------

  test("pruneVocab: longest-match usage, shadowed candidates pruned") {
    // words: aaab ×3, ab ×1. Substring counts (freq-weighted):
    //   aa → 6 (two positions in aaab), ab → 4 (aaab tail + word ab),
    //   aaa → 3, aab → 3. Floor 4 keeps {aa, ab}.
    // Greedy segmentation: aaab → aa|ab (usage aa:3, ab:3);
    // ab → ab (usage ab:+1). Utilities: aa=3, ab=4.
    val docs = Seq((1L, "aaab aaab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val out = graft.operators.Unigram.pruneVocab(docs, "text",
        minPieceCount = 4L, minUtility = 1L, maxPieceLen = 3, maxWordLen = 8)
      .orderBy("piece")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("aa", 6L, 3L), ("ab", 4L, 4L)))
  }

  test("pruneVocab drops candidates whose usage misses the utility floor") {
    // same fixture, utility floor 4: aa (utility 3) is pruned even
    // though its raw count (6) is the highest — the unigram-LM point
    val docs = Seq((1L, "aaab aaab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val out = graft.operators.Unigram.pruneVocab(docs, "text",
        minPieceCount = 4L, minUtility = 4L, maxPieceLen = 3, maxWordLen = 8)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("ab", 4L, 4L)))
  }

  test("pruneVocab prefers the longest match at each position") {
    // word "abcd" ×5: candidates include abcd (len 4) and ab/cd (len 2)
    // with floor 5 — greedy takes abcd whole, so ab/cd get no usage
    val docs = Seq((1L, "abcd abcd abcd abcd abcd")).toDF("doc_id", "text")
    val out = graft.operators.Unigram.pruneVocab(docs, "text",
        minPieceCount = 5L, minUtility = 1L, maxPieceLen = 4, maxWordLen = 8)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("abcd", 5L, 5L)))
  }

  test("GreedyPiecesExpr agrees across execution modes and handles edges") {
    // 🎉 (U+1F389) is supplementary-plane: 2 UTF-16 units but ONE code
    // point — "🎉x" must match as a 2-code-point piece the way Spark's
    // substring() generated it, and a char-based kernel would not.
    val pieces = Seq("ab", "abc", "cd", "xy", "🎉x")
    val words = Seq("abcd",  // abc (len-3 beats ab) then d uncovered
      "ababxy",              // ab, ab, xy
      "zzz",                 // nothing matches
      "a", "",               // shorter than any piece
      "🎉xab")     // 🎉x then ab — code-point positions
    def run(): Seq[Seq[String]] = words.toDF("w")
      .select(graft.plans.GreedyPiecesExpr.greedyPieces(col("w"), pieces, 3))
      .as[Seq[String]].collect().toSeq
    val expected = Seq(Seq("abc"), Seq("ab", "ab", "xy"), Seq(), Seq(), Seq(),
      Seq("🎉x", "ab"))
    assert(run() == expected)
    val conf = spark.conf
    val prevWhole = conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == expected)
    finally {
      conf.set("spark.sql.codegen.wholeStage", prevWhole)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("ViterbiPiecesExpr picks the min-cost path with largest-piece ties, both exec modes") {
    // vocab: ab=10, bc=10, abc=25, a=8, b=8, c=8 (micro-costs)
    // "abc": paths abc=25 | ab+c=18 | a+bc=18 | a+b+c=24 → min 18 twice;
    // backward walk at pos 3 prefers the LONGER last piece → a+bc.
    val pieces = Seq("ab", "bc", "abc", "a", "b", "c")
    val costs = Seq(10L, 10L, 25L, 8L, 8L, 8L)
    def run(): Seq[Seq[String]] = Seq("abc", "abab", "azb", "")
      .toDF("w")
      .select(graft.plans.ViterbiPiecesExpr.viterbiPieces(col("w"), pieces, costs, 3, 1000L))
      .as[Seq[String]].collect().toSeq
    val expected = Seq(
      Seq("a", "bc"),        // tie broken toward bc (longest final step)
      Seq("ab", "ab"),       // 20 < a+b+a+b=32
      Seq("a", "z", "b"),    // z out-of-vocab → unk fallback
      Seq())
    assert(run() == expected)
    val conf = spark.conf
    val prevWhole = conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == expected)
    finally {
      conf.set("spark.sql.codegen.wholeStage", prevWhole)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("emTrain: usage flows to the pieces Viterbi actually uses, smoothing keeps vocab") {
    // corpus: "abab" ×4, "ab" ×2 → words basis {abab:4, ab:2}.
    // substring counts: a=..., b=..., ab=10, ba=4, abab=4, aba=4, bab=4 …
    // floor 5 keeps only "ab" among multi-char pieces (cp 10); all
    // single chars stay. Round 1: cost(ab) < cost(a)+cost(b) ⇒ every
    // word segments as ab-chains ⇒ u1(ab)=10+1, u1(a)=u1(b)=0+1.
    val docs = Seq((1L, "abab abab ab"), (2L, "abab abab ab")).toDF("doc_id", "text")
    val out = graft.operators.Unigram.emTrain(docs, "text", rounds = 2,
        minPieceCount = 5L, maxPieceLen = 4, maxWordLen = 8)
      .orderBy("piece")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq("a", "ab", "b"))
    val m = out.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m("ab") == ((10L, 11L, 11L)), s"ab must absorb all usage: $m")
    assert(m("a") == ((10L, 1L, 1L)) && m("b") == ((10L, 1L, 1L)),
      s"single chars keep the +1 floor: $m")
  }

  test("emTrainPruned: low-usage multi-char pieces die, chars survive, mass renormalizes") {
    // multi-char survivors after floor 4: ab(10), abab(4), cd(4), cdcd?
    // (cdcd count 2 < 4 → out). Round 1 Viterbi: 'abab' words take the
    // whole-word piece (usage 4+1=5), 'cdcd' words take cd+cd (4+1=5),
    // 'ab' words take ab (2+1=3). keepTop=1 keeps the (cnt DESC, piece)
    // winner — abab ties cd at 5 and wins lexically; ab and cd are
    // PRUNED. Round 2: 'cdcd'/'ab' words fall back to chars, which
    // absorb the freed usage.
    val docs = Seq((1L, "abab abab ab cdcd"), (2L, "abab abab ab cdcd")).toDF("doc_id", "text")
    val out = graft.operators.Unigram.emTrainPruned(docs, "text",
        rounds = 2, keepTop = 1, minPieceCount = 4L, maxPieceLen = 4, maxWordLen = 8)
      .orderBy("piece").as[(String, Long)].collect().toSeq
    val m = out.toMap
    val multi = out.map(_._1).filter(_.length > 1)
    assert(multi == Seq("abab") && !m.contains("cd") && !m.contains("ab"),
      s"exactly one multi piece survives the per-round prune: $out")
    assert(m("c") > 1L && m("d") > 1L && m("a") > 1L && m("b") > 1L,
      s"chars must absorb the pruned pieces' usage in round 2: $out")
  }

  test("driver-local unigram training ≡ distributed rounds (conf-forced)") {
    // the r15 local fast path must make IDENTICAL decisions to the
    // distributed loop: same substring candidate arithmetic, same
    // StrictMath.log costs, the SAME Viterbi/greedy kernels per word.
    // Force the distributed path via the conf ceiling and compare on a
    // corpus with repeats, ties and multi-byte tokens.
    val docs = (Seq.fill(6)("abab abab ab cdcd") ++ Seq.fill(3)("naïveté ab") ++
      Seq.fill(4)("東京都 cdcd abab")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def forced[A](f: => A): A = {
      spark.conf.set("spark.graft.unigram.localMaxWords", "0")
      try f finally spark.conf.unset("spark.graft.unigram.localMaxWords")
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("piece").collect().toSeq.map(_.toSeq)
    val U = graft.operators.Unigram
    assert(rows(U.pruneVocab(docs, "text", minPieceCount = 3L,
        minUtility = 3L, maxPieceLen = 3, maxWordLen = 8)) ==
      rows(forced(U.pruneVocab(docs, "text", minPieceCount = 3L,
        minUtility = 3L, maxPieceLen = 3, maxWordLen = 8))),
      "pruneVocab local != distributed")
    assert(rows(U.emTrain(docs, "text", rounds = 2, minPieceCount = 3L,
        maxPieceLen = 3, maxWordLen = 8)) ==
      rows(forced(U.emTrain(docs, "text", rounds = 2, minPieceCount = 3L,
        maxPieceLen = 3, maxWordLen = 8))),
      "emTrain local != distributed")
    assert(rows(U.emTrainPruned(docs, "text", rounds = 2, keepTop = 2,
        minPieceCount = 3L, maxPieceLen = 3, maxWordLen = 8)) ==
      rows(forced(U.emTrainPruned(docs, "text", rounds = 2, keepTop = 2,
        minPieceCount = 3L, maxPieceLen = 3, maxWordLen = 8))),
      "emTrainPruned local != distributed")
  }

  // ---- score reweighting (q152) --------------------------------------

  test("scoreReweight: proportional allocs, remainder to top scorers, zero stays zero") {
    val scores = Seq(("a", 30L), ("b", 20L), ("c", 0L), ("d", 10L))
      .toDF("grp", "s")
    val out = graft.operators.Mixing.scoreReweight(scores, "grp", "s", budget = 100L)
      .as[(String, Long, Long, Long)].collect()
      .map { case (g, s, w, al) => g -> ((s, w, al)) }.toMap
    // 100 * 30/60 = 50, 20/60 → 33, 10/60 → 16, base sum 99 → +1 to the
    // top scorer "a"
    assert(out("a") == ((30L, 500000L, 51L)))
    assert(out("b") == ((20L, 333333L, 33L)))
    assert(out("c") == ((0L, 0L, 0L)))
    assert(out("d") == ((10L, 166666L, 16L)))
    assert(out.values.map(_._3).sum == 100L)
  }

  test("scoreReweight with all-zero scores yields NULL weights, no silent uniform") {
    val scores = Seq(("a", 0L), ("b", 0L)).toDF("grp", "s")
    val out = graft.operators.Mixing.scoreReweight(scores, "grp", "s", budget = 10L)
      .select("weight_e6").collect().map(r => r.isNullAt(0))
    assert(out.forall(identity))
  }

  // ---- expectations (q153) -------------------------------------------

  test("expectations: completeness, uniqueness with nulls, bounds — one pass") {
    import graft.operators.Profiling.Expectation
    // w: exactly ONE null on otherwise-unique values → must PASS (the
    // old n−d−nulls+anyNull arithmetic gave 1 and falsely failed);
    // x: THREE nulls, rest distinct → nulls collapse to one value, so
    // surplus = 2 (old arithmetic gave 1).
    val df = Seq[(java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 5L, 10L, null), (2L, 5L, 20L, null), (3L, null, 30L, null),
      (4L, null, 40L, 7L), (4L, 99L, null, 8L))
      .toDF("id", "v", "w", "x")
    val out = graft.operators.Profiling.expectations(df, Seq(
        Expectation("complete", "id"),
        Expectation("complete", "v"),     // 2 nulls → fail
        Expectation("unique", "id"),      // one dup (4) → surplus 1 → fail
        Expectation("unique", "v"),       // {5,5,null,null,99}: n=5, distinct nn=2, anyNull → 5-2-1=2 → fail
        Expectation("unique", "w"),       // {10,20,30,40,null}: 5-4-1=0 → PASS
        Expectation("unique", "x"),       // {null,null,null,7,8}: 5-2-1=2 → fail
        Expectation("between", "v", lo = 0L, hi = 10L))) // 99 out of bounds → fail
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      ("between", "v", 1L, false),
      ("complete", "id", 0L, true),
      ("complete", "v", 2L, false),
      ("unique", "id", 1L, false),
      ("unique", "v", 2L, false),
      ("unique", "w", 0L, true),
      ("unique", "x", 2L, false)))
  }

  test("topSessionPaths slides within sessions only and ranks deterministically") {
    // user 1: one session view>click>purchase>view → paths v>c>p, c>p>v
    // user 2: session break after 'view' (2h gap) → no 3-path crosses it
    val events = Seq(
      (1L, 1L, "view", ts("2024-01-01 10:00:00")),
      (1L, 2L, "click", ts("2024-01-01 10:05:00")),
      (1L, 3L, "purchase", ts("2024-01-01 10:10:00")),
      (1L, 4L, "view", ts("2024-01-01 10:15:00")),
      (2L, 5L, "view", ts("2024-01-01 09:00:00")),
      (2L, 6L, "view", ts("2024-01-01 11:30:00")), // new session
      (2L, 7L, "click", ts("2024-01-01 11:31:00")),
      (2L, 8L, "purchase", ts("2024-01-01 11:32:00"))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.Funnels.topSessionPaths(events, "user_id",
        "event_type", "ts", "event_id", gapSeconds = 1800L, pathLen = 3, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("view>click>purchase", 2L), ("click>purchase>view", 1L)))
  }

  // ---- prefix-filtering similarity join (q157) -----------------------

  test("prefixFilterPairs finds every pair at threshold with recall 1, none below") {
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),                                  // 20 tokens
      (2L, base + " extra1"),                      // J = 20/21 ≈ 0.952 → pair
      (3L, base + " extra1 extra2 extra3"),        // J(1,3) = 20/23 ≈ 0.87 below; J(2,3) = 21/23 ≈ 0.91 → pair
      (4L, (30 to 55).map(i => s"zzz$i").mkString(" ")) // disjoint
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .prefixFilterPairs(docs, "doc_id", "text", tPct = 90)
      .orderBy("id1", "id2")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L), (2L, 3L)))
    assert(out.map(_._3) == Seq(20L * 1000000L / 21L, 21L * 1000000L / 23L))
    // exhaustive cross-check: the prefix join's output equals the
    // brute-force threshold join (recall 1, precision 1)
    val brute = for {
      a <- Seq((1L, base), (2L, base + " extra1"),
        (3L, base + " extra1 extra2 extra3"))
      b <- Seq((2L, base + " extra1"), (3L, base + " extra1 extra2 extra3"))
      if a._1 < b._1
      sa = a._2.split(" ").toSet; sb = b._2.split(" ").toSet
      inter = (sa & sb).size; un = (sa | sb).size
      if inter * 100 >= un * 90
    } yield (a._1, b._1)
    assert(out.map(p => (p._1, p._2)) == brute)
  }

  // ---- embedding centroid drift (q158) --------------------------------

  test("centroidDriftE6: shifted snapshot crosses the gate, identical one scores zero") {
    val vA = Seq(0.5, -0.25)
    val vShift = vA.map(_ + 2.0)
    val vecs = Seq(
      ("same", 0, vA), ("same", 1, vA),          // identical → d_num 0
      ("moved", 0, vA), ("moved", 1, vShift),    // L1 gap 4.0 → 4e6 > 1e6 gate
      ("gone", 0, vA),                           // vanished source: B-side empty
      ("new", 1, vShift)                         // brand-new source: A-side empty
    ).toDF("grp", "snap", "vec")
    val out = graft.operators.Similarity
      .centroidDriftE6(vecs, "grp", "snap", "vec", thresholdE6 = 1000000L)
      .orderBy("grp")
      .as[(String, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(out == Seq(
      ("gone", 1L, 0L, 0L, false, true),   // single-snapshot groups surface, marked drifted
      ("moved", 1L, 1L, 4000000L, true, true),
      ("new", 0L, 1L, 0L, false, true),
      ("same", 1L, 1L, 0L, true, false)))
  }

  // ---- funnels / cohorts / attribution (q154-q156) ---------------------

  test("funnel enforces strict event order per entity") {
    val events = Seq(
      // user 1: full funnel in order
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      // user 2: click BEFORE first view → click stage not reached
      (2L, "click", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "purchase", ts("2024-01-01 11:00:00")),
      // user 3: view only
      (3L, "view", ts("2024-01-01 08:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = graft.operators.Funnels.funnel(events, "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))
      .select("user_id", "depth").orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L), (2L, 1L), (3L, 1L)))
  }

  test("cohortRetention buckets by exact epoch weeks from first activity") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00")), // cohort week W
      (1L, ts("2024-01-09 00:00:00")), // 8 days later → week_n = 1
      (1L, ts("2024-01-07 23:59:59")), // 6d23h later → still week_n = 0
      (2L, ts("2024-01-16 00:00:00"))  // later cohort
    ).toDF("user_id", "ts")
    val out = graft.operators.Funnels.cohortRetention(events, "user_id", "ts")
      .orderBy("cohort_w", "week_n")
      .as[(Long, Long, Long)].collect().toSeq
    val w1 = out.head._1
    assert(out == Seq((w1, 0L, 1L), (w1, 1L, 1L), (w1 + 2, 0L, 1L)))
  }

  test("touchAttribution credits first and last preceding touch, NULL when none") {
    val events = Seq(
      (1L, 1L, "view", ts("2024-01-01 10:00:00")),
      (1L, 2L, "click", ts("2024-01-01 11:00:00")),
      (1L, 3L, "purchase", ts("2024-01-01 12:00:00")), // first=view last=click
      (1L, 4L, "view", ts("2024-01-01 13:00:00")),
      (1L, 5L, "purchase", ts("2024-01-01 14:00:00")), // first=view last=view
      (2L, 6L, "purchase", ts("2024-01-01 10:00:00"))  // no preceding touch
    ).toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.Funnels.touchAttribution(events, "user_id",
        "event_type", "ts", "event_id", Seq("view", "click"), "purchase")
      .orderBy("user_id", "ts")
      .as[(Long, java.sql.Timestamp, Option[String], Option[String])]
      .collect().toSeq
    assert(out.map(r => (r._1, r._3, r._4)) == Seq(
      (1L, Some("view"), Some("click")),
      (1L, Some("view"), Some("view")),
      (2L, None, None)))
  }

  // ---- KS drift (q149) -----------------------------------------------

  test("ksDrift: identical distributions score zero, disjoint score the maximum") {
    val same = Seq.tabulate(40)(i => ("g1", i % 2, (i / 2) % 5))
    val disj = Seq.tabulate(40)(i => ("g2", i % 2, if (i % 2 == 0) i else i + 1000))
    val df = (same ++ disj).toDF("grp", "snap", "v")
    val out = graft.operators.Profiling.ksDrift(df, "grp", "snap", "v",
        driftTenths = 6)
      .orderBy("grp")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    // g1: each snapshot sees values 0..4 with equal counts → every ECDF
    // gap is zero; g2: snapshots occupy disjoint ranges → the gap at
    // the end of snapshot A's range is n_a·n_b (D = 1)
    assert(out == Seq(("g1", 20L, 20L, 0L, false),
      ("g2", 20L, 20L, 400L, true)))
  }

  test("ksDrift hand-computed: a one-element shift") {
    // A = {1,2,3}, B = {2,3,4}: D = 1/3 at v=1 (and v=3); exact
    // numerator max |cumA·3 − cumB·3| = 3
    val df = Seq(("g", 0, 1), ("g", 0, 2), ("g", 0, 3),
      ("g", 1, 2), ("g", 1, 3), ("g", 1, 4)).toDF("grp", "snap", "v")
    val out = graft.operators.Profiling.ksDrift(df, "grp", "snap", "v",
        driftTenths = 5)
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(("g", 3L, 3L, 3L, false))) // D = 1/3 < 0.5
  }

  // ---- textRank cache hygiene (q131) -----------------------------------

  test("textRank materializes its result and leaves no cached RDD behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq((1L, "a b a b c"), (2L, "b c b c")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textRank(docs, "text", iters = 2)
    // the edge basis was persisted for the iterations and must be
    // dropped before textRank returns (r9 verdict item 5)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty, s"leaked cached RDDs: ${after -- before}")
    // result is fully evaluated: ranks sum to a deterministic integer
    // fixpoint and every graph node is present
    val ranks = out.as[(String, Long)].collect().toMap
    assert(ranks.keySet == Set("a", "b", "c"))
    // b is adjacent to both a and c (higher weighted degree) → top rank
    assert(ranks("b") > ranks("a") && ranks("b") > ranks("c"))
  }

  test("textRank driver-local rounds ≡ distributed rounds (conf-forced)") {
    // the r15 local-iteration fast path must reproduce the distributed
    // integer fixpoint exactly (Long (r·w) div wdeg terms, same
    // base/damp floors) — including a node chain where contribution
    // order differs between the two executions
    val docs = Seq((1L, "a b a b c d e"), (2L, "b c b c e a"),
      (3L, "x y z x y"), (4L, "naïve café naïve")).toDF("doc_id", "text")
    val local = graft.operators.TextOps.textRank(docs, "text", iters = 3)
      .as[(String, Long)].collect().toMap
    spark.conf.set("spark.graft.textrank.localMaxEdges", "0")
    val dist = try graft.operators.TextOps.textRank(docs, "text", iters = 3)
        .as[(String, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.textrank.localMaxEdges")
    assert(local == dist, s"local $local vs distributed $dist")
  }

  // ---- minMatch-decoupled span dedup (q181, r10 verdict item 6) --------

  test("spanDedupStrip minMatch: spans straddling the threshold strip exactly") {
    // 4-gram anchors, minMatch 6: the 5-token shared span's windows ARE
    // shared, but its coverage run (5) misses the threshold — intact;
    // 6 and 7 strip with exact boundaries
    val docs = Seq(
      (1L, "s5a s5b s5c s5d s5e u1 u2 u3 u4 u5"),
      (2L, "v1 v2 s5a s5b s5c s5d s5e v3 v4"),
      (3L, "s6a s6b s6c s6d s6e s6f w1 w2 w3 w4"),
      (4L, "x1 x2 s6a s6b s6c s6d s6e s6f"),
      (5L, "s7a s7b s7c s7d s7e s7f s7g y1 y2 y3"),
      (6L, "z1 s7a s7b s7c s7d s7e s7f s7g z2"),
      (7L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n0")
    ).toDF("doc_id", "text")
    val out = TextOps.spanDedupStrip(docs, "doc_id", "text",
        k = 4, minDocs = 2, minMatch = 6)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(out(0)._3 == 0L && out(1)._3 == 0L,
      s"5-token span (minMatch-1) must survive: ${out.take(2)}")
    assert(out(2) == ((3L, "w1 w2 w3 w4", 6L)) && out(3) == ((4L, "x1 x2", 6L)),
      s"6-token span strips exactly: ${out.slice(2, 4)}")
    assert(out(4) == ((5L, "y1 y2 y3", 7L)) && out(5) == ((6L, "z1 z2", 7L)),
      s"7-token span strips exactly: ${out.slice(4, 6)}")
    assert(out(6)._3 == 0L, "unshared doc untouched")
  }

  test("spanDedupStrip minMatch = k is the identity filter (historical behavior)") {
    val docs = Seq(
      (1L, "p q r s t u1 u2 u3"),
      (2L, "v1 p q r s t v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8")
    ).toDF("doc_id", "text")
    val plain = TextOps.spanDedupStrip(docs, "doc_id", "text", k = 4, minDocs = 2)
      .orderBy("doc_id").collect().toSeq
    val mm = TextOps.spanDedupStrip(docs, "doc_id", "text", k = 4, minDocs = 2,
        minMatch = 4)
      .orderBy("doc_id").collect().toSeq
    assert(plain == mm)
  }

  test("incremental minMatch span dedup vs store equals the full recompute on delta ids") {
    import graft.operators.Stores
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val all = (0 until 80).map { i =>
      val rnd = new scala.util.Random(i)
      val base = (0 until 10 + i % 5).map(_ => words(rnd.nextInt(words.length)))
      val text =
        if (i % 9 == 0) "m1 m2 m3 m4 m5 m6 " + base.mkString(" ")        // 6-span
        else if (i % 9 == 4) base.mkString(" ") + " m1 m2 m3 m4 m5 m6"
        else if (i % 9 == 2) "h1 h2 h3 h4 h5 " + base.mkString(" ")      // 5-span
        else if (i % 9 == 7) base.mkString(" ") + " h1 h2 h3 h4 h5"
        else base.mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val cat = all.filter($"doc_id" % 2 === 0)
    val delta = all.filter($"doc_id" % 2 === 1)
    val table = "minmatch_gram_store"
    Stores.dropStoreTable(spark, table)
    TextOps.writeGramDfStore(cat, "doc_id", "text", table, k = 4, buckets = 4)
    val fromStore = TextOps.incrementalSpanDedupStripVsStore(spark, table,
        delta, "doc_id", "text", k = 4, minDocs = 2, minMatch = 6)
      .orderBy("doc_id").collect().toSeq
    val full = TextOps.spanDedupStrip(all, "doc_id", "text",
        k = 4, minDocs = 2, minMatch = 6)
      .filter($"doc_id" % 2 === 1).orderBy("doc_id").collect().toSeq
    assert(fromStore.nonEmpty && fromStore == full)
    // the probe really fires: some delta doc stripped a span the
    // catalog store knew about
    assert(fromStore.exists(_.getLong(2) > 0L),
      "expected at least one store-flagged strip in the delta")
    Stores.dropStoreTable(spark, table)
  }

  // ---- q142 exact-rank arm plan shape (r10 verdict item 4) -------------

  test("q142 has no unpartitioned window over corpus-derived values") {
    // totalprice cents are near-unique, so the exact-rank cumsum must
    // use the banded two-level prefix: the only unpartitioned windows
    // allowed are bounded-by-construction relations (≤64 log2 bands,
    // ≤1024 sketch bins) that do NOT carry the value column `v`
    def windowsIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          windowsIn(a.executedPlan)
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
      }.flatten
    val plan = SparkEntry.queries("q142_quantile_sketch")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan
    val windows = windowsIn(plan)
    assert(windows.nonEmpty, "expected window nodes")
    val unpartitionedOverValues = windows.filter(w =>
      w.partitionSpec.isEmpty && w.child.output.exists(_.name == "v"))
    assert(unpartitionedOverValues.isEmpty,
      s"value-carrying unpartitioned window:\n$plan")
    assert(windows.exists(w => w.partitionSpec.nonEmpty),
      s"expected a band-partitioned cumsum window:\n$plan")
  }
}
