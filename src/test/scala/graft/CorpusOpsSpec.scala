package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity, TextOps}

/** Round-6 batch two: span-level dedup, BM25, DSIR weights, weighted
  * sampling, SemDeDup. (The DuckDB oracle compare covers the catalog
  * forms end-to-end; these specs pin the operator semantics on small
  * hand-checkable inputs.)
  */
class CorpusOpsSpec extends SparkSpec {

  private def words(n: Int, base: String): String =
    (0 until n).map(i => s"$base$i").mkString(" ")

  test("chunkDedupStats: shared span keeps smallest doc id, tail spans count") {
    import spark.implicits._
    val shared = words(16, "s") // one full 16-token span, identical in docs 1 and 2
    val docs = Seq(
      (1L, shared + " " + words(5, "a")), // spans: shared, tail-a (owned)
      (2L, shared + " " + words(5, "b")), // spans: shared (dup), tail-b (owned)
      (3L, words(7, "c")),                // one short span, owned
      (4L, "   ")                         // tokenizes empty -> excluded
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedupStats(docs, "doc_id", "text", chunkLen = 16)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Seq((1L, 2L, 2L), (2L, 2L, 1L), (3L, 1L, 1L)))
  }

  test("chunkDedupStats: repeated span within one doc counts once and is owned") {
    import spark.implicits._
    val span = words(16, "r")
    val docs = Seq((7L, span + " " + span)).toDF("doc_id", "text")
    val out = Dedup.chunkDedupStats(docs, "doc_id", "text", chunkLen = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Seq((7L, 1L, 1L)))
  }

  test("bm25: rarer term outscores common term at equal tf; no-hit docs drop") {
    import spark.implicits._
    // 'rare' in 1 of 4 docs, 'common' in 3 of 4; doc 1 and 2 have equal
    // length and tf=1 for their term, so idf decides.
    val docs = Seq(
      (1L, "rare x y z"),
      (2L, "common x y z"),
      (3L, "common p q r"),
      (4L, "common p q r x y")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25(docs, "doc_id", "text", Seq("rare", "common"))
      .select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L)) // every doc hits something here
    assert(out(1L) > out(2L))
    // same term, same tf, longer doc scores lower (length normalization)
    assert(out(3L) > out(4L))
    val none = TextOps.bm25(docs.union(Seq((5L, "no hits at all")).toDF("doc_id", "text")),
      "doc_id", "text", Seq("rare")).select("id").collect().map(_.getLong(0))
    assert(none.toSet === Set(1L))
  }

  test("dsirWeights: target-like docs score higher; score is repartition-invariant") {
    import spark.implicits._
    val enText = words(30, "en")
    val deText = words(30, "de")
    val docs = Seq(
      (1L, enText, "en"), (2L, enText, "en"), (3L, enText, "en"),
      (4L, deText, "de"), (5L, deText, "de"),
      (6L, enText, "de") // de-labelled but en-like content: should score like en docs
    ).toDF("doc_id", "text", "lang")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.dsirWeights(df, "doc_id", "text", col("lang") === "en")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out = run(docs)
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(byId(1L) > byId(4L))
    assert(byId(6L) === byId(1L)) // same content, same buckets, same score
    // integer-exact: identical under a different partitioning
    assert(run(docs.repartition(7)).toSeq === out.toSeq)
  }

  test("weightedSample: deterministic, k-bounded, weight-monotone, excludes w<=0") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, if (i % 7 == 0) 0.0 else (i % 13 + 1).toDouble))
      .toDF("id", "w")
    val s1 = Sampling.weightedSample(df, "id", "w", k = 50).select("id")
      .collect().map(_.getLong(0)).toSeq
    val s2 = Sampling.weightedSample(df.repartition(11), "id", "w", k = 50).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(s1.length === 50)
    assert(s1.sorted === s2.sorted) // derandomized: stable under repartition
    assert(s1.forall(_ % 7 != 0))  // zero-weight rows never sampled
    // key matches the scalar reimplementation => truly ES-ranked
    def key(id: Long, w: Double): Long = {
      val u = ((id % 2147483648L) * 1103515245L + 12345L) % 2147483648L
      math.floor(math.log((u.toDouble + 0.5) / 2147483648.0) / w * 1e9).toLong
    }
    val expect = (1L to 500L).filter(_ % 7 != 0)
      .map(i => (i, key(i, (i % 13 + 1).toDouble)))
      .sortBy { case (i, k0) => (-k0, i) }.take(50).map(_._1)
    assert(s1.sorted === expect.sorted)
  }

  test("weightedSample plans a top-k (TakeOrderedAndProject), not a global sort") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, 1.0)).toDF("id", "w")
    val plan = Sampling.weightedSample(df, "id", "w", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("hashBucketCentroids: deterministic bucket means; empty buckets drop out") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 3.0f)), (4L, Seq(3.0f, 5.0f)), // ids ≡ 0 (mod 4) -> mean (2, 4)
      (1L, Seq(10.0f, 0.0f))                        // bucket 1
    ).toDF("vec_id", "embedding")
    val cents = Similarity.hashBucketCentroids(emb, k = 4)
      .orderBy("list_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(cents.map(_._1).toSeq === Seq(0L, 1L)) // buckets 2,3 empty -> absent
    assert(cents(0)._2 === Seq(2.0, 4.0))
    assert(cents(1)._2 === Seq(10.0, 0.0))
    // identical content always dedups under ANY centroid set: assignment
    // is by content, so equal vectors share a cluster regardless of k
    val dup = Seq((10L, Seq(1.0f, 1.0f)), (20L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val seeded = Similarity.hashBucketCentroids(dup, k = 3)
      .select(col("list_id").cast("long"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val flags = Similarity.semDedupFlags(dup, seeded, tau = 0.99)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(flags === Seq((10L, true), (20L, false)))
  }

  test("semDedupFlags: near-identical pair drops larger id; distant vectors keep") {
    import spark.implicits._
    val cents = Seq(0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0))
    val emb = Seq(
      (1L, Seq(1.0f, 0.05f)),  // cluster 0
      (2L, Seq(1.0f, 0.06f)),  // cluster 0, ~identical to 1 -> dropped
      (3L, Seq(0.05f, 1.0f)),  // cluster 1
      (4L, Seq(-1.0f, 0.2f))   // cluster 1 (nearest by cosine), far from 3 -> kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedupFlags(emb, cents, tau = 0.95)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out === Seq((1L, 0L, true), (2L, 0L, false), (3L, 1L, true), (4L, 1L, true)))
  }

  test("lineDedupStrip: df-threshold chunks strip everywhere, partial tails count, uniques keep") {
    import spark.implicits._
    import graft.operators.TextOps
    val bp = words(4, "boiler") // one full 4-token line
    val docs = Seq(
      (1L, s"$bp ${words(4, "one")}"),   // bp + unique line
      (2L, s"$bp ${words(4, "two")}"),   // bp + unique line
      (3L, s"${words(4, "thr")} $bp"),   // bp as SECOND line
      (4L, s"${words(4, "four")} extra"),// unique + partial tail (1 token)
      (5L, "")                           // empty doc
    ).toDF("doc_id", "text")
    val out = TextOps.lineDedupStrip(docs, "doc_id", "text",
        lineTokens = 4, dfThreshold = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) == ((1L, words(4, "one"), 1L)))
    assert(out(1) == ((2L, words(4, "two"), 1L)))
    assert(out(2) == ((3L, words(4, "thr"), 1L)))
    assert(out(3) == ((4L, s"${words(4, "four")} extra", 0L)))
    assert(out(4) == ((5L, "", 0L)))
    // df = 2 stays below a threshold of 3: nothing stripped
    val below = TextOps.lineDedupStrip(
      docs.filter($"doc_id" <= 2), "doc_id", "text",
      lineTokens = 4, dfThreshold = 3)
    assert(below.agg(org.apache.spark.sql.functions.sum("n_removed"))
      .head().getLong(0) === 0L)
    // a repeated PARTIAL tail is a line too once it crosses df
    val tails = Seq(
      (1L, s"${words(4, "a")} common tail"),
      (2L, s"${words(4, "b")} common tail"),
      (3L, s"${words(4, "c")} common tail")
    ).toDF("doc_id", "text")
    val t = TextOps.lineDedupStrip(tails, "doc_id", "text",
        lineTokens = 4, dfThreshold = 3)
      .orderBy("doc_id").collect()
    assert(t.forall(_.getLong(2) == 1L) &&
      t(0).getString(1) == words(4, "a"))
  }

  test("winnowedFingerprints: density guarantee, rightmost tie-break, short-doc window") {
    import spark.implicits._
    // two docs sharing a w+k-1 = 7-token run at DIFFERENT offsets: the
    // winnowing guarantee says at least one fingerprint must be shared
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, s"one two three $shared"),
      (2L, s"$shared nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowedFingerprints(docs, "doc_id", "text", k = 4, w = 4)
    val pairs = TextOps
      .winnowedCandidatePairs(fps, "doc_id", minShared = 1, maxDf = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
    // all-identical grams: every window ties; the RIGHTMOST position
    // wins, so windows 0..3 over 7 grams select positions 3..6
    val rep = Seq((9L, Seq.fill(10)("tok").mkString(" "))).toDF("doc_id", "text")
    val sel = TextOps.winnowedFingerprints(rep, "doc_id", "text", k = 4, w = 4)
      .select("pos").as[Long].collect().toSet
    assert(sel == (3L to 6L).toSet)
    // fewer than w grams: the whole doc winnows as one window
    val short = Seq((5L, "a b c d e")).toDF("doc_id", "text")
    assert(TextOps.winnowedFingerprints(short, "doc_id", "text",
      k = 4, w = 4).count() == 1L)
  }

  test("winnowedCandidatePairs: df cap drops boilerplate digests before the join") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog end"
    def clones(n: Int) = (1L to n.toLong).map((_, text)).toDF("doc_id", "text")
    // 10 identical docs: every fingerprint digest has df 10 > cap 8 —
    // dropped before the self-join, zero candidate pairs
    val fps10 = TextOps.winnowedFingerprints(clones(10), "doc_id", "text",
      k = 4, w = 4)
    assert(TextOps.winnowedCandidatePairs(fps10, "doc_id",
      minShared = 1, maxDf = 8).count() == 0L)
    // 5 identical docs sit under the cap: all C(5,2) pairs surface
    val fps5 = TextOps.winnowedFingerprints(clones(5), "doc_id", "text",
      k = 4, w = 4)
    assert(TextOps.winnowedCandidatePairs(fps5, "doc_id",
      minShared = 1, maxDf = 8).count() == 10L)
  }

  test("winnowedCrossPairs: store probe ≡ full recompute on cross pairs") {
    import spark.implicits._
    val catalog = Seq(
      (1L, "the winnow scheme selects minimum digests from sliding windows reliably"),
      (2L, "completely different content about spark partitions and shuffles here"),
      (4L, "yet another unrelated document with its own words entirely")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (3L, "prefix edit the winnow scheme selects minimum digests from sliding windows reliably"),
      (6L, "nothing in common with anything else in this tiny corpus")
    ).toDF("doc_id", "text")
    val table = "graft_test_winnow_store"
    graft.operators.Stores.dropStoreTable(spark, table)
    TextOps.writeWinnowStore(catalog, "doc_id", "text", table,
      k = 4, w = 4, buckets = 2)
    val deltaFps = TextOps.winnowedFingerprints(delta, "doc_id", "text",
      k = 4, w = 4)
    val probe = TextOps.winnowedCrossPairs(spark.table(table), deltaFps,
        minShared = 1, maxDf = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(probe.keySet == Set((1L, 3L)))
    // winnowing is per-doc and the df cap sums across both sides, so
    // the full recompute over the union must agree pair AND weight
    val full = TextOps.winnowedCandidatePairs(
        TextOps.winnowedFingerprints(catalog.unionByName(delta),
          "doc_id", "text", k = 4, w = 4),
        "doc_id", minShared = 1, maxDf = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(full((1L, 3L)) == probe((1L, 3L)))
    graft.operators.Stores.dropStoreTable(spark, table)
  }

  test("winnowedAdmissionPairs: a re-delivered id votes once and never pairs itself") {
    import spark.implicits._
    // doc 5 sits in the catalog AND is re-delivered in the delta with
    // the same digests; doc 9 shares exactly 2 digests with it. Without
    // (pair, digest) dedup the two legs would count 4 shared digests
    // and pass minShared = 3 for a below-threshold pair.
    val cat = Seq((5L, "A"), (5L, "B")).toDF("doc_id", "dg")
    val dlt = Seq((5L, "A"), (5L, "B"), (9L, "A"), (9L, "B"), (9L, "C"))
      .toDF("doc_id", "dg")
    val strict = TextOps.winnowedAdmissionPairs(cat, dlt, minShared = 3, maxDf = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(strict.isEmpty,
      s"2 truly-shared digests must not pass minShared = 3: $strict")
    val loose = TextOps.winnowedAdmissionPairs(cat, dlt, minShared = 2, maxDf = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(loose == Set((5L, 9L, 2L)),
      s"one pair, counted once, never (5,5): $loose")
  }
}
