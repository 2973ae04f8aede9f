package graft

import org.apache.spark.sql.functions._

import graft.operators.Salting

/** Scale levers: salting preserves semantics. */
class ScaleOpsSpec extends SparkSpec {

  private lazy val skewed = {
    import spark.implicits._
    // hot key: 90% of rows share key 1
    (1 to 1000).map(i => (if (i <= 900) 1L else (i % 50).toLong, i.toDouble))
      .toDF("k", "v")
  }

  test("salted aggregation equals plain aggregation") {
    val plain = skewed.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val salted = Salting.saltedAggregate(skewed, Seq("k"), buckets = 8,
      partialAggs = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
      finalAggs = Seq(sum("ps").as("s"), sum("pn").as("n")))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(salted.toSeq === plain.toSeq)
  }

  test("salted join equals plain join (inner and left)") {
    import spark.implicits._
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "label")
    for (jt <- Seq("inner", "left")) {
      val plain = skewed.join(dim, Seq("k"), jt)
        .groupBy("k").agg(count(lit(1)).as("n"), count(col("label")).as("nl"))
        .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val salted = Salting.saltedJoin(skewed, dim, Seq("k"), buckets = 4, joinType = jt)
        .groupBy("k").agg(count(lit(1)).as("n"), count(col("label")).as("nl"))
        .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(salted.toSeq === plain.toSeq, s"join type $jt")
    }
  }

  test("AQE coalesces oversized shuffle partitioning at runtime") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64") // absurd for 1k rows
    try {
      val agg = skewed.groupBy("k").count()
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
        s"adaptive plan should coalesce the 64-way shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("approx_count_distinct stays within HLL++ error bounds of exact") {
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct, col}
    val li = graft.engine.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val r = li.agg(
      approx_count_distinct(col("l_partkey")).as("approx"),
      countDistinct(col("l_partkey")).as("exact")).collect()(0)
    val (approx, exact) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.1,
      s"approx=$approx exact=$exact (default rsd 0.05)")
  }

  test("tfidf df join: no static hint, AQE broadcasts the small vocabulary at runtime") {
    val q = graft.SparkEntry.queries("q39_tfidf_top_term")(spark, "/root/testdata/sf0.001")
    assert(q.count() === 500)
    // the vocabulary fits here, so the adaptive plan must have picked a
    // broadcast join for the df side — at scale the same code degrades
    // to sort-merge instead of failing a forced broadcast
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected AQE broadcast in:\n$plan")
  }

  test("tfidf top term: one window pass, no sort-merge join, scored table computed once") {
    // the measured-winner shape (see DocQueries q39 comment): the
    // ranking window is one exchange + partition-local sort over a
    // SINGLE tf⋈df evaluation. The sort-free two-agg rewrite was
    // measured slower at sf0.1/10×/100× because it recomputes the
    // scored table; this spec pins the winner's plan properties so a
    // refactor can't silently reintroduce either a second Window pass
    // or a sort-merge join.
    val q = graft.SparkEntry.queries("q39_tfidf_top_term")(spark, "/root/testdata/sf0.001")
    q.collect()
    // assert on the executed Final Plan section only (the adaptive
    // toString appends the pre-AQE Initial Plan)
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.linesIterator.count(_.contains("Window [")) === 1,
      s"exactly one window pass expected in q39:\n$plan")
    // rank-limit pushdown is a load-bearing part of why this shape
    // wins: WindowGroupLimit drops every non-top row map-side (Partial)
    // before the shuffle, so the exchanged and sorted volume is ~one
    // row per (partition, doc), not the full term table
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown must be active in q39:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no SortMergeJoin may appear in q39:\n$plan")
    assert(!plan.contains("SortAggregate"), s"no SortAggregate may appear in q39:\n$plan")
  }

  test("count-min-sketch heavy hitters: one-sided error within the eps bound") {
    val sfDir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q73_cms_heavy_hitters")(spark, sfDir).collect()
    assert(out.length === 10)
    // the query now carries the CMS contract as its checked column
    // (estimate >= exact AND overcount <= ceil(eps*N)); every heavy
    // hitter must satisfy it on the gate corpus
    out.foreach { r =>
      assert(r.getBoolean(2), s"${r.getString(0)}: CMS eps-bound contract violated")
    }
    // independent re-derivation of the raw estimates: rebuild the
    // sketch and probe it directly, asserting the one-sided bound with
    // the real token-stream length (keeps the accuracy check alive now
    // that the query output is the boolean contract)
    val toks = graft.engine.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
    val streamLen = toks.count()
    val sketch = toks.agg(count_min_sketch(col("tok"), lit(0.001), lit(0.99), lit(42)).as("cms"))
    val probed = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(10)
      .crossJoin(broadcast(sketch))
      .withColumn("cms_n", graft.plans.CmsEstimateExpr.cms_estimate(col("cms"), col("tok")))
      .collect()
    probed.foreach { r =>
      val (exact, cms) = (r.getLong(1), r.getLong(3))
      assert(cms >= exact, s"${r.getString(0)}: cms $cms < exact $exact")
      assert(cms - exact <= (0.001 * streamLen).toLong,
        s"${r.getString(0)}: overcount ${cms - exact} above eps*N = ${(0.001 * streamLen).toLong}")
    }
  }

  test("q43 IVF probe boundary keeps a safe FP margin on the gate data") {
    // the q43 oracle's engine-stability rests on the crn=3/crn=4
    // centroid-cosine gap dwarfing avg() summation noise (~1e-13,
    // unpinned order on both engines). That margin is a DATA property:
    // regenerated or rescaled gate corpora could erode it and flake
    // the hash compare with no code change. Enforce it here so a data
    // change fails loudly as a data problem (ADVICE r4). Driver-side
    // replica of the centroid/probe math; measured gap ≥ 2.4e-4, gate
    // epsilon 1e-5 leaves 8 orders above the noise floor.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val rows = graft.engine.Tables.embeddings(spark, dir)
        .select(col("vec_id").cast("long"), col("label").cast("long"),
          col("embedding")).collect()
      val byLabel = rows.groupBy(_.getLong(1))
      val centroids = byLabel.map { case (lab, rs) =>
        val vecs = rs.map(_.getSeq[Float](2).map(_.toDouble).toArray)
        lab -> vecs.transpose.map(xs => xs.sum / xs.length)
      }
      assume(centroids.size > 3, s"need >3 lists for an nprobe=3 boundary in $dir")
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val minGap = rows.filter(_.getLong(0) < 10).map { q =>
        val qv = q.getSeq[Float](2).map(_.toDouble).toArray
        val ranked = centroids.toSeq
          .map { case (lab, c) => (cos(qv, c), lab) }
          .sortBy { case (s, lab) => (-s, lab) }
        ranked(2)._1 - ranked(3)._1
      }.min
      assert(minGap >= 1e-5,
        s"$dir: probe-boundary centroid-cosine gap $minGap below safe epsilon " +
          "1e-5 — the q43 oracle is no longer engine-stable on this data; " +
          "fix the DATA (or retune nprobe), not the query")
    }
  }

  test("decontamination joins the corpus against a BROADCAST benchmark shingle set") {
    // the benchmark side is small by definition; broadcasting it means
    // the corpus's exploded shingles are never shuffled — the only
    // formulation that survives a 100 TB corpus
    val q = graft.SparkEntry.queries("q68_decontaminate")(spark, "/root/testdata/sf0.001")
    assert(q.count() > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    // deterministic sampling is a pure filter — no shuffle at all before the sort
    val s = graft.SparkEntry.queries("q69_hash_sample")(spark, "/root/testdata/sf0.001")
    assert(s.count() > 0)
    // and its scan is pruned to the two output columns: the text payload
    // (the bulk of the bytes at 100 TB) is never read
    val scan = s.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("doc_id") && scan.contains("lang") && !scan.contains("text"),
      s"expected text-free pruned scan, got: $scan")
  }
}
