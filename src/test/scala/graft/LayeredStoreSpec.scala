package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.operators.Stores

/** Wave-layered stores (r10 verdict item 3): every ingest wave lands
  * as its own `wave=N` partition of a table that is also bucketed on
  * the store key — partition pruning gives as-of reads and surgical
  * rollback, bucketing keeps probes exchange-free, and landing is
  * idempotent (a replayed wave replaces its partition).
  */
class LayeredStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int): DataFrame = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      val rnd = new scala.util.Random(i)
      ((i.toLong,
        (0 until 12 + i % 7).map(_ => words(rnd.nextInt(words.length))).mkString(" ")))
    }.toDF("doc_id", "text")
  }

  private def dropTable(name: String): Unit =
    Stores.dropStoreTable(spark, name)

  private def digests(df: DataFrame): DataFrame =
    df.select(unhex(md5($"text")).as("digest")).distinct()

  test("layered digest store: as-of == rebuild, rollback erases a bad wave, replay replaces") {
    val d = docs(60)
    val waves = (0 to 2).map(i => d.filter($"doc_id" % 3 === i))
    val t = "layer_digest"
    dropTable(t)

    Stores.appendWave(digests(waves(0)), t, 0L, "digest", buckets = 4)
    Stores.appendWave(digests(waves(1)), t, 1L, "digest", buckets = 4)
    // a BAD wave 2 lands (corrupted ingest)...
    Stores.appendWave(
      digests(waves(2).withColumn("text", concat($"text", lit(" CORRUPT")))),
      t, 2L, "digest", buckets = 4)
    assert(Stores.storeWaves(spark, t) == Seq(0L, 1L, 2L))
    // ...and is rolled back before the clean wave re-lands
    Stores.rollbackTo(spark, t, 1L)
    assert(Stores.storeWaves(spark, t) == Seq(0L, 1L))
    Stores.appendWave(digests(waves(2)), t, 2L, "digest", buckets = 4)
    // a crash replay re-lands wave 1: the partition is REPLACED,
    // never duplicated
    Stores.appendWave(digests(waves(1)), t, 1L, "digest", buckets = 4)

    for (n <- 0 to 2) {
      val asOf = Stores.asOf(spark, t, n.toLong).select("digest")
      val rebuilt = waves.take(n + 1).map(digests).reduce(_ unionByName _)
      assert(asOf.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(asOf).isEmpty,
        s"as-of $n must equal a rebuild from waves <= $n")
    }
    // no trace of the bad wave or the replay anywhere
    val total = spark.table(t).count()
    assert(total == waves.map(w => digests(w).count()).sum,
      "rollback + replace must leave exactly the clean rows")
    dropTable(t)
  }

  test("layered audit reads waves from the partition layer, not file counts") {
    val d = docs(45)
    val t = "layer_audit"
    dropTable(t)
    Stores.appendWave(digests(d.filter($"doc_id" % 3 === 0)), t, 0L, "digest", 4)
    Stores.appendWave(digests(d.filter($"doc_id" % 3 === 1)), t, 1L, "digest", 4)
    // wave 1 replayed: a FILE count would claim a third landing; the
    // layer knows there were two waves
    Stores.appendWave(digests(d.filter($"doc_id" % 3 === 1)), t, 1L, "digest", 4)
    val a = Stores.auditLayeredStore(spark, t, "digest", Seq("digest"))
      .as[(String, Long, Long, Long, Long, Long, Boolean)].head()
    assert(a._6 == 2L && !a._7, s"waves from the layer: $a")
    assert(a._4 == 0L, s"idempotent replay leaves no dead rows: $a")
    dropTable(t)
  }

  test("as-of probe against the layered store: partition-pruned, no store-side exchange") {
    val d = docs(120)
    val t = "layer_probe"
    dropTable(t)
    Stores.appendWave(digests(d.filter($"doc_id" % 3 === 0)), t, 0L, "digest", 4)
    Stores.appendWave(digests(d.filter($"doc_id" % 3 === 1)), t, 1L, "digest", 4)
    Stores.appendWave(digests(d.filter($"doc_id" % 3 === 2)), t, 2L, "digest", 4)
    val delta = d.filter($"doc_id" % 5 === 0)
      .select($"doc_id", unhex(md5($"text")).as("digest"))

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the dedup probe as of wave 1: delta rows whose digest was
      // already present in waves 0..1
      val probe = delta.join(Stores.asOf(spark, t, 1L).select("digest"), "digest")
      probe.count()
      val plan = probe.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // store side arrives bucketed: the only exchange allowed in the
      // whole plan is the (small) delta's
      def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] =
        p.collect { case e: ShuffleExchangeLike => e }
      val ex = exchanges(plan)
      assert(ex.size <= 1, s"store side must not shuffle:\n$plan")
      // and the wave <= 1 filter is partition pruning, not a data filter
      val scans = plan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.tableIdentifier.exists(_.table == t) => s
      }
      assert(scans.nonEmpty && scans.head.partitionFilters.mkString.contains("wave"),
        s"wave bound must prune partitions:\n$plan")
      // result correctness: equals the same probe over a rebuilt frame
      val rebuilt = delta.join(
        digests(d.filter($"doc_id" % 3 === 0))
          .unionByName(digests(d.filter($"doc_id" % 3 === 1))), "digest")
      assert(probe.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(probe).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    dropTable(t)
  }

  test("compactWaves folds waves <= horizon; as-of >= horizon and rollback survive") {
    val d = docs(100)
    val waves = (0 to 4).map(i => d.filter($"doc_id" % 5 === i))
    val t = "layer_compact"
    dropTable(t)
    waves.zipWithIndex.foreach { case (w, i) =>
      Stores.appendWave(digests(w), t, i.toLong, "digest", buckets = 4) }
    // pre-compaction as-of snapshots for every wave >= horizon
    val preAsOf = (2 to 4).map(n =>
      Stores.asOf(spark, t, n.toLong).select("digest")
        .as[Array[Byte]].collect().map(_.toSeq).sorted(
          Ordering.Implicits.seqOrdering[Seq, Byte]).toSeq).toSeq
    val preTotal = spark.table(t).count()

    Stores.compactWaves(spark, t, horizon = 2L, "digest", buckets = 4)
    // waves 0,1,2 folded into base wave 2; 3 and 4 untouched
    assert(Stores.storeWaves(spark, t) == Seq(2L, 3L, 4L))
    // row multiset preserved exactly (layout-only fold)
    assert(spark.table(t).count() == preTotal)
    (2 to 4).zip(preAsOf).foreach { case (n, pre) =>
      val post = Stores.asOf(spark, t, n.toLong).select("digest")
        .as[Array[Byte]].collect().map(_.toSeq).sorted(
          Ordering.Implicits.seqOrdering[Seq, Byte]).toSeq
      assert(post == pre, s"as-of $n must be identical across compaction")
    }
    // the audit sees the fold
    val a = Stores.auditLayeredStore(spark, t, "digest", Seq("digest"))
      .as[(String, Long, Long, Long, Long, Long, Boolean)].head()
    assert(a._6 == 3L, s"3 layers after the fold: $a")
    // rollback above the horizon still surgical
    Stores.rollbackTo(spark, t, 3L)
    assert(Stores.storeWaves(spark, t) == Seq(2L, 3L))
    // appends keep working on the compacted store
    Stores.appendWave(digests(waves(4)), t, 5L, "digest", buckets = 4)
    assert(Stores.storeWaves(spark, t) == Seq(2L, 3L, 5L))
    // a horizon covering < 2 waves is a no-op
    Stores.compactWaves(spark, t, horizon = 2L, "digest", buckets = 4)
    assert(Stores.storeWaves(spark, t) == Seq(2L, 3L, 5L))
    dropTable(t)
  }

  test("compactWaves crash recovery: interrupted fold resumes exactly, never bakes duplicates") {
    val d = docs(90)
    val t = "layer_crash"
    val tmp = s"${t}__compact"
    dropTable(t); dropTable(tmp)
    // waves 0, 2, 3 — id 1 deliberately absent, so a fresh landing
    // can use it between the crash and the recovery
    Seq(0, 2, 3).foreach(i =>
      Stores.appendWave(digests(d.filter($"doc_id" % 4 === i)), t,
        i.toLong, "digest", buckets = 4))
    val preRows = spark.table(t).select("digest")
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    val preCount = spark.table(t).count()

    // Simulate a crash AFTER the base re-land but BEFORE the wave
    // drops: replay compactWaves' own steps — committed tmp fold of
    // waves {0, 2} with its recorded properties, base partition
    // replaced — then stop.
    spark.table(t).filter($"wave" <= 2L).drop("wave")
      .repartition(4, $"digest")
      .write.mode("overwrite").bucketBy(4, "digest").sortBy("digest")
      .saveAsTable(tmp)
    spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES (" +
      "'graft.compact.base'='2', 'graft.compact.folded'='0,2')")
    Stores.appendWave(spark.table(tmp), t, 2L, "digest", buckets = 4)
    // crash state: readable, duplicated (wave 0 present AND folded
    // into 2) — duplicate-rather-than-missing semantics
    assert(spark.table(t).count() > preCount)
    // a FRESH wave lands under id 1 — below base, never part of the
    // fold; the recovery must not touch it (a blanket "< base" purge
    // would delete it)
    val extra = digests(d.filter($"doc_id" % 4 === 1)).limit(2)
    val extraRows = extra.as[Array[Byte]].collect().map(_.toSeq).toSet
    Stores.appendWave(extra, t, 1L, "digest", buckets = 4)

    // the next compactWaves call finishes the interrupted fold from
    // tmp first (replaying tmp over base dedupes the crash state and
    // drops ONLY the recorded wave 0), keeps the fresh wave 1, and
    // then the normal path folds {1, 2} at the requested horizon
    Stores.compactWaves(spark, t, horizon = 2L, "digest", buckets = 4)
    assert(Stores.storeWaves(spark, t) == Seq(2L, 3L))
    assert(spark.table(t).count() == preCount + extraRows.size,
      "recovery must restore the exact pre-crash multiset plus the fresh wave")
    val postRows = spark.table(t).select("digest")
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    assert(postRows == (preRows ++ extraRows),
      "recovery must fold the recorded waves and keep everything else")
    assert(!spark.catalog.tableExists(tmp))

    // a tmp WITHOUT the properties is an uncommitted fold: discarded,
    // and the normal fold proceeds from the intact store
    spark.table(t).limit(3).drop("wave").write.mode("overwrite")
      .bucketBy(4, "digest").sortBy("digest").saveAsTable(tmp)
    Stores.compactWaves(spark, t, horizon = 3L, "digest", buckets = 4)
    assert(Stores.storeWaves(spark, t) == Seq(3L))
    val post2 = spark.table(t).select("digest")
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    assert(post2 == (preRows ++ extraRows))
    assert(!spark.catalog.tableExists(tmp))
    dropTable(t)
  }

  test("layered gram-df store: as-of df sums equal a rebuild's") {
    val d = docs(60)
    def gramDf(df: DataFrame): DataFrame = df
      .select($"doc_id", graft.plans.TokenShinglesExpr.token_shingles($"text", 4).as("gs"))
      .select($"doc_id", explode(array_distinct($"gs")).as("g"))
      .select(unhex(md5($"g")).as("dg"))
      .groupBy("dg").agg(count(lit(1)).as("df"))
    val t = "layer_gram"
    dropTable(t)
    (0 to 2).foreach(i =>
      Stores.appendWave(gramDf(d.filter($"doc_id" % 3 === i)), t, i.toLong, "dg", 4))
    // read-side fold as of wave 1 == rebuild over waves 0..1
    val asOf = Stores.asOf(spark, t, 1L).groupBy("dg").agg(sum("df").as("df"))
    val rebuilt = gramDf(d.filter($"doc_id" % 3 === 0))
      .unionByName(gramDf(d.filter($"doc_id" % 3 === 1)))
      .groupBy("dg").agg(sum("df").as("df"))
    assert(asOf.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(asOf).isEmpty)
    dropTable(t)
  }
}
