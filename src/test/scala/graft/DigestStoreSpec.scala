package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** Bucketed persisted digest stores — the r7 verdict's q96/q98/q99
  * fix: the delta-maintenance family must not re-shuffle or re-sort
  * the catalog-sized digest store on every run. Differential specs pin
  * store-variant output == inline-variant output; plan specs pin the
  * scale claim itself — ZERO exchanges and ZERO sorts on the store
  * side of each join (the store arrives bucketed on the join key with
  * one sorted file per bucket, so Spark trusts the on-disk order).
  */
class DigestStoreSpec extends SparkSpec {

  private def docs(n: Int): DataFrame = {
    import spark.implicits._
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      val rnd = new scala.util.Random(i)
      val base = (0 until 12 + i % 7).map(_ => words(rnd.nextInt(words.length)))
      // plant containment: every 10th doc embeds doc i-2's text
      // (i-2 keeps the pair in the SAME parity → same lang block)
      val text =
        if (i % 10 == 0 && i > 1) base.mkString(" ") + " " + mkText(i - 2)
        else base.mkString(" ")
      (i.toLong, if (i % 2 == 0) "en" else "de", text)
    }.toDF("doc_id", "lang", "text")
  }
  private def mkText(i: Int): String = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(i)
    (0 until 12 + i % 7).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
  }

  /** Drop a managed table AND its warehouse directory — a crashed
    * earlier run can leave the location behind with no table
    * registered, which fails the next CREATE with
    * LOCATION_ALREADY_EXISTS. */
  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val dir = new java.io.File(wh, name)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  /** Strip AQE wrappers so collect() sees the real operators. */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Enable on-disk bucket-sort propagation for a block: Spark gates
    * it behind a conf (it lists files at planning time to prove one
    * file per bucket) — the store writers guarantee that layout via
    * the pre-write repartition, and a session doing repeated
    * delta-maintenance runs should turn this on (one file listing per
    * plan vs re-sorting the corpus-sized store per run).
    */
  private def withBucketOrdering[T](body: => T): T = {
    val k = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "true")
    try body finally spark.conf.set(k, prev)
  }

  /** The child subtree of `j` that scans the bucketed store table. */
  private def storeSide(j: SparkPlan, table: String): SparkPlan =
    j.children.find(_.collectLeaves().exists {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.bucketSpec.nonEmpty && s.tableIdentifier.exists(_.table == table)
      case _ => false
    }).getOrElse(fail(s"no child of join scans bucketed table '$table':\n$j"))

  test("containmentPairsFromStore matches the inline form (differential)") {
    val d = docs(300)
    val table = "cont_store_diff"
    dropTable(table); dropTable(s"${table}_meta")
    TextOps.writeContainmentStore(d, "doc_id", "text", table,
      n = 3, blockCols = Seq("lang"), buckets = 8)
    val inline = TextOps.containmentPairs(d, "doc_id", "text",
      n = 3, blockCols = Seq("lang"), minContainment = 0.8)
      .orderBy("id1", "id2").collect().toSeq
    val stored = TextOps.containmentPairsFromStore(spark, table,
      blockCols = Seq("lang"), minContainment = 0.8)
      .orderBy("id1", "id2").collect().toSeq
    assert(inline.nonEmpty, "fixture must plant containment pairs")
    assert(stored === inline)
    dropTable(table); dropTable(s"${table}_meta")
  }

  test("containment store self-join plans with NO exchange and NO sort on either side") {
    val d = docs(200)
    val table = "cont_store_plan"
    dropTable(table); dropTable(s"${table}_meta")
    TextOps.writeContainmentStore(d, "doc_id", "text", table, n = 3, buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the joins take their at-scale (non-broadcast)
    // shape — at 100 TB nothing here fits in a broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withBucketOrdering {
      val df = TextOps.containmentPairsFromStore(spark, table)
      df.count() // materialize so AQE finalizes the plan
      val plan = physical(df)
      val selfJoins = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("d#")) &&
             j.condition.exists(_.toString.contains("<")) => j
      }
      assert(selfJoins.nonEmpty, s"expected the digest self-join as SMJ:\n$plan")
      // BOTH sides of the pair self-join come from the store: neither
      // may shuffle OR sort — the bucketed layout provides the
      // partitioning, the on-disk bucket sort provides the order, and
      // the df-cap (broadcast anti against the hot blacklist) and the
      // df-count aggregate both preserve them
      selfJoins.foreach { j =>
        val bad = j.children.flatMap(_.collect {
          case e: ShuffleExchangeLike => e.getClass.getSimpleName
          case s: SortExec => s.getClass.getSimpleName
        })
        assert(bad.isEmpty,
          s"store self-join must be exchange-free AND sort-free, found $bad in:\n$j")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      dropTable(table); dropTable(s"${table}_meta")
    }
  }

  test("incrementalExactVsStore matches incrementalExact, and append maintains the store") {
    import spark.implicits._
    val all = docs(400)
    val catalog = all.filter(col("doc_id") % 10 < 7)
    val delta = all.filter(col("doc_id") % 10 >= 7)
      // plant exact dups: two delta rows copy catalog text, two copy
      // each other
      .union(Seq(
        (9001L, "en", mkText(0)), (9002L, "de", mkText(1)),
        (9003L, "en", "twin text here"), (9004L, "en", "twin text here"))
        .toDF("doc_id", "lang", "text"))
    val table = "inc_digest_store"
    dropTable(table)
    Dedup.writeDigestStore(catalog, "text", table, buckets = 8)

    val inline = Dedup.incrementalExact(catalog, delta, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val stored = Dedup.incrementalExactVsStore(spark, table, delta, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(stored === inline)
    assert(!stored.exists(r => Seq(9001L, 9002L, 9004L).contains(r.getLong(0))),
      "catalog dups and the later twin must be dropped")
    assert(stored.exists(_.getLong(0) == 9003L), "first twin survives")

    // maintenance: append the accepted delta's digests, then a re-run
    // of the SAME delta must admit nothing (all digests now known)
    Dedup.appendToDigestStore(
      Dedup.incrementalExactVsStore(spark, table, delta, "doc_id", "text"),
      "text", table, buckets = 8)
    assert(Dedup.incrementalExactVsStore(spark, table, delta, "doc_id", "text")
      .count() === 0)
    dropTable(table)
  }

  test("incremental anti-join and novelty probe plan with NO exchange on the store side") {
    val all = docs(300)
    val catalog = all.filter(col("doc_id") % 10 < 7)
    val delta = all.filter(col("doc_id") % 10 >= 7)
    val dTable = "plan_digest_store"
    val sTable = "plan_shingle_store"
    dropTable(dTable); dropTable(sTable)
    Dedup.writeDigestStore(catalog, "text", dTable, buckets = 8)
    TextOps.writeShingleDigestStore(catalog, "text", sTable, n = 3, buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withBucketOrdering {
      for ((df, what, table) <- Seq(
        (Dedup.incrementalExactVsStore(spark, dTable, delta, "doc_id", "text"),
          "anti", dTable),
        (TextOps.noveltyVsStore(spark, sTable, delta, "doc_id", "text"),
          "novelty", sTable))) {
        df.count()
        val plan = physical(df)
        // the join's STORE side must reach it without ShuffleExchange
        // (bucketing provides the partitioning) and without SortExec
        // (the on-disk bucket sort provides the order) — the delta
        // side may shuffle and sort, it is delta-sized
        val joins = plan.collect {
          case j: SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }.filter(_.collectLeaves().exists {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.tableIdentifier.exists(_.table == table)
          case _ => false
        })
        assert(joins.nonEmpty, s"[$what] expected a shuffled join over the store:\n$plan")
        joins.foreach { j =>
          val side = storeSide(j, table)
          val bad = side.collect {
            case e: ShuffleExchangeLike => e.getClass.getSimpleName
            case s: SortExec => s.getClass.getSimpleName
          }
          assert(bad.isEmpty,
            s"[$what] store side must be exchange- and sort-free, found $bad in:\n$side")
        }
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      dropTable(dTable); dropTable(sTable)
    }
  }

  test("incrementalNearDupCandidates equals the delta-touching subset of the full recompute") {
    import spark.implicits._
    val all = docs(300)
    val catalog = all.filter(col("doc_id") % 10 < 7)
    // delta: new docs + exact dups of catalog docs + a delta-internal twin pair
    val delta = all.filter(col("doc_id") % 10 >= 7)
      .union(Seq(
        (9001L, "en", mkText(0)), (9002L, "de", mkText(10)),
        (9003L, "en", "twin text here we go again"),
        (9004L, "en", "twin text here we go again"))
        .toDF("doc_id", "lang", "text"))
    val inline = Dedup.incrementalNearDupCandidates(catalog, delta,
        "doc_id", "text", bands = 8, rowsPerBand = 4)
      .orderBy("id1", "id2").collect().toSeq
    assert(inline.nonEmpty, "fixture must plant near-dup pairs")
    val deltaIds = delta.select("doc_id").as[Long].collect().toSet
    val full = Dedup.minHashCandidates(catalog.unionByName(delta),
        "doc_id", "text", bands = 8, rowsPerBand = 4)
      .filter(col("id1").isin(deltaIds.toSeq: _*) ||
        col("id2").isin(deltaIds.toSeq: _*))
      .orderBy("id1", "id2").collect().toSeq
    assert(inline === full)
    // planted pairs are found
    val pairs = inline.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9001L)) && pairs.contains((10L, 9002L)) &&
      pairs.contains((9003L, 9004L)))
  }

  test("compactBandStore removes replayed duplicates and keeps the bucketed layout") {
    val all = docs(30)
    val table = "neardup_compact_store"
    dropTable(table); dropTable(s"${table}__compact")
    Dedup.writeBandStore(all, "doc_id", "text", table,
      bands = 8, rowsPerBand = 4, buckets = 8)
    val clean = spark.table(table).collect().toSet
    // simulate an at-least-once replayed append: same rows twice
    val extra = all.filter(col("doc_id") < 5)
    Dedup.appendToBandStore(extra, "doc_id", "text", table,
      bands = 8, rowsPerBand = 4, buckets = 8)
    Dedup.appendToBandStore(extra, "doc_id", "text", table,
      bands = 8, rowsPerBand = 4, buckets = 8)
    assert(spark.table(table).count() > clean.size)

    Dedup.compactBandStore(spark, table, buckets = 8)
    val compacted = spark.table(table).collect()
    assert(compacted.length === clean.size,
      "distinct rewrite must restore the clean row count")
    assert(compacted.toSet === clean, "compaction must keep the store's content")
    // layout preserved: still bucketed on band_key
    val cat = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    assert(cat.bucketSpec.exists(b =>
      b.numBuckets === 8 && b.bucketColumnNames === Seq("band_key")))
    dropTable(table)
  }

  test("incremental span-dedup vs gram-df store: equals full recompute, appends add, store exchange-free") {
    import spark.implicits._
    // shared 10-token phrase planted at DIFFERENT offsets across both
    // catalog waves and the delta, so flagged windows need cross-set
    // distinct-doc counts
    val phrase = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    val all = (0 until 60).map { i =>
      val filler = (0 until 12).map(j => s"w${i}_$j").mkString(" ")
      val text = i % 4 match {
        case 0 => s"$phrase $filler"
        case 1 => s"$filler $phrase"
        case _ => filler
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val wave1 = all.filter(col("doc_id") % 3 === 1)
    val wave2 = all.filter(col("doc_id") % 3 === 2)
    val delta = all.filter(col("doc_id") % 3 === 0)
    val catalog = wave1.unionByName(wave2)
    // ground truth: FULL recompute over catalog ∪ delta, delta rows only
    val full = TextOps.spanDedupStrip(all, "doc_id", "text", k = 8, minDocs = 2)
      .filter(col("doc_id") % 3 === 0).orderBy("doc_id").collect().toSeq
    val inline = TextOps.incrementalSpanDedupStrip(
        TextOps.gramDf(catalog, "doc_id", "text", k = 8), delta,
        "doc_id", "text", k = 8, minDocs = 2)
      .orderBy("doc_id").collect().toSeq
    assert(inline === full)
    assert(full.exists(_.getLong(2) > 0), "fixture must strip something")
    // store built as wave1 + APPENDED wave2: per-wave counts must add
    val table = "gramdf_store_test"
    dropTable(table)
    TextOps.writeGramDfStore(wave1, "doc_id", "text", table, k = 8, buckets = 8)
    TextOps.appendToGramDfStore(wave2, "doc_id", "text", table, k = 8, buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withBucketOrdering {
      val stored = TextOps.incrementalSpanDedupStripVsStore(spark, table,
        delta, "doc_id", "text", k = 8, minDocs = 2)
      assert(stored.orderBy("doc_id").collect().toSeq === full)
      // pure store lineage (the bucketed (dg, df) scan through its sum
      // aggregate into the flag join) must never be shuffle-exchanged;
      // the bucket layout supplies the dg partitioning
      val plan = physical(stored)
      def isStoreScan(p: SparkPlan): Boolean = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.tableIdentifier.exists(_.table == table)
        case _ => false
      }
      val bad = plan.collect {
        case e: ShuffleExchangeLike
          if e.collectLeaves().forall(isStoreScan) => e.getClass.getSimpleName
      }
      assert(bad.isEmpty,
        s"store lineage must not be exchanged, found $bad in:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      dropTable(table)
    }
  }

  test("noveltyVsStore matches noveltyVsCatalog (differential)") {
    val all = docs(300)
    val catalog = all.filter(col("doc_id") % 10 < 7)
    val delta = all.filter(col("doc_id") % 10 >= 7)
    val table = "novelty_store_diff"
    dropTable(table)
    TextOps.writeShingleDigestStore(catalog, "text", table, n = 3, buckets = 8)
    val inline = TextOps.noveltyVsCatalog(catalog, delta, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val stored = TextOps.noveltyVsStore(spark, table, delta, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(inline.nonEmpty)
    assert(stored === inline)
    dropTable(table)
  }

  test("store lifecycle audit: waves from layout, dead weight from keys, compaction folds both") {
    import spark.implicits._
    import graft.operators.Stores
    val d = docs(60)
    val cat = d.filter($"doc_id" % 3 === 0)
    val w1 = d.filter($"doc_id" % 3 === 1)
    val table = "audit_digest"
    dropTable(table)
    Dedup.writeDigestStore(cat, "text", table, buckets = 4)
    Dedup.appendToDigestStore(w1, "text", table, buckets = 4)
    Dedup.appendToDigestStore(w1, "text", table, buckets = 4) // crash replay
    val before = Stores.auditStore(spark, table, "digest", Seq("digest"))
      .as[(String, Long, Long, Long, Long, Long, Boolean)].head()
    assert(before._2 == 60L && before._3 == 40L && before._4 == 20L,
      s"20+20+20 rows, 40 distinct: $before")
    assert(before._5 == 333333L, s"dead_e6 = 20e6 div 60: $before")
    assert(before._6 == 3L && !before._7, s"3 landed waves, uncompacted: $before")
    val layoutBefore = Stores.layoutAudit(spark, table, "digest")
      .as[(String, Long, Long, Long, Boolean, Long)].head()
    assert(layoutBefore._4 == 3L && !layoutBefore._5)

    Thread.sleep(20) // so the compaction's mtime strictly advances
    Stores.compactDigestStore(spark, table, buckets = 4)
    val after = Stores.auditStore(spark, table, "digest", Seq("digest"))
      .as[(String, Long, Long, Long, Long, Long, Boolean)].head()
    assert(after == (("digest", 40L, 40L, 0L, 0L, 1L, true)), s"compacted: $after")
    val layoutAfter = Stores.layoutAudit(spark, table, "digest")
      .as[(String, Long, Long, Long, Boolean, Long)].head()
    assert(layoutAfter._4 == 1L && layoutAfter._5 &&
      layoutAfter._6 > layoutBefore._6, "compaction rewrote newer files")
    dropTable(table)
  }

  test("waveGaps flags missing batch landings in a batch_id store") {
    import graft.operators.Stores
    val dir = tmpDir("wave_gaps")
    Seq(0L, 1L, 3L, 4L).foreach { b =>
      val d = new java.io.File(dir, s"batch_id=$b"); d.mkdirs(); ()
    }
    val r = Stores.waveGaps(spark, dir).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 0L && r.getLong(2) == 4L)
    assert(r.getSeq[Long](3) == Seq(2L), s"batch 2 is missing: $r")
    val empty = Stores.waveGaps(spark, tmpDir("wave_gaps_empty")).collect()(0)
    assert(empty.getLong(0) == 0L && empty.getSeq[Long](3).isEmpty)
  }

  test("store metadata ops run through Hadoop FileSystem, not java.io.File") {
    import graft.operators.Stores
    // An explicit file: URI (which java.io.File would mangle) lists fine.
    val dir = tmpDir("wave_gaps_uri")
    Seq(0L, 2L).foreach { b =>
      val d = new java.io.File(dir, s"batch_id=$b"); d.mkdirs(); ()
    }
    val r = Stores.waveGaps(spark, "file:" + dir).collect()(0)
    assert(r.getLong(0) == 2L && r.getSeq[Long](3) == Seq(1L), s"via file: URI: $r")
    // A scheme Hadoop cannot serve THROWS — it must never silently
    // audit waves=0 (the r10-verdict HDFS/S3 failure mode).
    intercept[Exception] {
      Stores.waveGaps(spark, "nosuchscheme://host/stores/x").collect()
    }
  }

  test("waveGaps fails fast on a corrupted batch_id instead of enumerating billions") {
    import graft.operators.Stores
    val dir = tmpDir("wave_gaps_corrupt")
    Seq(0L, 1L, 999999999999L).foreach { b =>
      val d = new java.io.File(dir, s"batch_id=$b"); d.mkdirs(); ()
    }
    val e = intercept[IllegalArgumentException] {
      Stores.waveGaps(spark, dir).collect()
    }
    assert(e.getMessage.contains("missing batch ids"), e.getMessage)
  }

  test("dropStoreTable resolves the CATALOG location (custom LOCATION, mixed case)") {
    import spark.implicits._
    import graft.operators.Stores
    val custom = new java.io.File(tmpDir("custom_loc"), "ext_store")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.option("path", custom.getAbsolutePath).saveAsTable("CustomLocStore")
    assert(custom.exists(), "external table wrote to its custom location")
    Stores.dropStoreTable(spark, "CustomLocStore")
    assert(!spark.catalog.tableExists("CustomLocStore"))
    assert(!custom.exists(), "dropStoreTable must delete the CATALOG location, " +
      "not warehouse_dir + lowercase(name)")
  }

  test("compactGramDfStore FOLDS per-wave df rows; probe results unchanged") {
    import spark.implicits._
    import graft.operators.Stores
    val d = docs(60)
    val cat = d.filter($"doc_id" % 3 === 0)
    val delta = d.filter($"doc_id" % 3 === 1)
      .select(($"doc_id" + 1000L).as("doc_id"), $"text")
    val table = "audit_gram"
    dropTable(table)
    TextOps.writeGramDfStore(cat, "doc_id", "text", table, k = 4, buckets = 4)
    TextOps.appendToGramDfStore(
      d.filter($"doc_id" % 3 === 2), "doc_id", "text", table, k = 4, buckets = 4)
    val strippedBefore = TextOps.incrementalSpanDedupStrip(spark.table(table),
        delta, "doc_id", "text", k = 4, minDocs = 2)
      .orderBy("doc_id").collect().toSeq
    Stores.compactGramDfStore(spark, table, buckets = 4)
    // folding sums df per dg — a distinct would have dropped legitimate
    // second-wave counts and changed probe flags
    val audit = Stores.auditStore(spark, table, "gram_df", Seq("dg"))
      .as[(String, Long, Long, Long, Long, Long, Boolean)].head()
    assert(audit._2 == audit._3 && audit._4 == 0L && audit._6 == 1L && audit._7)
    val strippedAfter = TextOps.incrementalSpanDedupStrip(spark.table(table),
        delta, "doc_id", "text", k = 4, minDocs = 2)
      .orderBy("doc_id").collect().toSeq
    assert(strippedBefore.nonEmpty && strippedAfter === strippedBefore)
    dropTable(table)
  }
}
