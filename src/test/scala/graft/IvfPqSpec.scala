package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Pq

/** IVF-PQ (q128 family): the long-array (already-e6) encode kernel
  * differential, the persisted inverted-file layout's partition
  * pruning, the encoded≡persisted probe differential, and recall of
  * the exact top-1 under a 2-of-4-cell probe.
  */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def corpus = graft.engine.Tables.embeddings(spark, sf)
    .filter($"vec_id" =!= 0)
  private def query = graft.engine.Tables.embeddings(spark, sf)
    .filter($"vec_id" === 0)

  test("pq_encode on already-e6 long arrays matches the HOF form in both modes") {
    val idx = Pq.trainIvfPq(corpus, ncells = 4, m = 8, ksub = 16)
    val resid = Pq.residualsE6(corpus, idx.coarse)
    def check(): Unit = {
      val diff = resid.select(
        VectorFunctions.pqEncode($"resid", idx.residual.flatE6.toSeq,
          idx.residual.m, idx.residual.ksub).as("nk"),
        VectorFunctions.pqEncodeHof($"resid", idx.residual.flatE6.toSeq,
          idx.residual.m, idx.residual.ksub, alreadyE6 = true).as("hk"))
        .filter($"nk" =!= $"hk")
      assert(diff.count() === 0)
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

  test("persisted inverted-file probe: partition-pruned scan, identical to the in-memory probe") {
    val idx = Pq.trainIvfPq(corpus, ncells = 4, m = 8, ksub = 16)
    val qe6 = Pq.queryWeightsE6(query)
    val path = tmpDir("ivfpq_index")
    Pq.writeIvfPqIndex(corpus, idx, path)
    // one directory per cell on disk
    val cellDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.size === 4, s"expected 4 cell partitions, got $cellDirs")

    val fromDisk = Pq.ivfPqTopKFromEncoded(
      spark.read.parquet(path), idx, qe6, k = 20, nprobe = 2)
    val inMem = Pq.ivfPqTopKFromEncoded(
      Pq.encodeIvfPq(corpus, idx), idx, qe6, k = 20, nprobe = 2)
    val a = fromDisk.orderBy("vec_id").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = inMem.orderBy("vec_id").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.nonEmpty && a === b)

    // the cell IN (...) filter must reach the scan as a PARTITION
    // filter: only nprobe of ncells partitions are read — the
    // inverted-list property that makes the probe corpus-fraction,
    // not corpus-sized, at 100 TB. collect() on THIS df so its own
    // queryExecution carries the scan metrics.
    fromDisk.collect()
    val plan = fromDisk.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collectLeaves().collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"expected a file scan in:\n$plan")
    val pf = scans.head.partitionFilters
    assert(pf.nonEmpty && pf.mkString.contains("cell"),
      s"cell filter must be a partition filter, plan:\n$plan")
    // executed-scan metrics: exactly the probed cells' files are read
    val probed = Pq.probedCells(idx, qe6, 2).toSet
    def filesUnder(cells: Set[Int]): Int = cells.toSeq.map { c =>
      new java.io.File(path, s"cell=$c").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    }.sum
    val readFiles = scans.head.metrics("numFiles").value
    assert(readFiles === filesUnder(probed).toLong,
      s"scan must read exactly the probed cells' files ($probed), read $readFiles of ${filesUnder(Set(0, 1, 2, 3))}")
    assert(filesUnder(Set(0, 1, 2, 3)) > filesUnder(probed),
      "pruning must exclude at least one cell's files")
  }

  test("pq_encode_err matches the HOF form in both modes, on floats and e6 longs") {
    val idx = Pq.trainIvfPq(corpus, ncells = 4, m = 8, ksub = 16)
    val resid = Pq.residualsE6(corpus, idx.coarse)
    def check(): Unit = {
      val diffLong = resid.select(
        VectorFunctions.pqEncodeErr($"resid", idx.residual.flatE6.toSeq, 8, 16).as("nk"),
        VectorFunctions.pqEncodeErrHof($"resid", idx.residual.flatE6.toSeq, 8, 16,
          alreadyE6 = true).as("hk"))
        .filter($"nk" =!= $"hk")
      assert(diffLong.count() === 0)
      val cb = Pq.trainCodebookE6(corpus, m = 8, ksub = 16)
      val diffFloat = corpus.select(
        VectorFunctions.pqEncodeErr($"embedding", cb.flatE6.toSeq, 8, 16).as("nk"),
        VectorFunctions.pqEncodeErrHof($"embedding", cb.flatE6.toSeq, 8, 16).as("hk"))
        .filter($"nk" =!= $"hk")
      assert(diffFloat.count() === 0)
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

  test("drift-triggered retrain: calm cells byte-identical, probe still pruned, planted drift improves") {
    val cat = corpus.filter($"vec_id" % 10 =!= 9)
    val del = corpus.filter($"vec_id" % 10 === 9)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double") + lit(10.0)).as("embedding"))
    val idx = Pq.trainIvfPq(cat, ncells = 4, m = 8, ksub = 16)
    val union = cat.select($"vec_id", $"embedding").unionByName(del)
    val path = tmpDir("ivfpq_retrain")
    Pq.writeIvfPqIndex(union, idx, path)

    def cellBytes(c: Int): Map[String, String] = {
      val d = new java.io.File(path, s"cell=$c")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val before = (0 until 4).map(c => c -> cellBytes(c)).toMap

    val rt = Pq.retrainDrifted(cat, del, idx)
    // the +10 plant lands the delta in FEW cells: some drift, some stay calm
    assert(rt.drifted.nonEmpty && rt.drifted.size < 4, s"drifted: ${rt.drifted}")
    Pq.rewriteDriftedCells(union, rt, path)
    for (c <- 0 until 4) {
      if (rt.drifted.contains(c))
        assert(cellBytes(c) != before(c), s"drifted cell $c must re-encode")
      else
        assert(cellBytes(c) == before(c),
          s"calm cell $c must be BYTE-IDENTICAL across the retrain")
    }

    // the retrain contract: planted drift improves strictly
    val audit = Pq.retrainAudit(cat, del, idx)
      .as[(Long, Long, Long, Boolean, Long, Long, Boolean)].collect().toSeq
    assert(audit.forall(_._7), s"every cell must report improved: $audit")
    audit.filter(_._4).foreach { r =>
      assert(r._6 < r._5, s"drifted cell ${r._1} must improve strictly: $r")
    }
    audit.filterNot(_._4).foreach { r =>
      assert(r._6 == r._5, s"calm cell ${r._1} post == pre: $r")
    }

    // probe over the rewritten index: still partition-pruned, and
    // identical to the in-memory versioned encode
    val qe6 = Pq.queryWeightsE6(query)
    val fromDisk = Pq.ivfPqTopKRetrained(
      spark.read.parquet(path), rt, qe6, k = 10, nprobe = 2)
    val inMemEnc = Pq.encodeIvfPq(union, idx)
      .filter(!$"cell".isin(rt.drifted.map(Integer.valueOf): _*))
      .unionByName(
        Pq.residualsE6(union, idx.coarse)
          .filter($"cell".isin(rt.drifted.map(Integer.valueOf): _*))
          .select($"vec_id", $"cell",
            graft.functions.VectorFunctions.pqEncode($"resid",
              rt.residualV2.flatE6.toSeq, rt.residualV2.m, rt.residualV2.ksub)
              .as("codes")))
    val inMem = Pq.ivfPqTopKRetrained(inMemEnc, rt, qe6, k = 10, nprobe = 2)
    val a = fromDisk.collect().toSeq.map(r => (r.getLong(0), r.getLong(2)))
    val b = inMem.collect().toSeq.map(r => (r.getLong(0), r.getLong(2)))
    assert(a.nonEmpty && a === b)
    val plan = fromDisk.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case p => p
    }
    val scans = plan.collectLeaves().collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.head.partitionFilters.mkString.contains("cell"),
      s"retrained probe must stay partition-pruned:\n$plan")
  }

  test("2-of-4 probe finds the planted exact neighbor and beats cell-blind chance") {
    // plant an exact copy of the query vector in the corpus: its cell
    // is the query's best cell, so any nprobe >= 1 probe must rank it
    // first (max possible reconstructed inner product in its cell)
    val planted = query.select(lit(900001L).as("vec_id"), col("embedding"))
    val c = corpus.select(col("vec_id"), col("embedding")).unionByName(planted)
    val top = Pq.ivfPqTopK(c, query, k = 5, ncells = 4, nprobe = 2,
      m = 8, ksub = 16)
    val ids = top.select("vec_id").as[Long].collect().toSeq
    assert(ids.head === 900001L,
      s"planted copy of the query must rank first, got $ids")
  }

  test("filtered ANN: metadata gate pushes into the pruned index scan and respects the predicate") {
    // plant TWO copies of the query: one admissible (label 1), one
    // inadmissible (label 0). The filtered probe must rank the
    // admissible plant first and never return a label-0 row — the
    // pre-filter contract (a post-filter would also drop rows but
    // under-fill k; the planted label-0 copy would have WON unfiltered,
    // so its absence proves the gate ran before top-k).
    val plants = query.select(lit(900001L).as("vec_id"), lit(1L).as("label"), col("embedding"))
      .unionByName(query.select(lit(900002L).as("vec_id"), lit(0L).as("label"), col("embedding")))
    val c = corpus.select(col("vec_id"), col("label").cast("long").as("label"),
      col("embedding")).unionByName(plants)
    val idx = Pq.trainIvfPq(c, ncells = 4, m = 8, ksub = 16)
    val qe6 = Pq.queryWeightsE6(query)
    val path = tmpDir("ivfpq_filtered")
    Pq.writeIvfPqIndex(c, idx, path, extraCols = Seq("label"))
    val fromDisk = Pq.ivfPqTopKFiltered(spark.read.parquet(path), idx, qe6,
      k = 5, nprobe = 2, pred = col("label") % 2 === 1)
    val rows = fromDisk.collect().toSeq.map(r => r.getLong(0))
    assert(rows.head === 900001L && !rows.contains(900002L),
      s"admissible plant first, inadmissible absent: $rows")
    // identical to brute-force filtered ADC over the probed cells
    val brute = Pq.ivfPqTopKFiltered(
      Pq.encodeIvfPq(c, idx, extraCols = Seq("label")), idx, qe6,
      k = 5, nprobe = 2, pred = col("label") % 2 === 1)
      .collect().toSeq.map(_.getLong(0))
    assert(rows === brute)
    // plan shape: cell IN (...) is a PARTITION filter, the label gate a
    // PUSHED data filter — both reach the scan
    val plan = fromDisk.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collectLeaves().collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"expected a file scan in:\n$plan")
    assert(scans.head.partitionFilters.mkString.contains("cell"),
      s"cell must partition-filter, plan:\n$plan")
    assert(scans.head.metadata.getOrElse("PushedFilters", "").contains("label"),
      s"label gate must push into the scan, got ${scans.head.metadata.get("PushedFilters")}")
  }
}
